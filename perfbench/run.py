"""Benchmark of the battetl_spark engine: three closed-loop workloads on
``local[<nproc>]``, one client, one Python process.

    python3 perfbench/run.py --workload cdc_stream_cow --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

Workloads: ``cdc_stream_cow``, ``cdc_mor_read_mix``, ``incremental_clean``
(see ``workloads.py``); ``all`` runs the three in one session and also
checks that the two CDC workloads end in the same state.

Every metric is printed as ``metric <workload> <name> <value> <unit>``.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
wraps the engine's layer functions (``tracing.py``) for its timed loop,
then sets up fresh state and runs the loop again untraced; it reports the
tracing overhead as the ratio of the two loops' median batch times, and
writes its spans to ``.bench_out/``.

All files the run makes live under ``.bench_work/`` and ``.bench_out/`` at
the root of the checkout; the package is imported from that root, and the
Spark Python workers get it on their import path too.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))

# end-to-end metrics (every workload): name -> unit
END_TO_END = {
    "setup_s": "s",
    "ingest_per_s": "1/s",
    "batch_p50_s": "s",
}
# per-layer metrics measured on every workload: name -> unit
PER_LAYER = {
    "cdc.merge_apply.self_s": "s",
    "cdc.merge_apply.jobs": "count",
    "cdc.merge_apply.rebases": "count",
    "lake.replace_buckets.s": "s",
    "lake.replace_buckets.jobs": "count",
    "lake.scan.s": "s",
    "lake.scan.calls": "count",
    "lake.evolve_schema.s": "s",
    "lake.files_per_bucket_max": "count",
    "lake.bytes_written_per_event_byte": "ratio",
    "lake.metadata_bytes": "bytes",
    "spark.jobs_per_batch": "count",
    "trace.overhead_frac": "ratio",
    "trace.bookkeeping_frac": "ratio",
}
# further per-layer metrics, printed for the workloads that exercise them
WORKLOAD_LAYERS = {
    "cdc_stream_cow": {
        "cdc.merge_apply.changed_per_event": "ratio",
        "streaming.batch.self_s": "s",
        "streaming.batch.jobs": "count",
        "streaming.gap_s": "s",
    },
    "cdc_mor_read_mix": {
        "cdc.merge_apply.changed_per_event": "ratio",
        "lake.compact.s": "s",
        "lake.compact.jobs": "count",
        "lake.compact.calls": "count",
        "lake.delta_files_max": "count",
        "lake.append_delta_buckets.s": "s",
        "lake.append_delta_buckets.jobs": "count",
    },
    "incremental_clean": {
        "analytics.cleaner.add_batch.self_s": "s",
        "analytics.cleaner.add_batch.jobs": "count",
        "analytics.minhash_index.ensure_indexed.s": "s",
        "analytics.minhash_index.ensure_indexed.jobs": "count",
        "analytics.minhash_index.pairs_involving.s": "s",
        "analytics.minhash_index.pairs_involving.jobs": "count",
        "lake.append.s": "s",
        "lake.append.jobs": "count",
        "analytics.cleaner.kept_per_seen": "ratio",
    },
}


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count); NaN while that percentile would
    not reach the median (fewer than twenty samples)."""
    xs = sorted(xs)
    n = len(xs)
    if n < 20:
        return float("nan"), float("nan"), n
    k = n - 11  # ten samples lie above xs[k]
    return xs[k], 100.0 * (k + 1) / n, n


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024


def start_spark(work: str):
    """The engine's session on every core of this host, with every file
    Spark and its workers write kept under ``work``."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers (e.g. the zone-map harvest in LakeTable commits)
    # import battetl_spark: give them the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from battetl_spark import get_spark

    cpus = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its workers, and wait for them."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def host_record(spark, cpus: int) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    keep = ("spark.master", "spark.driver.memory", "spark.sql.")
    return {
        "nproc": cpus,
        "spark": spark.version,
        "python": sys.version.split()[0],
        "conf": {k: v for k, v in sorted(conf.items())
                 if k.startswith(keep) and "dir" not in k},
    }


def run_workload(spark, wl_cls, work: str, seed: int, seconds: int,
                 trace: bool, session_s: float, log=None):
    """Make the inputs, set up, run the timed loop and check its state.
    With ``trace`` that loop is traced, and afterwards the workload is set
    up again and the loop run untraced, for the overhead comparison.
    Returns the workload, the first loop's stats (holding every op of the
    run) and, when traced, the untraced loop's stats and the tracer."""
    from workloads import Stats

    t0 = time.perf_counter()
    wl = wl_cls(spark, work, seed, seconds, log=log)
    inputs_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.setup("first")
    setup_s = time.perf_counter() - t0
    stats, plain, tracer = Stats(), None, None
    if trace:
        from tracing import Tracer, install_layers

        tracer = Tracer(spark.sparkContext)
        install_layers(tracer)
        try:
            wl.run(stats, tracer)
        finally:
            tracer.uninstall()
        wl.setup("plain")
        plain = Stats()
        wl.run(plain)
        stats.add_ops(plain)
    else:
        wl.run(stats)
    t0 = time.perf_counter()
    wl.check(stats)
    stats.extra["check_s"] = time.perf_counter() - t0
    stats.extra["inputs_s"] = inputs_s
    stats.extra["setup_only_s"] = setup_s
    stats.extra["setup_s"] = session_s + setup_s
    return wl, stats, plain, tracer


def end_to_end(wl, stats, jvm_pid) -> dict:
    """Every end-to-end metric of a workload: name -> (value, unit)."""
    from workloads import median

    rate = stats.items / stats.loop_s if stats.loop_s else 0.0
    out = {
        "setup_s": (stats.extra["setup_s"], "s"),
        "ingest_per_s": (rate, "1/s"),
        f"{wl.item}_per_s": (rate, "1/s"),
        "batch_p50_s": (median(stats.batch_s), "s"),
        "batches": (len(stats.batch_s), "count"),
        "failed_ops_frac": (stats.failed / max(stats.attempted, 1), "ratio"),
        "peak_rss_mb": (peak_rss_mb(jvm_pid), "MB"),
        "inputs_s": (stats.extra["inputs_s"], "s"),
        "setup_only_s": (stats.extra["setup_only_s"], "s"),
        "loop_s": (stats.loop_s, "s"),
        "check_s": (stats.extra["check_s"], "s"),
    }
    if stats.read_s:
        t, pct, n = tail(stats.read_s)
        out.update({
            "read_p50_s": (median(stats.read_s), "s"),
            "read_tail_s": (t, "s"),
            "read_tail_pct": (pct, "%"),
            "reads": (n, "count"),
        })
    if wl.name != "cdc_stream_cow":
        out["compact_s"] = (stats.compact_s, "s")
    return out


def per_layer(wl, stats, plain, tracer) -> dict:
    """Every per-layer metric of a traced workload: name -> (value, unit).
    ``stats`` is the traced loop's, ``plain`` the untraced loop's."""
    from tracing import check_self_times, layer_metrics

    tracer.count_jobs()
    spans = tracer.spans
    for err in check_self_times(spans, wl.top_span):
        stats.op(False, err)
    m, n = layer_metrics(spans, wl.top_span)
    n = max(n, 1)
    merges = [s for s in spans if s["name"] == "cdc.merge_apply"]
    ev = stats.extra
    m.update({
        "cdc.merge_apply.rebases": sum(s.get("rebases", 0) for s in merges) / n,
        "cdc.merge_apply.changed_per_event":
            sum(s.get("changed", 0) for s in merges) / max(stats.items, 1),
        "lake.files_per_bucket_max": ev["files_per_bucket_max"],
        "lake.delta_files_max": ev["delta_files_max"],
        "lake.bytes_written_per_event_byte": ev["data_bytes"] / ev["in_bytes"],
        "lake.metadata_bytes": ev["metadata_bytes"] / max(len(stats.batch_s), 1),
        "analytics.cleaner.kept_per_seen": ev.get("kept_per_seen", 0.0),
    })
    cycles = sorted(tracer.cycles)
    gaps = [b[1] - a[2] for a, b in zip(cycles, cycles[1:])]
    m["streaming.gap_s"] = statistics.mean(gaps) if gaps else 0.0
    m["trace.overhead_frac"] = (
        statistics.median(stats.batch_s) / statistics.median(plain.batch_s)
        - 1.0 if stats.batch_s and plain.batch_s else float("nan"))
    traced_s = sum(end - start for _, start, end in cycles)
    m["trace.bookkeeping_frac"] = (tracer.bookkeeping_s / traced_s
                                   if traced_s else float("nan"))
    units = dict(PER_LAYER, **WORKLOAD_LAYERS[wl.name])
    return {k: (m.get(k, 0.0), u) for k, u in units.items()}


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "battetl_spark", "__init__.py")):
        print(f"perfbench: no battetl_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    names = (list(workloads.WORKLOADS) if args.workload == "all"
             else [args.workload])
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".bench_work"))
    results, correct, attempted, failed = {}, True, 0, 0
    spark = None
    t_start = time.perf_counter()
    try:
        t0 = time.perf_counter()
        spark, cpus = start_spark(work)
        spark.range(1000).count()
        session_s = time.perf_counter() - t0
        print("host " + json.dumps(host_record(spark, cpus)), flush=True)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        jvm_pid = jvm.pid if jvm is not None else None
        cow_log = None
        for name in names:
            log = cow_log if name == "cdc_mor_read_mix" else None
            wl, stats, plain, tracer = run_workload(
                spark, workloads.WORKLOADS[name], work, args.seed,
                args.seconds, bool(args.trace), session_s, log)
            if name == "cdc_stream_cow":
                cow_log = (wl.files, wl.warm_file)
                cow_state = stats.extra["final_state"]
            if name == "cdc_mor_read_mix" and log is not None:
                same = stats.extra["final_state"] == cow_state
                stats.op(same, f"MOR final state {stats.extra['final_state']}"
                         f" != CoW final state {cow_state}")
                print(f"check {name} same_final_state_as_cow {same}")
            metrics = end_to_end(wl, stats, jvm_pid)
            metrics["session_start_s"] = (session_s, "s")
            if tracer is not None:
                metrics.update(per_layer(wl, stats, plain, tracer))
                os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
                path = os.path.join(ROOT, ".bench_out",
                                    f"trace_{name}_seed{args.seed}.jsonl")
                tracer.write(path)
                print(f"trace {name} {os.path.relpath(path, ROOT)}")
            for k, (v, u) in metrics.items():
                print(f"metric {name} {k} {v:.6g} {u}")
            print(f"batches {name} " + " ".join(f"{b:.3f}" for b in stats.batch_s))
            for err in stats.errors[:20]:
                print(f"error {name} {err}")
            results[name] = metrics
            correct &= stats.failed == 0
            attempted += stats.attempted
            failed += stats.failed
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"wall {time.perf_counter() - t_start:.1f} s")

    wanted = PER_LAYER if args.trace else END_TO_END
    if len(names) == 1:
        out = {k: results[names[0]][k] for k in wanted}
    else:
        out = {f"{n}.{k}": results[n][k] for n in names for k in wanted}
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
