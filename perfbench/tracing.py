"""Span tracer for the traced benchmark run.

The engine carries no instrumentation of its own, so every layer is
measured from outside: ``install_layers`` replaces public functions and
methods of the layer modules with wrappers, under every module attribute
a caller looks the function up by (``merge_apply`` is imported by name
into ``streaming.pipeline`` and ``analytics.clean_stream``, so those
attributes are patched too). Each wrapped call records one span (name,
start, end, parent span, batch id) and runs under its own Spark job group,
so ``StatusTracker.getJobIdsForGroup`` counts the jobs it launched itself
(jobs of a nested wrapped call belong to the nested span's group; the
aggregates add them back up the tree).

Spans are kept in memory and written out by ``write`` when the run ends.
Wrappers are installed only around the traced loop; untraced runs never
construct a tracer, so they install none.
"""

from __future__ import annotations

import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_IDS = itertools.count()  # span ids, unique across tracers of one process
_PROPS = ("spark.jobGroup.id", "spark.job.description",
          "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.bookkeeping_s = 0.0  # time spent in span entry and exit
        self.spans: list[dict] = []
        # every cycle: (batch, start, end)
        self.cycles: list[tuple[int, float, float]] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- wrappers
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _call(self, name, fn, args, kwargs):
        with self.span(name) as span:
            out = fn(*args, **kwargs)
            if hasattr(out, "rows_inserted"):  # a MergeResult
                span["changed"] = (out.rows_inserted + out.rows_updated
                                   + out.rows_deleted)
                span["rebases"] = out.rebases
            return out

    @contextmanager
    def span(self, name: str, batch=None):
        """Record one span; its Spark jobs run under a job group of its own
        (the caller's group is restored afterwards)."""
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(_IDS)
        rec = {
            "name": name, "id": sid,
            "parent": parent["id"] if parent else None,
            "batch": batch if batch is not None or parent is None
            else parent["batch"],
            "group": f"perfbench-span-{sid}",
        }
        saved = [self.sc.getLocalProperty(p) for p in _PROPS]
        for p, v in zip(_PROPS, (rec["group"], name, "false")):
            self.sc.setLocalProperty(p, v)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t_in
        try:
            yield rec
        except BaseException as e:
            rec["error"] = repr(e)
            raise
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            for p, v in zip(_PROPS, saved):
                self.sc.setLocalProperty(p, v)
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    @contextmanager
    def cycle(self, name: str, batch: int):
        """One closed-loop batch, traced under a top-level span ``name``."""
        t0 = time.perf_counter()
        try:
            with self.span(name, batch):
                yield
        finally:
            self.cycles.append((batch, t0, time.perf_counter()))

    def wrap_function(self, name: str, module_prefix: str, attr: str, fn):
        """Replace ``fn`` under every ``module_prefix*`` module attribute
        ``attr`` that currently holds it."""
        tracer = self

        def wrapper(*args, **kwargs):
            return tracer._call(name, fn, args, kwargs)

        wrapper.__wrapped__ = fn
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(module_prefix) and getattr(mod, attr, None) is fn:
                self._patch(mod, attr, wrapper)

    def wrap_method(self, name: str, cls: type, attr: str, cycle_arg=None):
        """Replace method ``cls.attr``. With ``cycle_arg`` (the positional
        index of the batch id) each call is a whole ``cycle``."""
        fn = cls.__dict__[attr]
        tracer = self

        def wrapper(*args, **kwargs):
            if cycle_arg is None:
                return tracer._call(name, fn, args, kwargs)
            with tracer.cycle(name, int(args[cycle_arg])):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        self._patch(cls, attr, wrapper)

    def _patch(self, owner, attr, new):
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -------------------------------------------------------------- results
    def count_jobs(self) -> None:
        """Attach the job count of each span's group (after the listener
        bus has delivered every job-start event)."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:  # private API moved: give the bus a moment
            time.sleep(2.0)
        st = self.sc.statusTracker()
        for s in self.spans:
            s["jobs"] = len(st.getJobIdsForGroup(s["group"]))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


# ------------------------------------------------------------ aggregation
def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the summed durations of its child spans.
    Negative when children overlap each other or outlast their parent."""
    kids = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - kids[s["id"]] for s in spans}


def check_self_times(spans: list[dict], top: str) -> list[str]:
    """For every ``top`` span: each span of its subtree must hold its child
    spans inside its own interval, one after another without overlap. That
    is what makes the self times of the subtree, each at least zero, sum
    to exactly the ``top`` span's wall time; a child that escaped its
    parent or ran beside a sibling would be counted twice."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)

    def bad(s) -> str | None:
        hi = s["start"]
        for k in sorted(kids[s["id"]], key=lambda k: k["start"]):
            if k["start"] < hi or k["end"] > s["end"]:
                return (f"{k['name']} [{k['start']:.6f}, {k['end']:.6f}] "
                        f"overlaps a sibling or leaves {s['name']}")
            hi = k["end"]
            err = bad(k)
            if err:
                return err
        return None

    errors = []
    for s in spans:
        if s["name"] == top:
            err = bad(s)
            if err:
                errors.append(f"{top} batch {s['batch']}: {err}")
    return errors


def layer_metrics(spans: list[dict], top: str) -> tuple[dict, int]:
    """Per-layer totals divided by the number of traced ``top`` spans
    (batches): ``<name>.s`` (wall), ``.self_s``, ``.jobs`` (jobs of the
    span and its descendants), ``.calls``; plus ``spark.jobs_per_batch``
    over every span."""
    n = sum(1 for s in spans if s["name"] == top)
    if n == 0:
        return {}, 0
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    jobs = defaultdict(int)  # span id -> jobs of its subtree
    for s in spans:
        sid = s["id"]
        while sid is not None:
            jobs[sid] += s.get("jobs", 0)
            sid = by_id[sid]["parent"] if sid in by_id else None
    acc = defaultdict(lambda: [0.0, 0.0, 0, 0])
    for s in spans:
        a = acc[s["name"]]
        a[0] += s["end"] - s["start"]
        a[1] += selfs[s["id"]]
        a[2] += jobs[s["id"]]
        a[3] += 1
    out = {}
    for name, (wall, self_s, jobs, calls) in acc.items():
        out[f"{name}.s"] = wall / n
        out[f"{name}.self_s"] = self_s / n
        out[f"{name}.jobs"] = jobs / n
        out[f"{name}.calls"] = calls / n
    out["spark.jobs_per_batch"] = sum(s.get("jobs", 0) for s in spans) / n
    return out, n


def install_layers(tracer: Tracer) -> None:
    """Wrap the public functions of each measured layer: ``streaming``
    (one ``CdcStream`` microbatch is a whole traced cycle), ``cdc``,
    ``lake`` and ``analytics``."""
    from battetl_spark.analytics.clean_stream import IncrementalCorpusCleaner
    from battetl_spark.analytics.sig_index import MinHashIndex
    from battetl_spark.cdc import merge
    from battetl_spark.lake.table import LakeTable
    from battetl_spark.streaming.pipeline import CdcStream

    tracer.wrap_method("streaming.batch", CdcStream, "_apply", cycle_arg=2)
    tracer.wrap_function("cdc.merge_apply", "battetl_spark", "merge_apply",
                         merge.merge_apply)
    for attr in ("scan", "replace_buckets", "append_delta_buckets", "append",
                 "compact", "compact_fences", "evolve_schema"):
        tracer.wrap_method(f"lake.{attr}", LakeTable, attr)
    tracer.wrap_method("analytics.cleaner.add_batch",
                       IncrementalCorpusCleaner, "add_batch")
    for attr in ("ensure_indexed", "pairs_involving"):
        tracer.wrap_method(f"analytics.minhash_index.{attr}", MinHashIndex, attr)
