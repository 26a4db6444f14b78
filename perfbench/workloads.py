"""The three closed-loop workloads: one client, each batch issued after the
previous commit returns.

Each workload makes its inputs from the seed (untimed, before the timed
phase). ``setup`` makes fresh state and runs the warm-up pass on it: the
first, smaller batch of the input through the same code path, which the
timed loop then continues. ``run`` is the timed loop and ``check`` compares
the final state with an independent reference. The batch count scales with
``--seconds``: ``BATCH_S`` is the nominal batch cost on a 4-core host, so
the timed phase takes about ``--seconds`` there (at least two batches)
while every run of a seed does identical work.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import statistics
import time
from contextlib import nullcontext

import numpy as np
from pyspark.sql import functions as F

from battetl_spark import cdc, fixtures
from battetl_spark.analytics import IncrementalCorpusCleaner
from battetl_spark.analytics.textops import clean_corpus
from battetl_spark.lake import LakeTable
from battetl_spark.schemas import (
    CHANGE_EVENT_SCHEMA,
    KEY_COLS,
    LINEAGE_SCHEMA,
    TRANSCRIPT_TABLE_SCHEMA,
)
from battetl_spark.streaming import CdcStream, read_change_event_stream

NUM_BUCKETS = 16
N_CONVS = 10_000
HASH_COLS = ("conv_id", "turn_idx", "text", "_last_lsn")
# CdcStream's production maintenance defaults, mirrored by the MOR loop
AUTO_COMPACT_FILES = 16
COMPACT_FENCES_EVERY = 64
# events per change-log segment (one microbatch): the segment size of the
# sizing probe (1M events in 8 segments, ~4.1 s per CoW batch at 4 cores)
SEGMENT_EVENTS = 125_000
# warm-up batches: the same code path as a timed batch, on less data
WARM_EVENTS = 20_000
WARM_DOCS = 100


class Stats:
    """What one timed loop measured and checked."""

    def __init__(self):
        self.batch_s: list[float] = []  # one per batch
        self.read_s: list[float] = []  # MOR reads
        self.compact_s = 0.0
        self.items = 0  # change events or documents fed in
        self.loop_s = 0.0  # wall time of the whole timed loop
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.extra: dict = {}  # per-layer numbers that are not spans

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def add_ops(self, other: "Stats") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.errors += other.errors


def n_batches(seconds: int, batch_s: float, least: int = 2) -> int:
    return max(least, round(seconds / batch_s))


def _digest(df):
    """(row count, order-independent hash) of a table state."""
    h = F.xxhash64(*HASH_COLS).cast("decimal(20,0)")
    r = df.agg(F.count("*").alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), str(r["h"] or 0)


def lww_reference(events):
    """Independent one-shot last-writer-wins over a whole change log."""
    w = events.groupBy(*KEY_COLS).agg(
        F.max_by(F.struct("op", "text", "lsn"), "lsn").alias("w")
    )
    return w.filter(F.col("w.op") != "d").select(
        *KEY_COLS, F.col("w.text").alias("text"),
        F.col("w.lsn").alias("_last_lsn"),
    )


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(p))


def table_health(spark, path: str) -> dict:
    """Max data files and max MOR delta files in any bucket over every
    retained snapshot, and the bytes of data and metadata on disk."""
    t = LakeTable.load(spark, path)
    files_max = delta_max = 0
    metas = glob.glob(os.path.join(path, "metadata", "v*.json"))
    for v in sorted(int(os.path.basename(p)[1:-5]) for p in metas):
        for entries in t.snapshot_at(v)["files"].values():
            files_max = max(files_max, len(entries))
            delta_max = max(delta_max, sum(1 for e in entries if e.get("delta")))
    return {
        "files_per_bucket_max": files_max,
        "delta_files_max": delta_max,
        "data_bytes": _dir_bytes(os.path.join(path, "data")),
        "metadata_bytes": _dir_bytes(os.path.join(path, "metadata")),
    }


# ------------------------------------------------------------- change logs
def write_log(spark, path: str, seed: int, segments: int):
    """Publish a hot-key-skewed change log (alpha=3, 70/25/5 i/u/d): one
    ``WARM_EVENTS`` warm-up segment (lsns 1..WARM_EVENTS) in ``warm/``,
    then ``segments`` lsn-contiguous ``SEGMENT_EVENTS`` segments in
    ``log/``, one parquet file each, their modification times in lsn order
    so a file-source stream reads them in order. One Spark job.
    Returns (segment files, warm-up segment file)."""
    tmp = os.path.join(path, "tmp")
    seg = F.when(F.col("lsn") <= WARM_EVENTS, 0).otherwise(
        ((F.col("lsn") - WARM_EVENTS - 1) / SEGMENT_EVENTS).cast("int") + 1)
    ev = fixtures.spark_change_events(
        spark, WARM_EVENTS + segments * SEGMENT_EVENTS, n_convs=N_CONVS,
        seed=seed, skew_alpha=3.0,
    ).withColumn("__seg", seg)
    (ev.repartition(segments + 1, "__seg").write.partitionBy("__seg")
     .parquet(tmp))
    files, t0 = [], time.time() - segments - 10
    for i in range(segments + 1):
        (src,) = glob.glob(os.path.join(tmp, f"__seg={i}", "*.parquet"))
        sub = "warm" if i == 0 else "log"
        os.makedirs(os.path.join(path, sub), exist_ok=True)
        dst = os.path.join(path, sub, f"seg-{i:06d}.parquet")
        os.rename(src, dst)
        os.utime(dst, (t0 + i, t0 + i))
        files.append(dst)
    shutil.rmtree(tmp)
    return files[1:], files[0]


def read_log(spark, files):
    return spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(*files)


def _new_table(spark, path: str) -> LakeTable:
    return LakeTable.create(spark, path, TRANSCRIPT_TABLE_SCHEMA,
                            num_buckets=NUM_BUCKETS, bucket_key="conv_id",
                            key_cols=KEY_COLS)


def _fenced_max_lsn(table: LakeTable):
    return max((f["max_lsn"] for f in table.fences().values()), default=None)


# ------------------------------------------------------------ workloads
class CdcStreamCow:
    """CdcStream over a published segment log, one segment per microbatch,
    in its production defaults: fused CoW merge, lineage on, a metrics
    feed, auto-compaction and fence compaction. The warm-up pass drains
    the warm-up segment; the timed loop publishes the log into the same
    source directory and resumes the stream from its checkpoint."""

    name = "cdc_stream_cow"
    top_span = "streaming.batch"
    item = "events"
    BATCH_S = 6.0

    def __init__(self, spark, work: str, seed: int, seconds: int, log=None):
        self.spark, self.work = spark, work
        self.files, self.warm_file = log or write_log(
            spark, os.path.join(work, "log"), seed,
            n_batches(seconds, self.BATCH_S))

    def _stream(self):
        stream = CdcStream(self.table, os.path.join(self.root, "checkpoint"),
                           metrics_dir=os.path.join(self.root, "metrics"))
        q = stream.start(read_change_event_stream(self.spark, self.src, 1))
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def _publish(self, path: str) -> None:
        # a hard link keeps the segment's modification time (its order)
        os.link(path, os.path.join(self.src, os.path.basename(path)))

    def setup(self, tag: str) -> None:
        self.root = os.path.join(self.work, f"cow-{tag}")
        self.src = os.path.join(self.root, "src")
        os.makedirs(self.src)
        self.table = _new_table(self.spark, os.path.join(self.root, "table"))
        self._publish(self.warm_file)
        self._stream()

    def run(self, stats: Stats, tracer=None) -> None:
        for f in self.files:
            self._publish(f)
        t0 = time.perf_counter()
        try:
            q = self._stream()
        except Exception as e:  # the stream stops at the first failed batch
            stats.loop_s = time.perf_counter() - t0
            for _ in self.files:
                stats.op(False, f"stream failed: {e}")
            return
        stats.loop_s = time.perf_counter() - t0
        stats.items = len(self.files) * SEGMENT_EVENTS
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                stats.batch_s.append(p["durationMs"]["triggerExecution"] / 1000)
        for _ in range(len(stats.batch_s)):
            stats.op(True, "")
        if len(stats.batch_s) != len(self.files):
            stats.op(False, f"{len(stats.batch_s)} microbatches for "
                     f"{len(self.files)} segments")

    def check(self, stats: Stats) -> None:
        log = read_log(self.spark, [self.warm_file, *self.files])
        got = _digest(self.table.scan().select(*HASH_COLS))
        want = _digest(lww_reference(log))
        stats.extra["final_state"] = got
        stats.op(got == want, f"final state {got} != one-shot LWW {want}")

        feed = self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            os.path.join(self.root, "metrics"))
        per_epoch = {r["epoch_id"]: (r["n"], r["parts"]) for r in
                     feed.groupBy("epoch_id").agg(
                         F.count("*").alias("n"),
                         F.countDistinct("source_partition").alias("parts"))
                     .collect()}
        epochs = len(self.files) + 1  # the warm-up segment is epoch 0
        ok = (sorted(per_epoch) == list(range(epochs))
              and all(n == p for n, p in per_epoch.values()))
        stats.op(ok, f"metrics feed epochs/rows {per_epoch} do not hold "
                 f"lineage for epochs 0..{epochs - 1} exactly once")

        fenced = _fenced_max_lsn(self.table)
        log_max = log.agg(F.max("lsn")).first()[0]
        stats.op(fenced == log_max,
                 f"fenced max lsn {fenced} != log max lsn {log_max}")
        stats.extra.update(
            table_health(self.spark, self.table.path),
            in_bytes=sum(os.path.getsize(f)
                         for f in (self.warm_file, *self.files)))


class CdcMorReadMix:
    """The same kind of log applied with merge_apply(mode="mor"); after
    each batch a fixed seeded read set runs, then threshold compaction (and
    fence compaction) exactly as CdcStream schedules them. The warm-up
    batch is epoch 0 of the timed table, so with at least three timed
    batches the last one takes the busiest buckets to the compaction
    threshold."""

    name = "cdc_mor_read_mix"
    top_span = "bench.cycle"
    item = "events"
    BATCH_S = 18.0
    HOT, COLD, TS_WINDOW = 4, 4, 2_000

    def __init__(self, spark, work: str, seed: int, seconds: int, log=None):
        self.spark, self.work = spark, work
        self.files, self.warm_file = log or write_log(
            spark, os.path.join(work, "log"), seed,
            n_batches(seconds, self.BATCH_S, least=3))
        rng = np.random.default_rng(seed)
        hot = rng.choice(10, self.HOT, replace=False)
        cold = rng.choice(np.arange(N_CONVS // 2, N_CONVS), self.COLD,
                          replace=False)
        self.convs = [f"conv-{c:06d}" for c in (*hot, *cold)]
        n = WARM_EVENTS + len(self.files) * SEGMENT_EVENTS
        lo = int(rng.integers(1, max(2, n // 2)))
        self.lsn_range = (lo, lo + self.TS_WINDOW)
        self._reference_events()

    def _reference_events(self):
        """Every event the read set's reference state depends on, on the
        driver: the read conversations' events, plus the events of every
        key that has an event inside the ts window."""
        log = read_log(self.spark, [self.warm_file, *self.files])
        lo, hi = self.lsn_range
        keys = log.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi)) \
            .select(*KEY_COLS).distinct()
        sub = log.filter(F.col("conv_id").isin(self.convs)).unionByName(
            log.join(keys, KEY_COLS, "left_semi")).distinct()
        self.ref = sub.select("conv_id", "turn_idx", "op", "text", "lsn") \
            .toPandas().sort_values("lsn", kind="stable")

    def _ts(self, lsn: int):
        # spark_change_events stamps event lsn L with ts = 2026-01-01 + L-1 s
        return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=lsn - 1)

    def _reads(self, table: LakeTable, stats: Stats | None, max_lsn: int):
        """Run the read set, each read timed from scan() to the collected
        result and checked against the reference state at ``max_lsn``."""
        ref = self.ref[self.ref["lsn"] <= max_lsn]
        ref = ref.drop_duplicates(KEY_COLS, keep="last")
        ref = ref[ref["op"] != "d"]
        lo, hi = self.lsn_range
        for conv in self.convs:
            t0 = time.perf_counter()
            rows = (table.scan(filters=[("conv_id", "=", conv)])
                    .select("turn_idx", "text", "_last_lsn").collect())
            took = time.perf_counter() - t0
            if stats is None:
                continue
            stats.read_s.append(took)
            got = sorted((r[0], r[1], r[2]) for r in rows)
            exp = ref[ref["conv_id"] == conv]
            want = sorted(zip(exp["turn_idx"].astype(int), exp["text"],
                              exp["lsn"].astype(int)))
            stats.op(got == want, f"read {conv} at lsn {max_lsn}: "
                     f"{len(got)} rows != reference {len(want)} rows")
        t0 = time.perf_counter()
        r = (table.scan(filters=[("ts", ">=", self._ts(lo)),
                                 ("ts", "<", self._ts(hi))])
             .agg(F.count("*").alias("n"), F.max("_last_lsn").alias("m"))
             .first())
        took = time.perf_counter() - t0
        if stats is None:
            return
        stats.read_s.append(took)
        win = ref[(ref["lsn"] >= lo) & (ref["lsn"] < hi)]
        want = (len(win), int(win["lsn"].max()) if len(win) else None)
        got = (int(r["n"]), r["m"])
        stats.op(got == want, f"ts-range aggregate at lsn {max_lsn}: "
                 f"{got} != reference {want}")

    def _maintain(self, table: LakeTable, epoch: int) -> float:
        t0 = time.perf_counter()
        table.compact(min_files_per_bucket=AUTO_COMPACT_FILES)
        if epoch % COMPACT_FENCES_EVERY == 0:
            table.compact_fences()
        return time.perf_counter() - t0

    def _batch(self, table, epoch: int, path: str):
        events = self.spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(path)
        t0 = time.perf_counter()
        res = cdc.merge_apply(table, events, epoch_id=epoch, mode="mor")
        return res, time.perf_counter() - t0

    def setup(self, tag: str) -> None:
        self.table = _new_table(self.spark,
                                os.path.join(self.work, f"mor-{tag}"))
        self._batch(self.table, 0, self.warm_file)
        self._reads(self.table, None, WARM_EVENTS)
        self._maintain(self.table, 0)

    def run(self, stats: Stats, tracer=None) -> None:
        t_loop = time.perf_counter()
        for epoch, path in enumerate(self.files, start=1):
            max_lsn = WARM_EVENTS + epoch * SEGMENT_EVENTS
            with _cycle(tracer, self.top_span, epoch):
                try:
                    res, took = self._batch(self.table, epoch, path)
                    stats.batch_s.append(took)
                    stats.op(res.applied, f"batch {epoch} not applied")
                except Exception as e:
                    stats.op(False, f"batch {epoch}: {e!r}")
                    continue
                stats.items += SEGMENT_EVENTS
                try:
                    self._reads(self.table, stats, max_lsn)
                except Exception as e:
                    stats.op(False, f"reads after batch {epoch}: {e!r}")
                stats.compact_s += self._maintain(self.table, epoch)
        stats.loop_s = time.perf_counter() - t_loop

    def check(self, stats: Stats) -> None:
        got = _digest(self.table.scan().select(*HASH_COLS))
        want = _digest(lww_reference(
            read_log(self.spark, [self.warm_file, *self.files])))
        stats.extra["final_state"] = got
        stats.op(got == want, f"final state {got} != one-shot LWW {want}")
        fenced = _fenced_max_lsn(self.table)
        log_max = WARM_EVENTS + len(self.files) * SEGMENT_EVENTS
        stats.op(fenced == log_max,
                 f"fenced max lsn {fenced} != log max lsn {log_max}")
        stats.extra.update(
            table_health(self.spark, self.table.path),
            in_bytes=sum(os.path.getsize(f)
                         for f in (self.warm_file, *self.files)))


# ---------------------------------------------------------- documents
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (["en", "de", "es", "fr", "zh"], [0.41, 0.14, 0.15, 0.15, 0.15])


def make_documents(seed: int, n_docs: int):
    """A seeded document stream shaped like the sf0.1 ``documents`` table
    (10-100 words over its 30-word vocabulary, its language mix), with
    planted exact duplicates (1%) and near duplicates (5%: an earlier
    document with one word appended) of earlier documents."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, n_docs)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), lens.sum())]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    kind = rng.random(n_docs)
    src = rng.integers(0, np.maximum(np.arange(n_docs), 1))
    for i in range(1, n_docs):
        if kind[i] < 0.01:
            texts[i] = texts[src[i]]
        elif kind[i] < 0.06:
            texts[i] = texts[src[i]] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS[0], n_docs, p=LANGS[1]),
    })


class IncrementalClean:
    """IncrementalCorpusCleaner.add_batch over many small doc_id-ordered
    batches, with the cleaner's threshold compaction after each batch. The
    warm-up batch is the stream's first ``WARM_DOCS`` documents, epoch 0."""

    name = "incremental_clean"
    top_span = "bench.cycle"
    item = "docs"
    BATCH_ITEMS = 500  # documents per batch
    BATCH_S = 9.5

    def __init__(self, spark, work: str, seed: int, seconds: int, log=None):
        self.spark, self.work = spark, work
        n = n_batches(seconds, self.BATCH_S)
        docs = make_documents(seed, WARM_DOCS + n * self.BATCH_ITEMS)
        self.docs_path = os.path.join(work, "docs")
        self.warm_batch = self._stage(docs.iloc[:WARM_DOCS], "warm")
        self.batches = []
        for i in range(n):
            lo = WARM_DOCS + i * self.BATCH_ITEMS
            self.batches.append(self._stage(
                docs.iloc[lo:lo + self.BATCH_ITEMS], f"batch-{i:04d}"))

    def _stage(self, pdf, name: str) -> str:
        os.makedirs(self.docs_path, exist_ok=True)
        path = os.path.join(self.docs_path, f"{name}.parquet")
        pdf.reset_index(drop=True).to_parquet(path, index=False)
        return path

    def setup(self, tag: str) -> None:
        self.cl = IncrementalCorpusCleaner.create(
            self.spark, os.path.join(self.work, f"clean-{tag}"),
            min_quality=0.5, langs=("en", "de"), num_buckets=NUM_BUCKETS)
        self.cl.add_batch(self.spark.read.parquet(self.warm_batch), epoch_id=0)
        self.cl.compact(min_files_per_bucket=AUTO_COMPACT_FILES)

    def run(self, stats: Stats, tracer=None) -> None:
        seen = kept = 0
        t_loop = time.perf_counter()
        for epoch, path in enumerate(self.batches, start=1):
            docs = self.spark.read.parquet(path)
            with _cycle(tracer, self.top_span, epoch):
                try:
                    t0 = time.perf_counter()
                    out = self.cl.add_batch(docs, epoch_id=epoch)
                    stats.batch_s.append(time.perf_counter() - t0)
                    stats.op(out["seen"] == self.BATCH_ITEMS,
                             f"batch {epoch} saw {out['seen']} docs")
                    seen += out["seen"]
                    kept += out["kept"]
                except Exception as e:
                    stats.op(False, f"batch {epoch}: {e!r}")
                    continue
                stats.items += self.BATCH_ITEMS
                t0 = time.perf_counter()
                self.cl.compact(min_files_per_bucket=AUTO_COMPACT_FILES)
                stats.compact_s += time.perf_counter() - t0
        stats.loop_s = time.perf_counter() - t_loop
        stats.extra["kept_per_seen"] = kept / max(seen, 1)

    def check(self, stats: Stats) -> None:
        docs = self.spark.read.parquet(self.warm_batch, *self.batches)
        want = clean_corpus(docs, min_quality=0.5, langs=("en", "de"))
        got = self.cl.result()
        r = (got.withColumn("g", F.lit(1))
             .join(want.withColumn("w", F.lit(1)),
                   ["doc_id", "lang", "q_score"], "full_outer")
             .agg(F.count("g").alias("got"), F.count("w").alias("want"),
                  F.count(F.when(F.col("g").isNull() | F.col("w").isNull(),
                                 1)).alias("diff"))
             .first())
        stats.op(r["got"] == r["want"] and r["diff"] == 0,
                 f"result() has {r['got']} rows, clean_corpus {r['want']}, "
                 f"{r['diff']} differ")
        data = meta = 0
        for sub in ("out", "digests", "sig"):
            h = table_health(self.spark, os.path.join(self.cl.path, sub))
            data += h["data_bytes"]
            meta += h["metadata_bytes"]
            stats.extra["files_per_bucket_max"] = max(
                stats.extra.get("files_per_bucket_max", 0),
                h["files_per_bucket_max"])
        stats.extra.update(
            data_bytes=data, metadata_bytes=meta, delta_files_max=0,
            in_bytes=sum(os.path.getsize(p)
                         for p in (self.warm_batch, *self.batches)))


def _cycle(tracer, name: str, batch: int):
    return nullcontext() if tracer is None else tracer.cycle(name, batch)


WORKLOADS = {w.name: w for w in (CdcStreamCow, CdcMorReadMix, IncrementalClean)}


def median(xs):
    return statistics.median(xs) if xs else float("nan")
