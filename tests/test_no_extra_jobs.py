"""Per-batch paths that move no table data launch no Spark job.

A CoW microbatch should run only jobs that read or write table data: the
metrics-feed append is written on the driver (pyarrow, temp file + rename),
and ``LakeTable.scan`` builds its frame from the manifest's explicit file
list without Spark's parallel listing job. Both are pinned here with a job
group and ``StatusTracker.getJobIdsForGroup``, each with a positive control
so the count cannot pass vacuously."""

from __future__ import annotations

import glob
import os
import uuid
from contextlib import contextmanager
from datetime import datetime

import numpy as np
import pytest
from pyspark.sql import types as T

from battetl_spark import fixtures as FX
from battetl_spark.cdc import merge_apply
from battetl_spark.lake import LakeTable
from battetl_spark.schemas import KEY_COLS, LINEAGE_SCHEMA, TRANSCRIPT_TABLE_SCHEMA
from battetl_spark.streaming import CdcStream, read_change_event_stream


@contextmanager
def job_group(spark):
    """Run the block under a fresh job group; yields a callable returning
    the number of jobs the group has launched so far."""
    sc = spark.sparkContext
    group = f"no-extra-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.fixture(scope="module")
def base_pdf():
    return FX.make_transcripts(seed=42, n_convs=40, max_turns=10)


@pytest.fixture(scope="module")
def events_pdf():
    return FX.make_change_events(
        seed=43, n_events=2000, n_convs=50, max_turns=10, dup_rate=0.03
    )


def seeded(spark, path, base_pdf, num_buckets=8):
    t = LakeTable.create(
        spark, path, TRANSCRIPT_TABLE_SCHEMA, num_buckets=num_buckets,
        key_cols=KEY_COLS, sort_cols=KEY_COLS,
    )
    t.append(FX.table_rows_df(spark, base_pdf))
    return t


def lineage_rows(spark, tmp_path, base_pdf, events_pdf, epoch_id):
    t = seeded(spark, str(tmp_path / f"table-{epoch_id}"), base_pdf)
    res = merge_apply(t, FX.change_events_df(spark, events_pdf), epoch_id=epoch_id)
    assert res.applied and res.lineage
    return res.lineage


def as_tuples(rows):
    """Lineage dicts as they should read back under LINEAGE_SCHEMA."""
    out = []
    for r in rows:
        r = {
            **r,
            "rebases": r.get("rebases", 0),
            "committed_at": datetime.fromisoformat(r["committed_at"]),
        }
        out.append(tuple(r[f.name] for f in LINEAGE_SCHEMA.fields))
    return out


def test_metrics_append_launches_no_job_and_round_trips(
    spark, tmp_path, base_pdf, events_pdf
):
    rows = lineage_rows(spark, tmp_path, base_pdf, events_pdf, epoch_id=5)
    metrics = str(tmp_path / "metrics")
    stream = CdcStream(None, str(tmp_path / "ckpt"), metrics_dir=metrics)

    with job_group(spark) as jobs:
        stream._append_metrics(rows)
        assert jobs() == 0
        spark.range(3).count()  # positive control: the group does count
        assert jobs() > 0

    got = spark.read.schema(LINEAGE_SCHEMA).parquet(metrics).collect()
    assert sorted(tuple(r) for r in got) == sorted(as_tuples(rows))
    inferred = spark.read.parquet(metrics).schema
    assert isinstance(inferred["committed_at"].dataType, T.TimestampNTZType)
    assert [(f.name, f.dataType) for f in inferred.fields] == [
        (f.name, f.dataType) for f in LINEAGE_SCHEMA.fields
    ]
    assert stream._metrics_epoch_present(spark, 5)
    assert not stream._metrics_epoch_present(spark, 6)


def test_metrics_feed_reads_spark_and_pyarrow_files_as_one_table(
    spark, tmp_path, base_pdf, events_pdf
):
    """A feed started by the Spark writer and continued by the driver-side
    writer reads as one table, under inference and under LINEAGE_SCHEMA."""
    old = lineage_rows(spark, tmp_path, base_pdf, events_pdf, epoch_id=0)
    new = lineage_rows(spark, tmp_path, base_pdf, events_pdf, epoch_id=1)
    metrics = str(tmp_path / "metrics-mixed")
    spark.createDataFrame(as_tuples(old), LINEAGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(metrics)
    stream = CdcStream(None, str(tmp_path / "ckpt"), metrics_dir=metrics)
    stream._append_metrics(new)

    inferred = spark.read.parquet(metrics)
    assert isinstance(inferred.schema["committed_at"].dataType, T.TimestampNTZType)
    assert inferred.count() == len(old) + len(new)
    got = spark.read.schema(LINEAGE_SCHEMA).parquet(metrics).collect()
    assert sorted(tuple(r) for r in got) == sorted(as_tuples(old) + as_tuples(new))
    assert stream._metrics_epoch_present(spark, 0)
    assert stream._metrics_epoch_present(spark, 1)


def test_metrics_temp_file_left_by_crash_is_invisible_and_healed(
    spark, tmp_path, base_pdf, events_pdf, monkeypatch
):
    """A crash after the temp file is written but before the rename leaves
    a dot-prefixed file that no reader sees; the replayed (fenced) epoch is
    then healed from the snapshot lineage and appears exactly once."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "events")
    for chunk in np.array_split(events_pdf, 4):
        df = FX.change_events_df(spark, chunk.reset_index(drop=True))
        df.coalesce(1).write.mode("append").parquet(src)
    t = seeded(spark, str(tmp_path / "table"), base_pdf)
    metrics = str(tmp_path / "metrics-crash")
    ckpt = str(tmp_path / "ckpt-crash")

    real_write = pq.write_table
    crashed = {"done": False}

    def write_then_crash(table, where, **kw):
        real_write(table, where, **kw)
        if not crashed["done"] and 1 in table.column("epoch_id").to_pylist():
            crashed["done"] = True
            raise RuntimeError("injected crash before the metrics rename")

    monkeypatch.setattr(pq, "write_table", write_then_crash)
    stream = CdcStream(t, ckpt, metrics_dir=metrics)
    with pytest.raises(Exception):
        stream.run_to_completion(read_change_event_stream(spark, src))
    assert crashed["done"]
    monkeypatch.undo()

    assert t.has_fence(1)
    assert not stream._metrics_epoch_present(spark, 1)
    assert set(spark.read.parquet(metrics).toPandas().epoch_id) == {0}
    assert len(glob.glob(os.path.join(metrics, ".part-*.parquet"))) == 1

    CdcStream(t, ckpt, metrics_dir=metrics).run_to_completion(
        read_change_event_stream(spark, src)
    )
    m = spark.read.parquet(metrics).toPandas()
    assert set(m.epoch_id.unique()) == {0, 1, 2, 3}
    assert len(m) == len(m[["epoch_id", "source_partition"]].drop_duplicates())
    assert t.lineage_df().count() == len(m)


def test_scan_over_32_files_launches_no_job(spark, tmp_path):
    """Past 32 paths Spark lists files in a parallel job unless the session
    raises the listing threshold; a scan must build its frame with no job."""
    t = seeded(
        spark, str(tmp_path / "wide"),
        FX.make_transcripts(seed=7, n_convs=400, max_turns=3), num_buckets=64,
    )
    n_files = sum(len(v) for v in t.snapshot()["files"].values())
    assert n_files > 32

    with job_group(spark) as jobs:
        df = t.scan()
        assert jobs() == 0
        n = df.count()  # positive control
        assert jobs() > 0
    assert n == t.scan().count() > 0
