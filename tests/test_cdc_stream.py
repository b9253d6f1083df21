"""Streaming CDC apply (streaming/cdc_stream.py): foreachBatch folds
of a change stream into a versioned parquet snapshot, proven equal to
the one-shot batch merge (the associativity contract of
operators/cdc.merge_upsert under version-ordered feeds)."""

from __future__ import annotations

import os
import shutil
import time

import pytest

from unilever_scraping_etl_spark.operators import cdc
from unilever_scraping_etl_spark.streaming import cdc_stream

SCHEMA = "k long, version long, op string, name string, val double"


def _snapshot(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, val double")


def _list_files(path):
    return {os.path.join(root, f)
            for root, _, files in os.walk(path) for f in files}


def _write_batch(spark, path, rows, mtime):
    before = _list_files(path) if os.path.isdir(path) else set()
    df = spark.createDataFrame(rows, SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)
    # pin the NEW files' mtimes so the file source's oldest-first batch
    # order is deterministic (stamping the whole dir would re-stamp
    # earlier batches and scramble the order)
    for f in _list_files(path) - before:
        os.utime(f, (mtime, mtime))


def _run(spark, src, snap_root, ckpt):
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = cdc_stream.apply_cdc_stream(stream, snap_root, ["k"], "version",
                                    checkpoint_dir=ckpt)
    q.awaitTermination(120)


def test_stream_folds_equal_one_shot_merge(spark, tmp_path):
    """Two micro-batches (version-ordered: batch 2's versions are
    higher) must land exactly where the single-batch merge of the
    unioned changes lands."""
    src = str(tmp_path / "src")
    snap_root = str(tmp_path / "snap")
    b1 = [(2, 1, "U", "b2", 21.0), (4, 1, "I", "d", 40.0)]
    b2 = [(2, 2, "U", "b3", 22.0), (3, 2, "D", None, None)]
    t = time.time()
    _write_batch(spark, src, b1, t - 60)
    _write_batch(spark, src, b2, t)

    cdc_stream.init_snapshot(_snapshot(spark), snap_root)
    _run(spark, src, snap_root, str(tmp_path / "ckpt"))

    got = sorted(map(tuple, cdc_stream.read_snapshot(spark, snap_root)
                     .collect()))
    one_shot = cdc.merge_upsert(
        _snapshot(spark), spark.createDataFrame(b1 + b2, SCHEMA),
        ["k"], "version")
    assert got == sorted(map(tuple, one_shot.collect()))
    assert got == [(1, "a", 10.0), (2, "b3", 22.0), (4, "d", 40.0)]


def test_versions_commit_monotonically_and_old_readable(spark, tmp_path):
    src = str(tmp_path / "src")
    snap_root = str(tmp_path / "snap")
    t = time.time()
    _write_batch(spark, src, [(1, 1, "U", "a2", 11.0)], t - 60)
    _write_batch(spark, src, [(2, 1, "U", "b2", 21.0)], t)
    cdc_stream.init_snapshot(_snapshot(spark), snap_root)
    _run(spark, src, snap_root, str(tmp_path / "ckpt"))

    assert cdc_stream.latest_version(snap_root) == 2
    # every committed version stays readable (no in-place overwrite)
    v1 = spark.read.parquet(f"{snap_root}/v=1")
    assert {r.k: r.name for r in v1.collect()}[1] == "a2"
    assert {r.k: r.name for r in v1.collect()}[2] == "b"


def test_read_snapshot_requires_commit(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="no committed snapshot"):
        cdc_stream.read_snapshot(spark, str(tmp_path / "nope"))


def test_time_travel_and_vacuum(spark, tmp_path):
    """Versions are immutable: version=N reads the post-fold-N state
    after later merges, and a read of a version whose directory was
    vacuumed (deleted) fails loudly: it never silently serves another
    version."""
    src = str(tmp_path / "src")
    snap_root = str(tmp_path / "snap")
    t = time.time()
    _write_batch(spark, src, [(1, 1, "U", "a2", 11.0)], t - 60)
    _write_batch(spark, src, [(1, 2, "U", "a3", 12.0)], t)
    cdc_stream.init_snapshot(_snapshot(spark), snap_root)
    _run(spark, src, snap_root, str(tmp_path / "ckpt"))

    names = {v: {r.k: r.name for r in cdc_stream.read_snapshot(
        spark, snap_root, version=v).collect()}[1] for v in (0, 1, 2)}
    assert names == {0: "a", 1: "a2", 2: "a3"}

    shutil.rmtree(os.path.join(snap_root, "v=0"))
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        cdc_stream.read_snapshot(spark, snap_root, version=0)
    # latest + the retained previous still read
    assert cdc_stream.read_snapshot(spark, snap_root).count() == 3
    assert cdc_stream.read_snapshot(spark, snap_root, version=1).count() == 3
