"""Streaming CDC apply: a change stream folded into a parquet
snapshot, micro-batch by micro-batch (SURVEY.md §2.8 extension; the
streaming twin of ``operators/cdc.merge_upsert``).

The reference re-scrapes and truncate+loads the whole table per DAG
run. The streaming shape a warehouse actually wants is: change rows
arrive continuously; each micro-batch MERGEs into the snapshot;
readers always see a consistent version.

``foreachBatch`` is the right Spark primitive here — MERGE is a
batch-relational operation over the snapshot, not a per-key
streaming-state update (the snapshot can be arbitrarily wider than
the hot key set, and ``applyInPandasWithState`` would have to carry
the whole table as state). Each micro-batch runs the SAME
``merge_upsert`` plan the batch surface registers, so the streaming
path inherits its semantics and its oracle discipline: applying
batches B1..Bn sequentially is proven (pytest) equal to one-shot
``merge_upsert(snapshot, B1 ∪ ... ∪ Bn)`` whenever versions are
globally consistent — MERGE latest-wins is associative in that case.

Snapshot versioning: plain parquet directories ``v=N`` under the
snapshot root plus a ``_LATEST`` pointer file, written AFTER the new
version commits — readers of version N are never disturbed (no
in-place overwrite; the parquet dir being read is never the one being
written). This is deliberately the minimal honest stand-in for a
transactional table format (Delta/Iceberg), which this container
doesn't ship; the operator's surface (stream in, versioned snapshot
out) would be unchanged on one.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession

from ..operators.cdc import merge_upsert
from ..schemas import read_parquet


def latest_version(snapshot_root: str) -> int | None:
    """Version number in the ``_LATEST`` pointer, or None if the root
    has no committed snapshot yet."""
    p = pathlib.Path(snapshot_root) / "_LATEST"
    if not p.exists():
        return None
    return int(p.read_text().strip())


def read_snapshot(spark: SparkSession, snapshot_root: str,
                  version: int | None = None) -> DataFrame:
    """A committed snapshot version — the latest by default, or any
    still-retained earlier one (time travel: versions are immutable
    directories, so ``version=3`` reads exactly what readers saw after
    the third fold, regardless of later merges)."""
    latest = latest_version(snapshot_root)
    if latest is None:
        raise FileNotFoundError(f"no committed snapshot under "
                                f"{snapshot_root}")
    v = latest if version is None else version
    if not (pathlib.Path(snapshot_root) / f"v={v}").is_dir():
        raise FileNotFoundError(
            f"snapshot version {v} not found under {snapshot_root} "
            f"(latest is {latest}; older versions may be vacuumed)")
    return read_parquet(spark, f"{snapshot_root}/v={v}")


def init_snapshot(df: DataFrame, snapshot_root: str) -> None:
    """Write version 0 and commit the pointer."""
    root = pathlib.Path(snapshot_root)
    root.mkdir(parents=True, exist_ok=True)
    df.write.mode("overwrite").parquet(str(root / "v=0"))
    (root / "_LATEST").write_text("0")


def apply_cdc_stream(changes: DataFrame, snapshot_root: str,
                     key_cols: list[str], version_col: str,
                     op_col: str = "op", delete_op: str = "D",
                     checkpoint_dir: str | None = None,
                     available_now: bool = True):
    """Fold a STREAMING change DataFrame into the snapshot at
    ``snapshot_root`` (which must hold a committed version — call
    :func:`init_snapshot` first). Returns the started
    ``StreamingQuery``.

    Each micro-batch: read the latest committed snapshot, run the
    batch ``merge_upsert`` against the batch's change rows, write
    ``v=N+1``, then commit the pointer. Version monotonicity is
    guaranteed by foreachBatch's serial execution within a query;
    cross-restart replay of a completed batch rewrites the same
    version content (merge is idempotent for a replayed batch at the
    same snapshot version) — the pointer moves forward only.

    ``validate`` is ON inside the merge: a CDC feed with duplicate
    versions per key fails the batch loudly rather than committing an
    ambiguous winner.
    """
    spark = changes.sparkSession

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        snap = read_snapshot(spark, snapshot_root)
        merged = merge_upsert(snap, batch, key_cols, version_col,
                              op_col=op_col, delete_op=delete_op)
        v = latest_version(snapshot_root)
        nxt = (v or 0) + 1
        merged.write.mode("overwrite").parquet(
            f"{snapshot_root}/v={nxt}")
        (pathlib.Path(snapshot_root) / "_LATEST").write_text(str(nxt))

    writer = changes.writeStream.foreachBatch(fold)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
