"""Similarity search over embedding columns (SURVEY.md §2.10 L3).

Two paths:
- brute-force top-k (the correctness baseline, oracle-checkable):
  queries × corpus join with cosine, then top-k per query. The corpus
  side is broadcast when small; at scale the join shuffles on nothing
  (cross of Q×N) so Q must be bounded — that's what the ANN path is for.
- IVF-style bucketed ANN (the 100 TB path): deterministic coarse
  quantizer (first ``nlist`` vectors as centroids — no RNG, reproducible
  across runs), each corpus vector assigned to its nearest centroid
  (broadcast centroids, narrow map), queries probe ``nprobe`` nearest
  buckets; the candidate join is an equi-join on bucket id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors
from ..functions.vectors import dot, norm


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_digits: int | None = 4) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self).
    Scores are optionally rounded BEFORE ranking so the ranking is
    stable under float-accumulation-order differences (ties broken by
    neighbor id) — this is what makes the operator oracle-comparable."""
    # Per-row L2 norms are hoisted out of the pair expression: cosine's
    # two norm factors depend only on their own side, so computing them
    # once per row instead of once per PAIR cuts the per-pair work from
    # three O(dim) folds to one (the dot). Bit-identical scores — the
    # same norm expression, evaluated in an earlier Project.
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       norm(F.col(vec_col)).alias("__qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cv"),
                      norm(F.col(vec_col)).alias("__cn"))
    scored = (q.join(F.broadcast(c), F.col("query_id") != F.col("neighbor_id"))
                .withColumn("cos", dot(F.col("qv"), F.col("cv"))
                            / (F.col("__qn") * F.col("__cn"))))
    if round_digits is not None:
        scored = scored.withColumn("cos", F.round("cos", round_digits))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "neighbor_id", "cos", "rank"))


def assign_ivf_buckets(emb: DataFrame, nlist: int = 16,
                       id_col: str = "vec_id", vec_col: str = "embedding"
                       ) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF coarse quantizer: the centroids are the nlist
    lowest-id vectors (reproducible, no training pass). Returns
    (centroids, corpus with ``bucket``). Assignment broadcasts the
    centroid table and picks argmax cosine per row — a narrow map over
    the corpus, no shuffle."""
    cent = (emb.orderBy(id_col).limit(nlist)
            # global (unpartitioned) window over <= nlist rows by
            # construction (the limit above) — the WindowExec warning it
            # logs is benign; this never sees corpus-scale data.
            .withColumn("bucket",
                        F.row_number().over(Window.orderBy(id_col)) - 1)
            .select("bucket", F.col(vec_col).alias("centroid")))
    # Hoisted-norm cosine (bit-identical, see brute_force_topk): the
    # centroid norms ride the broadcast k-row frame, the row norm is
    # computed once per corpus row instead of once per (row, centroid).
    centn = cent.withColumn("__cn", norm(F.col("centroid")))
    assigned = (emb.withColumn("__rn_norm", norm(F.col(vec_col)))
                .join(F.broadcast(centn))
                .withColumn("sim", dot(F.col(vec_col), F.col("centroid"))
                            / (F.col("__rn_norm") * F.col("__cn")))
                .withColumn("rn", F.row_number().over(
                    Window.partitionBy(F.col(id_col)).orderBy(
                        F.col("sim").desc(), F.col("bucket"))))
                .filter(F.col("rn") == 1)
                .select(*emb.columns, "bucket"))
    return cent, assigned


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int, nlist: int = 16,
             nprobe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """ANN top-k: probe the ``nprobe`` closest IVF buckets per query,
    brute-force inside them. Candidate join is an equi-join on bucket —
    at 100 TB the corpus is bucketed+sorted on this key so the probe is
    a partition-pruned scan, not a shuffle."""
    cent, assigned = assign_ivf_buckets(corpus, nlist, id_col, vec_col)
    # Hoisted-norm cosine throughout (bit-identical, see
    # brute_force_topk): query norms are computed once and carried
    # through the probe selection into the candidate scoring.
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       norm(F.col(vec_col)).alias("__qn"))
    centn = cent.withColumn("__cn", norm(F.col("centroid")))
    probes = (q.join(F.broadcast(centn))
                .withColumn("sim", dot(F.col("qv"), F.col("centroid"))
                            / (F.col("__qn") * F.col("__cn")))
                .withColumn("rn", F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.col("sim").desc(), F.col("bucket"))))
                .filter(F.col("rn") <= nprobe)
                .select("query_id", "qv", "__qn", "bucket"))
    cand = (probes.join(assigned.select(F.col(id_col).alias("neighbor_id"),
                                        F.col(vec_col).alias("cv"),
                                        norm(F.col(vec_col)).alias("__nn"),
                                        "bucket"),
                        "bucket")
                  .filter(F.col("query_id") != F.col("neighbor_id"))
                  .withColumn("cos", F.round(dot(F.col("qv"), F.col("cv"))
                                             / (F.col("__qn")
                                                * F.col("__nn")), 4)))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "cos", "rank"))


def adaptive_n_blocks(df: DataFrame, target_block_bytes: int = 64 << 20,
                      max_blocks: int = 64) -> int:
    """Size a GEMM grid to the data, the way Spark's own join planner
    sizes broadcasts: read Catalyst's optimized-plan size estimate (for
    a parquet scan this is file-length metadata — no job, no scan) and
    split into ceil(size / target_block_bytes) blocks, so one block's
    vectors fit comfortably in an executor task. Below the threshold
    this returns 1 and the grid degenerates to a single cell (one
    cosine_blocks call over the whole corpus, test-pinned equal to the
    multi-block grid); above it the grid engages with shuffle
    O(N * n_blocks).

    Sources without stats report spark.sql.defaultSizeInBytes
    (Long.MaxValue) — e.g. a createDataFrame/RDD-backed frame — and the
    ``_jdf`` internals are absent under Spark Connect; both fall back to
    a partition-count heuristic instead of silently maxing the grid."""
    import math
    size = plan_size_bytes(df)
    if size is None:
        # Unknown size: one block per ~2 scan partitions keeps cells
        # task-sized without exploding tiny inputs into a full grid.
        try:
            nparts = df.rdd.getNumPartitions()
        except Exception:
            return 1
        return max(1, min(max_blocks, math.ceil(nparts / 2)))
    return max(1, min(max_blocks, math.ceil(size / target_block_bytes)))


_PLAN_SIZE_SANITY_CAP = 1 << 50  # ≈ 1 PiB


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate, or None when the engine
    has no real stats: missing-stat sources report defaultSizeInBytes
    (Long.MaxValue — any value at or above ``_PLAN_SIZE_SANITY_CAP`` is
    treated as 'unknown', not 'huge') and Spark Connect has no
    ``_jdf``."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(stats.sizeInBytes())
    except Exception:
        return None
    return size if 0 <= size < _PLAN_SIZE_SANITY_CAP else None


def hyperplane_band_buckets(n_bands: int, n_planes: int, dim: int = 64,
                            seed: int = 42, band_seed_stride: int = 1000):
    """All ``n_bands`` hyperplane-LSH bucket ids in ONE Arrow-batched
    pandas UDF: the (batch x dim) embedding block multiplies a fixed
    (dim x n_bands*n_planes) plane matrix in a single GEMM and the sign
    bits pack into one int bucket per band (bit p set when plane p's
    projection is positive). The plane weights are deterministic
    pseudo-weights (w[j] for band t, plane p =
    cos(seed + band_seed_stride*t + 131*p + 0.7*j), no RNG, nothing
    shipped to executors but the closure), so one BLAS call per batch
    replaces n_bands*n_planes sequential folds per row. A bucket can
    differ from a per-row sequential fold only when a projection sits
    within float-accumulation noise of zero, which is immaterial for
    LSH: either side of the hyperplane is a valid bucket, and the
    exact-cosine verify downstream keeps precision at 1.0 regardless.

    Returns a pandas UDF usable as ``buckets(F.col(vec_col))`` yielding
    ``array<int>`` of length ``n_bands``."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    cols = np.arange(n_bands * n_planes)
    t_band, p_plane = cols // n_planes, cols % n_planes
    j = np.arange(dim, dtype="float64")
    planes = np.cos((seed + band_seed_stride * t_band + 131.0 * p_plane)[None, :]
                    + 0.7 * j[:, None])           # (dim, n_bands*n_planes)
    shifts = (1 << p_plane).astype("int64")

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def buckets(vs: pd.Series) -> pd.Series:
        if vs.empty:
            return pd.Series([], dtype=object)
        m = np.vstack(vs.to_numpy()).astype("float64")      # (B, dim)
        bits = (m @ planes) > 0                             # (B, bands*planes)
        packed = ((bits * shifts)
                  .reshape(len(m), n_bands, n_planes)
                  .sum(axis=2).astype("int32"))
        return pd.Series(list(packed))

    return buckets


def brute_force_topk_grid(queries: DataFrame, corpus: DataFrame, k: int,
                          n_blocks: int = 4, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          round_digits: int = 4) -> DataFrame:
    """Exact top-k cosine at cluster scale: the numpy-kernel form of
    brute_force_topk, with no driver collect and no corpus broadcast.
    The corpus is hashed into ``n_blocks`` blocks; queries replicate to
    every block (queries are the small side — replicating the corpus
    instead would be the wrong orientation); each cogroup cell scores
    its corpus block against all queries with vectors.cosine_blocks
    (bounded query-row blocks, oracle rounding) and emits only its
    LOCAL top-k per query, so the global merge (one window over
    <= k * n_blocks candidate rows per query) is tiny. The union of
    per-block top-k sets contains the global top-k, so results do not
    depend on ``n_blocks``: same kernel, same rounding, same
    (cos desc, id) tiebreak."""
    from pyspark.sql import types as T

    spark = queries.sparkSession
    blocks = spark.range(n_blocks).select(F.col("id").cast("int").alias("blk"))
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qv"))
         .crossJoin(F.broadcast(blocks)))
    c = (corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("cv"))
         .withColumn("blk", F.pmod(F.xxhash64(F.col("nid")),
                                   F.lit(n_blocks)).cast("int")))

    out_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])

    block = vectors.COSINE_BLOCK_ROWS

    def local_topk(qpdf, cpdf):
        if qpdf.empty or cpdf.empty:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cos": []})
        ids_q = qpdf["query_id"].to_numpy()
        ids_c = cpdf["nid"].to_numpy()
        frames = []
        for lo, sim in vectors.cosine_blocks(qpdf["qv"], cpdf["cv"],
                                             round_digits, block):
            for qi, row in enumerate(sim, start=lo):
                mask = ids_c != ids_q[qi]          # exclude self
                order = np.lexsort((ids_c[mask], -row[mask]))[:k]
                frames.append(pd.DataFrame({
                    "query_id": np.full(len(order), ids_q[qi],
                                        dtype="int64"),
                    "neighbor_id": ids_c[mask][order].astype("int64"),
                    "cos": row[mask][order],
                }))
        return pd.concat(frames)

    cand = (q.groupby("blk").cogroup(c.groupby("blk"))
            .applyInPandas(local_topk, out_schema))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos",
                    F.col("rank").cast("int").alias("rank")))


def range_search_grid(queries: DataFrame, corpus: DataFrame,
                      threshold: float, n_blocks: int = 4,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      round_digits: int = 4) -> DataFrame:
    """All corpus neighbors whose rounded cosine clears ``threshold``
    per query (range search — the radius companion to top-k; retrieval
    filters and near-dup audits want "everything this similar", not a
    fixed k), at cluster scale: the thresholded twin of
    brute_force_topk_grid, with no corpus broadcast. The corpus is
    hashed into ``n_blocks`` blocks and queries replicate to every
    block (queries are the small side); each cogroup cell scores its
    block with vectors.cosine_blocks and emits every pair whose
    ROUNDED cosine clears the threshold. Unlike top-k there is no
    global merge at all: the corpus blocks partition the corpus, so
    the union of cell outputs IS the exact answer — no window, no
    second shuffle. Self pairs are excluded. Scores round with the
    oracle's rule (vectors._round_half_up). A zero-norm vector scores
    cos = 0.0 under the kernel's 1e-300 norm floor (where a per-pair
    expression cosine would divide by zero to NULL), which a threshold
    <= 0 would admit: a zero embedding is a data bug, not a reason for
    NULL-sensitive output."""
    from pyspark.sql import types as T

    spark = queries.sparkSession
    blocks = spark.range(n_blocks).select(F.col("id").cast("int").alias("blk"))
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qv"))
         .crossJoin(F.broadcast(blocks)))
    c = (corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("cv"))
         .withColumn("blk", F.pmod(F.xxhash64(F.col("nid")),
                                   F.lit(n_blocks)).cast("int")))

    out_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])

    block = vectors.COSINE_BLOCK_ROWS

    def cell_range(qpdf, cpdf):
        if qpdf.empty or cpdf.empty:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cos": []})
        ids_q = qpdf["query_id"].to_numpy()
        ids_c = cpdf["nid"].to_numpy()
        frames = []
        for lo, sim in vectors.cosine_blocks(qpdf["qv"], cpdf["cv"],
                                             round_digits, block):
            qb = ids_q[lo:lo + len(sim)]
            qi, ci = np.nonzero((sim >= threshold)
                                & (qb[:, None] != ids_c[None, :]))
            frames.append(pd.DataFrame({
                "query_id": qb[qi].astype("int64"),
                "neighbor_id": ids_c[ci].astype("int64"),
                "cos": sim[qi, ci],
            }))
        return pd.concat(frames)

    return (q.groupby("blk").cogroup(c.groupby("blk"))
            .applyInPandas(cell_range, out_schema))

