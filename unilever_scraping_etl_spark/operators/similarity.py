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


def range_search(queries: DataFrame, corpus: DataFrame, threshold: float,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 round_digits: int = 4) -> DataFrame:
    """All corpus neighbors with cosine >= threshold per query (range
    search — the radius companion to top-k; retrieval filters and
    near-dup audits want "everything this similar", not a fixed k).

    The corpus side is broadcast the same way brute_force_topk does it:
    queries are the streamed (large-scalable) side, so at 100 TB a
    billion-row query table still works as a narrow map against a
    broadcast-able corpus block; for larger corpora compose the same
    predicate over brute_force_topk_grid's cell layout. The threshold is
    applied to the ROUNDED score so the result set is stable under
    float-accumulation-order differences (oracle-comparable)."""
    # Same hoisted-norm rewrite as brute_force_topk (bit-identical).
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       norm(F.col(vec_col)).alias("__qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cv"),
                      norm(F.col(vec_col)).alias("__cn"))
    return (q.join(F.broadcast(c), F.col("query_id") != F.col("neighbor_id"))
             .withColumn("cos", F.round(dot(F.col("qv"), F.col("cv"))
                                        / (F.col("__qn") * F.col("__cn")),
                                        round_digits))
             .filter(F.col("cos") >= threshold)
             .select("query_id", "neighbor_id", "cos"))


def assign_ivf_buckets(emb: DataFrame, nlist: int = 16,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       centroids: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF coarse quantizer. Default centroids = the nlist
    lowest-id vectors (reproducible); pass ``centroids`` (bucket,
    centroid) — e.g. from kmeans_centroids — for the trained quantizer;
    the assignment plumbing is identical. Returns (centroids, corpus
    with ``bucket``). Assignment broadcasts the centroid table and picks
    argmax cosine per row — a narrow map over the corpus, no shuffle."""
    cent = centroids if centroids is not None else (
        emb.orderBy(id_col).limit(nlist)
           # global (unpartitioned) window over <= nlist rows by
           # construction (the limit above) — the WindowExec warning it
           # logs is benign; this never sees corpus-scale data.
           .withColumn("bucket", F.row_number().over(Window.orderBy(id_col)) - 1)
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
             vec_col: str = "embedding",
             centroids: DataFrame | None = None) -> DataFrame:
    """ANN top-k: probe the ``nprobe`` closest IVF buckets per query,
    brute-force inside them. Candidate join is an equi-join on bucket —
    at 100 TB the corpus is bucketed+sorted on this key so the probe is
    a partition-pruned scan, not a shuffle. Pass ``centroids`` from
    kmeans_centroids for the trained quantizer."""
    cent, assigned = assign_ivf_buckets(corpus, nlist, id_col, vec_col,
                                        centroids)
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


def hyperplane_bucket(vec_col, n_planes: int = 8, dim: int = 64,
                      seed: int = 42):
    """Random-hyperplane LSH bucket id (deterministic: plane weights are
    a fixed arithmetic pattern keyed by ``seed``, not RNG state). Use as
    ``block_col`` for dedup.embedding_near_pairs at scale."""
    bits = []
    for p in range(n_planes):
        # Fixed pseudo-weights w_ij = cos(seed + p*dim + j) pattern via
        # deterministic arithmetic; avoids shipping a weight matrix.
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda x, j: x.cast("double")
                * F.cos((F.lit(float(seed + p * 131)) + j.cast("double") * 0.7)),
            ),
            F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


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


def plan_size_bytes(df: DataFrame, sanity_cap: int = 1 << 50) -> int | None:
    """Catalyst's optimized-plan size estimate, or None when the engine
    has no real stats: missing-stat sources report defaultSizeInBytes
    (Long.MaxValue — any value above ``sanity_cap`` ≈ 1 PiB is treated
    as 'unknown', not 'huge') and Spark Connect has no ``_jdf``."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(stats.sizeInBytes())
    except Exception:
        return None
    return size if 0 <= size < sanity_cap else None


def hyperplane_band_buckets(n_bands: int, n_planes: int, dim: int = 64,
                            seed: int = 42, band_seed_stride: int = 1000):
    """All ``n_bands`` hyperplane-LSH bucket ids in ONE Arrow-batched
    pandas UDF: the (batch x dim) embedding block multiplies a fixed
    (dim x n_bands*n_planes) plane matrix in a single GEMM and the sign
    bits pack into one int bucket per band. This is the vectorized form
    of calling :func:`hyperplane_bucket` once per band — identical
    deterministic pseudo-weights (w[j] for band t, plane p =
    cos(seed + band_seed_stride*t + 131*p + 0.7*j), no RNG, nothing
    shipped to executors but the closure) — replacing n_bands*n_planes
    sequential expression folds per row (~6k array ops at 16x6x64) with
    one BLAS call per batch. A bucket can differ from the expression
    form only when a projection sits within float-accumulation noise of
    zero, which is immaterial for LSH: either side of the hyperplane is
    a valid bucket, and the exact-cosine verify downstream keeps
    precision at 1.0 regardless.

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
    """Cosine range search at cluster scale — the thresholded twin of
    brute_force_topk_grid, closing range_search's broadcast-corpus
    limit (that form streams queries against a broadcast corpus, so the
    CORPUS side could never outgrow a broadcast). Here the corpus is
    hashed into ``n_blocks`` blocks and queries replicate to every
    block (queries are the small side); each cogroup cell scores its
    block with vectors.cosine_blocks and emits every pair whose
    ROUNDED cosine clears the threshold. Unlike top-k there is no
    global merge at all: the corpus blocks partition the corpus, so
    the union of cell outputs IS the exact answer — no window, no
    second shuffle. Results equal range_search's for NONZERO vectors
    at POSITIVE thresholds (same self-exclusion; test-pinned), except
    on a cosine landing on a shortest-decimal tie, where F.round and
    the kernel's oracle rule part ways (vectors._round_half_up); the
    same DuckDB oracle covers both. Degenerate inputs diverge by
    design (r6 ADVICE): on a zero-norm vector range_search's
    expression-level cosine divides by zero -> NULL -> row filtered,
    while this kernel's 1e-300 norm floor scores cos = 0.0, which a
    threshold <= 0 would admit. The floor is the right scale behavior
    (a zero embedding is a data bug, not a reason for NULL-sensitive
    output); the equality pin is scoped accordingly."""
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


def kmeans_centroids(emb: DataFrame, k: int, n_iter: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Distributed Lloyd's k-means for the IVF coarse quantizer —
    deterministic: init = the k lowest-id vectors (no RNG), fixed
    iteration count. Each iteration is one narrow map (assign to the
    argmin-distance broadcast centroid) plus one shuffle of N rows
    (groupBy cluster -> numpy mean per group via applyInPandas); the
    centroid table itself is k rows, the only thing that ever touches
    the driver. Returns (bucket, centroid) like the first-k quantizer,
    so it drops into assign_ivf_buckets/ivf_topk unchanged.

    Empty clusters keep their previous centroid (standard Lloyd's
    fallback), so the output always has exactly k rows."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = emb.sparkSession
    x = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cent = (x.orderBy("id").limit(k)
            # global window over <= k rows by construction (the limit
            # above) — the WindowExec no-partition warning is benign.
            .withColumn("bucket", F.row_number().over(Window.orderBy("id")) - 1)
            .select("bucket", F.col("v").alias("centroid")))

    mean_schema = T.StructType([
        T.StructField("bucket", T.IntegerType()),
        T.StructField("centroid", T.ArrayType(T.DoubleType())),
    ])

    def group_mean(pdf):
        m = np.vstack(pdf["v"].to_numpy()).astype("float64")
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])],
                             "centroid": [m.mean(axis=0).tolist()]})

    for _ in range(n_iter):
        # assign: argmin squared euclidean over the broadcast centroids
        # (narrow map — sq-dist ranks identically to true distance)
        assigned = (x.join(F.broadcast(cent))
                    .withColumn("d", F.aggregate(
                        F.zip_with("v", "centroid",
                                   lambda a, b: (a.cast("double") - b)
                                   * (a.cast("double") - b)),
                        F.lit(0.0), lambda acc, e: acc + e))
                    .withColumn("rn", F.row_number().over(
                        Window.partitionBy("id").orderBy("d", "bucket")))
                    .filter(F.col("rn") == 1)
                    .select("bucket", "v"))
        new_cent = (assigned.groupby("bucket")
                    .applyInPandas(group_mean, mean_schema)
                    .withColumnRenamed("centroid", "new_centroid"))
        cent = (cent.join(new_cent, "bucket", "left")
                .select("bucket",
                        F.coalesce("new_centroid", "centroid")
                         .alias("centroid"))
                .localCheckpoint())
    return cent
