"""Physical-plan assertions — the 100 TB posture checks (SURVEY.md §4):
filters and projections must reach the parquet scan, dimension joins
must broadcast, pair joins must never degrade to cartesian products.
These are the properties that decide whether a plan survives a 1000x
scale-up, so they're pinned as tests, not left to eyeballing .explain().
"""

from __future__ import annotations

from pyspark.sql import functions as F

from unilever_scraping_etl_spark.operators import dedup
from unilever_scraping_etl_spark.plans.registry import QUERIES
from unilever_scraping_etl_spark.schemas import load_table

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exact_cosine(emb, qs=None, digits=4):
    """Exact cosine reference for the similarity kernels: (ids of qs,
    ids of emb, rounded cosine matrix). Each score is the float64
    dot(a, b) / (|a| * |b|), rounded with vectors._round_half_up, the
    oracle's rule."""
    import numpy as np

    from unilever_scraping_etl_spark.functions.vectors import _round_half_up

    def stack(df):
        rows = df.select("vec_id", "embedding").orderBy("vec_id").collect()
        return (np.array([r[0] for r in rows]),
                np.array([r[1] for r in rows], dtype="float64"))

    cid, cm = stack(emb)
    qid, qm = (cid, cm) if qs is None else stack(qs)
    cos = (qm @ cm.T) / np.outer(np.linalg.norm(qm, axis=1),
                                 np.linalg.norm(cm, axis=1))
    return qid, cid, _round_half_up(cos, digits)


def _exact_near_pairs(emb, threshold):
    """{(id_a, id_b, cos)} with id_a < id_b and rounded cos >= threshold."""
    import numpy as np

    ids, _, cos = _exact_cosine(emb)
    a, b = np.nonzero((cos >= threshold)
                      & (ids[:, None] < ids[None, :]))
    return {(int(ids[i]), int(ids[j]), float(cos[i, j]))
            for i, j in zip(a, b)}


def _band_buckets_reference(vec, n_bands, n_planes, seed=42, stride=1000):
    """Per-row hyperplane-LSH bucket ids: band t, plane p projects the
    vector onto w[j] = cos(seed + stride*t + 131*p + 0.7*j) with a
    sequential fold, and bit p is set when the projection is positive."""
    import math

    out = []
    for t in range(n_bands):
        bucket = 0
        for p in range(n_planes):
            base = float(seed + stride * t + 131 * p)
            proj = 0.0
            for j, x in enumerate(vec):
                proj += float(x) * math.cos(base + j * 0.7)
            if proj > 0:
                bucket |= 1 << p
        out.append(bucket)
    return out


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    df = (li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
            .select("l_orderkey", "l_extendedprice"))
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_parquet_scan(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    plan = _plan(li.select("l_orderkey", "l_quantity"))
    # ReadSchema must carry only the projected columns
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_comment" not in read


def test_dim_join_is_broadcast(spark):
    plan = _plan(QUERIES["join_broadcast"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_agg_is_partial_final_codegen(spark):
    df = QUERIES["agg_price_stats"].spark(spark, SF_SMOKE)
    df.collect()  # finalize the AQE plan before inspecting codegen spans
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "partial_sum" in plan          # map-side combine
    assert final.count("HashAggregate") >= 2   # partial + final
    assert "*(" in final                  # whole-stage-codegen span markers


def test_sort_limit_is_take_ordered(spark):
    # A global top-N must not materialize a full sort at scale.
    plan = _plan(QUERIES["sort_limit"].spark(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_minhash_candidates_no_cartesian(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(dedup.minhash_candidates(docs, "doc_id", "text"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_no_cartesian(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5))
    assert "CartesianProduct" not in plan


def test_topk_window_group_limit_pushdown(spark):
    # Spark >=3.5 pushes a per-partition top-k below the window shuffle.
    plan = _plan(QUERIES["topk_per_group"].spark(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan


def test_range_search_grid_plan_shape(spark):
    """The registered sim_range_search must carry no corpus broadcast
    (the r5 'weak' scale spot it replaced) and no window at all — the
    grid's corpus blocks partition the output disjointly, so unlike the
    top-k grid there is nothing to merge. The only broadcast allowed is
    the n_blocks-row block-id spine the queries replicate over."""
    plan = _plan(QUERIES["sim_range_search"].spark(spark, SF_SMOKE))
    assert "FlatMapCoGroupsInPandas" in plan          # the grid cells
    assert "Window" not in plan                        # no merge stage
    # any BroadcastExchange must feed from the tiny Range spine, never
    # from the embeddings scan
    for i, line in enumerate(plan.splitlines()):
        if "BroadcastExchange" in line:
            below = "\n".join(plan.splitlines()[i:i + 6])
            assert "embeddings" not in below, below


def test_dedup_near_guard_plan_shape(spark):
    """The registered dedup_near runs WITH the hot-bucket guard: the
    plan must contain the per-(band, bucket) counting window that sizes
    buckets (partitioned — not a global window) and still no cartesian
    product; the candidate join stays a banded equi-join."""
    plan = _plan(QUERIES["dedup_near"].spark(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "count(1)" in plan and "windowspecdefinition" in plan.lower()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan
    # NOTE: minhash deliberately carries NO guard parallelism pin
    # (spread=None) — its 64-bit band hashes bound per-bucket pair
    # counts by the true clique size; see
    # test_guard_spread_column_per_family for the per-family pins.


def test_dedup_simhash_guard_plan_shape(spark):
    """The registered dedup_simhash runs WITH the hot-bucket guard
    (r6 VERDICT item 1): the plan must contain the per-(chunk, ck)
    bucket-sizing window (partitioned — not global) and still no
    cartesian product; the candidate join stays a banded equi-join."""
    plan = _plan(QUERIES["dedup_simhash"].spark(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "count(1)" in plan and "windowspecdefinition" in plan.lower()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan
    assert "REPARTITION_BY_NUM" in plan  # r8 guard parallelism pin


def test_dedup_embedding_lsh_guard_plan_shape(spark):
    """The registered dedup_embedding_lsh runs WITH the hot-bucket
    guard AND the verify-balancing pair repartition (r6 VERDICT items
    1 + 4): the plan must contain the per-(band, bkt) bucket-sizing
    window, an Exchange hash-partitioned on the candidate PAIR feeding
    the Arrow verify (so a hub id cannot concentrate the verify), and
    no cartesian product."""
    import re

    plan = _plan(QUERIES["dedup_embedding_lsh"].spark(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "count(1)" in plan and "windowspecdefinition" in plan.lower()
    assert "MapInPandas" in plan
    assert re.search(r"Exchange hashpartitioning\(id_a#\d+L, id_b#\d+L",
                     plan), plan
    assert "REPARTITION_BY_NUM" in plan  # r8 guard parallelism pin


def test_rerank_topk_plan_shape(spark):
    """The registered rerank_topk must keep the two-stage-retrieval
    cost model visible in the plan: bounded candidates through
    broadcast payload joins (no cartesian), ZERO Python stages (the
    default cross-scorer is built-in expressions since r16 — was ONE
    ArrowEvalPython), and the per-query top-m as a Partial+Final
    WindowGroupLimit pair around a single query_id exchange — the
    shape that makes the expensive stage scale with query load, never
    the corpus."""
    plan = _plan(QUERIES["rerank_topk"].spark(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert plan.count("ArrowEvalPython") == 0
    assert plan.count("WindowGroupLimit") == 2  # Partial + Final
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan


def test_shuffle_partitions_tolerates_non_numeric_conf(spark):
    """spark.sql.shuffle.partitions can be the string 'auto' on vendor
    clusters with AQE auto-optimized shuffle; the guard's spread-pin
    sizing must fall back to defaultParallelism instead of raising
    ValueError on every spread='id' caller (r8 ADVICE)."""
    assert dedup._shuffle_partitions(spark) == \
        int(spark.conf.get("spark.sql.shuffle.partitions"))

    # OSS Spark validates this conf as a positive int at set() time, so
    # the 'auto' value cannot be injected into a real session here —
    # stub the session surface the helper reads.
    class _Conf:
        def get(self, key):
            return "auto"

    class _SC:
        defaultParallelism = 7

    class _Spark:
        conf = _Conf()
        sparkContext = _SC()

    assert dedup._shuffle_partitions(_Spark()) == 7


def test_guard_spread_column_per_family(spark):
    """Pin the r8 per-family guard-parallelism decision (BASELINE.md
    round-8 guard stress): coarse-bucket families (hyperplane LSH,
    simhash) spread the capped-join input by ID via a user-pinned
    repartition (REPARTITION_BY_NUM — exempt from AQE coalescing, so
    the cap²/2 pair explosion parallelizes WITHIN a bucket); minhash
    carries NO pin — its 64-bit band hashes bound per-bucket pair
    counts by the true clique size, and the id-pin's extra exchange
    measured 1.8× slower there.

    The pinned families must ALSO plan the pair self-join as a
    BroadcastHashJoin (r8 ADVICE): the id-pin only preserves
    within-bucket parallelism when the join replicates the other side
    — under SMJ/SHJ both sides re-exchange on the band keys,
    re-concentrating each bucket in one task and demoting the
    repartition to a dead extra shuffle. The banded table is key-bytes
    tiny at every measured scale; if it ever outgrows the broadcast
    threshold this assertion makes the parallelism loss loud."""
    import re

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(dedup.minhash_candidates(docs, "doc_id", "text",
                                          max_bucket_size=1024))
    assert "REPARTITION_BY_NUM" not in plan, plan

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = _plan(dedup.hyperplane_lsh_candidates(
        emb, "vec_id", "embedding", n_bands=4, n_planes=8,
        max_bucket_size=1024))
    assert re.search(
        r"Exchange hashpartitioning\(vec_id#\d+L, \d+\), "
        r"REPARTITION_BY_NUM", plan), plan
    assert "BroadcastHashJoin" in plan, plan

    plan = _plan(dedup.simhash_candidates(docs, "doc_id", "text",
                                          max_bucket_size=1024))
    assert re.search(
        r"Exchange hashpartitioning\(doc_id#\d+L, \d+\), "
        r"REPARTITION_BY_NUM", plan), plan
    assert "BroadcastHashJoin" in plan, plan


def test_snapshot_partition_pruning(spark, tmp_path):
    """A createdate filter on the date-partitioned snapshot must prune
    partitions at the scan (the property that makes as-of queries cheap
    on a 100 TB snapshot table)."""
    from unilever_scraping_etl_spark.sources.ingest import write_snapshot

    snap = (load_table(spark, SF_SMOKE, "orders")
            .select(F.col("o_orderkey").alias("id"),
                    F.col("o_totalprice").alias("price"),
                    F.to_date("o_orderdate").alias("createdate"))
            .filter(F.col("createdate") < "1995-02-01"))
    path = str(tmp_path / "snap")
    write_snapshot(snap, path)

    one_day = snap.agg(F.min("createdate")).collect()[0][0]
    df = spark.read.parquet(path).filter(F.col("createdate") == F.lit(one_day))
    plan = _plan(df)
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "createdate" in pf
    # pruned scan must actually read fewer files than the full snapshot
    read_files = df.select(F.input_file_name()).distinct().count()
    all_files = len(spark.read.parquet(path).inputFiles())
    assert 0 < read_files < all_files


def test_orc_scan_gets_pushed_filter(spark, tmp_path):
    """The orc_roundtrip docstring's claim, pinned: the predicate must
    reach the ORC scan as a pushed filter — format parity means the
    pushdown machinery works through the second columnar format, not
    just byte fidelity."""
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "n_chars")
    docs.write.mode("overwrite").orc(str(tmp_path / "orc"))
    back = spark.read.orc(str(tmp_path / "orc")).filter(
        F.col("n_chars") > 100)
    plan = _plan(back)
    assert "GreaterThan(n_chars,100)" in plan.replace(" ", "")
    assert "FileScan orc" in plan


def test_merge_upsert_on_bucketed_snapshot_has_no_snapshot_exchange(
        spark, tmp_path):
    """The composed incremental-warehouse claim (cdc.py docstring:
    'bucketed-snapshot compatible, co-locates shuffle-free'), pinned:
    merging a CDC batch into a snapshot stored as a table bucketed on
    the merge key plans the full-outer join with ZERO Exchange on the
    snapshot side — the bucketed scan feeds the SortMergeJoin
    directly, and the ONLY exchange in the whole plan is the changes
    side's (which the latest-wins aggregate needs anyway and the join
    reuses). Against a plain-parquet snapshot the same merge plans one
    more Exchange. At 100 TB the snapshot is the fat side; this is the
    shuffle the bucketed store exists to delete."""
    from unilever_scraping_etl_spark.operators import cdc

    snap = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("val"))
    changes = spark.range(0, 1000).select(
        F.col("id").alias("k"), F.lit(1).alias("version"),
        F.lit("U").alias("op"), (F.col("id") * 3.0).alias("val"))
    (snap.write.mode("overwrite").format("parquet").bucketBy(4, "k")
     .sortBy("k").option("path", str(tmp_path / "b_merge_snap"))
     .saveAsTable("b_merge_snap"))
    try:
        bucketed = _plan(cdc.merge_upsert(spark.table("b_merge_snap"),
                                          changes, ["k"], "version",
                                          validate=False))
        plain = _plan(cdc.merge_upsert(snap, changes, ["k"], "version",
                                       validate=False))
        assert "SortMergeJoin" in bucketed
        assert "Bucketed: true" in bucketed
        assert bucketed.count("Exchange") == 1          # changes side only
        assert plain.count("Exchange") == bucketed.count("Exchange") + 1
        # and the one exchange is on the changes side, not the scan:
        scan_side = bucketed.split("FileScan parquet")[0]
        assert "Exchange" not in scan_side.split("SortMergeJoin")[-1]
    finally:
        spark.sql("DROP TABLE IF EXISTS b_merge_snap")


def test_interval_join_equals_naive_theta(spark):
    """The binned equi-join must be result-identical to the naive
    theta join (start <= point < end) — boundary points, negatives,
    bin-straddling and bin-aligned intervals, empty and NULL-bounded
    intervals included. Replication never duplicates output rows: a
    point's single bin meets each interval at most once."""
    from unilever_scraping_etl_spark.operators.relational import \
        interval_join

    pts = [(i, float(v)) for i, v in enumerate(
        [-15, -7, -1, 0, 1, 6, 7, 8, 13, 14, 20, 21, 35, 99])]
    ivs = [(100, -10.0, 0.0), (101, 0.0, 7.0), (102, 0.0, 14.0),
           (103, 5.0, 5.0), (104, 13.0, 22.0), (105, None, 50.0),
           (106, 30.0, 20.0), (107, 90.0, 200.0)]
    p = spark.createDataFrame(pts, "pid long, v double")
    iv = spark.createDataFrame(ivs, "iid long, s double, e double")
    got = sorted((r.pid, r.iid) for r in
                 interval_join(p, iv, "v", "s", "e", bin_width=7).collect())
    want = sorted((r.pid, r.iid) for r in
                  p.join(iv, (p.v >= iv.s) & (p.v < iv.e)).collect())
    assert got == want and len(got) > 0


def test_interval_join_plan_is_equi_not_nested_loop(spark):
    """With broadcast disabled (the honest big-big posture), the
    binned interval join must plan as a SortMergeJoin/ShuffledHashJoin
    on the bin key — never the BroadcastNestedLoopJoin a naive theta
    join costs at 100 TB."""
    from unilever_scraping_etl_spark.operators.relational import \
        interval_join

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p = spark.range(1000).select(
            F.col("id").alias("pid"), (F.col("id") % 97).cast("double").alias("v"))
        iv = spark.range(100).select(
            F.col("id").alias("iid"), (F.col("id") % 50).cast("double").alias("s"),
            ((F.col("id") % 50) + 5).cast("double").alias("e"))
        plan = _plan(interval_join(p, iv, "v", "s", "e", bin_width=5))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_interval_join_guards(spark):
    """Mis-sized bins (or a corrupt open-ended interval) must raise
    loudly, not explode: the per-interval bin cap is enforced executor-
    side; bad bin_width and column collisions raise at plan time."""
    import pytest
    from pyspark.errors import PySparkException
    from unilever_scraping_etl_spark.operators.relational import \
        interval_join

    p = spark.createDataFrame([(1, 5.0)], "pid long, v double")
    iv = spark.createDataFrame([(9, 0.0, 1e9)], "iid long, s double, e double")
    with pytest.raises(PySparkException, match="interval_join"):
        interval_join(p, iv, "v", "s", "e", bin_width=1.0,
                      max_bins_per_interval=100).collect()
    with pytest.raises(ValueError, match="positive"):
        interval_join(p, iv, "v", "s", "e", bin_width=0)
    with pytest.raises(ValueError, match="disjoint"):
        interval_join(p, p.withColumnRenamed("pid", "s"), "v", "s", "v",
                      bin_width=1.0)
    with pytest.raises(ValueError, match="reserved"):
        interval_join(p.withColumnRenamed("pid", "__bin"), iv,
                      "v", "s", "e", bin_width=1.0)


def test_interval_join_hot_bin_gets_aqe_skew_split(spark):
    """The hot-bin escape hatch is STOCK AQE, and this pin proves it
    stays reachable: because the binned interval join is a plain
    equi-join on __bin, a bin fat on one side (here 50% of all points
    collapse into a single bin; intervals stay thin) must plan as
    SortMergeJoin(skew=true) — AQE splits the fat shuffle partition
    and duplicates the thin side. If a future edit inserts anything
    between the exchange and the join that AQE can't see through
    (a repartition, a manual sort, a UDF barrier), skew=true vanishes
    and this test catches the regression. Thresholds are scaled to the
    test data exactly as a real cluster scales them to real data (the
    round-9 10x stress measured the same split at 8m/4m)."""
    from unilever_scraping_etl_spark.operators.relational import \
        interval_join

    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "128k")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
        # 200k points, half collapsed into bin 100 (values 700..706 at
        # W=7); the rest spread over ~100 bins. Intervals thin & even.
        p = spark.range(200_000).select(
            F.col("id").alias("pid"),
            F.when(F.col("id") % 2 == 0,
                   (700 + F.col("id") % 7).cast("double"))
             .otherwise((F.col("id") % 700).cast("double")).alias("v"))
        iv = spark.range(100).select(
            F.col("id").alias("iid"),
            (F.col("id") * 7).cast("double").alias("s"),
            (F.col("id") * 7 + 7).cast("double").alias("e"))
        out = interval_join(p, iv, "v", "s", "e", bin_width=7)
        qe = out._jdf.queryExecution()
        assert qe.toRdd().count() > 0   # finalizes the adaptive plan
        plan = qe.executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_interval_overlap_join_equals_naive_theta(spark):
    """The first-shared-bin emission must be result-identical to the
    naive overlap theta join (l_start < r_end AND r_start < l_end) —
    no duplicates from multi-bin overlaps, no misses from
    bin-straddling pairs, touching-but-not-overlapping (le == rs)
    excluded by half-open semantics, and ZERO-LENGTH intervals matched
    exactly per the predicate (a [x, x) strictly inside a nonempty
    partner satisfies it; [x, x) vs [x, x) does not — the r9 fuzz
    sweep caught the operator silently dropping s == e rows)."""
    from unilever_scraping_etl_spark.operators.relational import \
        interval_overlap_join

    ls = [(i, float(s), float(e)) for i, (s, e) in enumerate(
        [(-10, -2), (0, 7), (5, 30), (7, 8), (14, 21), (40, 41),
         (0, 70), (25, 25), (80, 80)])]
    rs = [(100 + j, float(s), float(e)) for j, (s, e) in enumerate(
        [(-5, 1), (6, 9), (8, 14), (20, 50), (41, 42), (69, 80),
         (25, 25), (80, 80), (24, 26)])]
    l = spark.createDataFrame(ls, "lid long, ls double, le double")
    r = spark.createDataFrame(rs, "rid long, rs double, re double")
    got = sorted((x.lid, x.rid) for x in interval_overlap_join(
        l, r, "ls", "le", "rs", "re", bin_width=7).collect())
    want = sorted((x.lid, x.rid) for x in
                  l.join(r, (l.ls < r.re) & (r.rs < l.le)).collect())
    assert got == want and len(got) > 0
    assert len(got) == len(set(got))  # exactly-once emission


def test_salted_join_equals_plain_join(spark):
    """Salting must be result-transparent: same rows as the plain join."""
    from unilever_scraping_etl_spark.operators.relational import salted_join

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_linenumber")
    orders = (load_table(spark, SF_SMOKE, "orders")
              .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"))
    salted = salted_join(li, orders, on=["l_orderkey"],
                         salt_by=["l_orderkey", "l_linenumber"], buckets=8)
    plain = li.join(orders, "l_orderkey")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_prefix_filter_jaccard_equals_naive(spark):
    """Prefix filtering must be result-transparent at any threshold
    (the filter only prunes candidates that provably can't reach t)."""
    from unilever_scraping_etl_spark.operators.dedup import (
        ngram_jaccard_pairs, ngram_jaccard_pairs_prefix)

    docs = load_table(spark, SF_SMOKE, "documents")
    for t in (0.12, 0.5, 0.8):
        naive = {(r.id_a, r.id_b): round(r.jaccard, 9)
                 for r in ngram_jaccard_pairs(docs, "doc_id", "text",
                                              threshold=t).collect()}
        pref = {(r.id_a, r.id_b): round(r.jaccard, 9)
                for r in ngram_jaccard_pairs_prefix(docs, "doc_id", "text",
                                                    threshold=t).collect()}
        assert naive == pref, f"threshold {t}: {len(naive)} vs {len(pref)} pairs"


def test_gemm_topk_equals_expression_topk(spark):
    """The GEMM kernel on a single grid cell (the whole corpus in one
    cosine_blocks call) must reproduce the expression-level brute
    force exactly (rounded scores, id tiebreak)."""
    from unilever_scraping_etl_spark.operators.similarity import (
        brute_force_topk, brute_force_topk_grid)

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    a = brute_force_topk(queries, emb, k=5)
    b = brute_force_topk_grid(queries, emb, k=5, n_blocks=1)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_connected_components_chain_triangle_singleton(spark):
    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, and node 20 absent
    # from the edge list (singletons are the caller's concern).
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long")
    got = {(r["node"], r["component"])
           for r in dedup.connected_components(edges, "id_a", "id_b").collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10), (12, 10)}


def test_connected_components_direction_insensitive(spark):
    # min id on the *destination* side still labels the component.
    edges = spark.createDataFrame([(5, 1), (5, 9)], "id_a long, id_b long")
    got = {(r["node"], r["component"])
           for r in dedup.connected_components(edges, "id_a", "id_b").collect()}
    assert got == {(1, 1), (5, 1), (9, 1)}


def test_connected_components_local_fast_path(spark, cc_local_bound):
    """At or below the ``_CC_LOCAL_EDGES_DEFAULT`` bound the operator
    runs the driver lane (one bounded probe, a numpy kernel) instead
    of the distributed loop.
    Pins (1) label equality with the distributed loop on
    a 500-edge random multigraph with dup edges, self-loops, and a
    long chain; (2) the bound semantics — above the bound the
    distributed loop runs (rounds > 0), at-or-below it the fast path
    does (rounds == 0); (3) the empty edge list."""
    import random

    rng = random.Random(17)
    edges = ([(rng.randrange(300), rng.randrange(300)) for _ in range(400)]
             + [(i + 1000, i + 1001) for i in range(90)]
             + [(7, 7), (42, 42), (13, 99), (13, 99)])
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    local = {(r["node"], r["component"]) for r in
             dedup.connected_components(df, "id_a", "id_b").collect()}
    assert dedup._LAST_CC_ROUNDS == 0  # fast path taken
    cc_local_bound(0)
    dist = {(r["node"], r["component"]) for r in
            dedup.connected_components(df, "id_a", "id_b").collect()}
    assert dedup._LAST_CC_ROUNDS > 0   # distributed loop ran
    assert local == dist and len(local) > 0
    # Bound is an edge-count limit on the materialized edge list.
    cc_local_bound(len(edges) - 1)
    dedup.connected_components(df, "id_a", "id_b").collect()
    assert dedup._LAST_CC_ROUNDS > 0
    cc_local_bound(len(edges))
    dedup.connected_components(df, "id_a", "id_b").collect()
    assert dedup._LAST_CC_ROUNDS == 0
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(empty, "id_a", "id_b").count() == 0


def test_connected_components_star_variant(spark, cc_local_bound):
    """r7 VERDICT item 5: the large-star/small-star loop (Kiveris et
    al. SoCC 2014) must return the identical (node, component) table
    as the driver lane — including the reattachment edge
    cases the contraction drops from the edge set: star centers
    (appear only as parents) and nodes whose only edge is a
    self-loop."""
    cases = [
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        [(5, 1), (5, 9)],                      # min on the dst side
        [(7, 7)],                              # self-loop-only node
        [(a, b) for a in range(1, 6) for b in range(a + 1, 6)],  # clique
        [(i, i + 1) for i in range(20)],       # chain, diameter 20
    ]
    default_bound = dedup._CC_LOCAL_EDGES_DEFAULT
    for edges in cases:
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        # bound 0: the distributed loop (the driver lane would
        # intercept it); then the default bound: the driver lane.
        cc_local_bound(0)
        st = {(r["node"], r["component"]) for r in
              dedup.connected_components(df, "id_a", "id_b").collect()}
        assert dedup._LAST_CC_ROUNDS > 0
        cc_local_bound(default_bound)
        uf = {(r["node"], r["component"]) for r in
              dedup.connected_components(df, "id_a", "id_b").collect()}
        assert st == uf and len(st) > 0, edges


def test_connected_components_star_two_lobe_regression(spark,
                                                      cc_local_bound,
                                                      monkeypatch):
    """r8 VERDICT "What's wrong" repro, verbatim: a sparse two-lobe
    graph (one component, min 0) where node 2 ends a round holding
    edges to TWO root parents (0 and 1). The old convergence test
    ("no parent is a child") passed in that state, splitting the
    component into {0,2,12,15,25,40}/{1,2,10,11,20,30} and emitting
    node 2 twice — violating the one-row-per-node contract. The fixed
    predicate also requires every child to have exactly one distinct
    parent, so the loop runs on past round 1 (where "no parent is a
    child" first holds) and merges the roots; with a one-round budget
    it must raise instead of returning the split labels."""
    edges = [(10, 1), (10, 30), (20, 2), (20, 30), (15, 0), (15, 40),
             (25, 2), (25, 40), (11, 1), (11, 20), (12, 0), (12, 25)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    cc_local_bound(0)
    rows = dedup.connected_components(df, "id_a", "id_b").collect()
    assert len(rows) == 11                      # one row per node
    assert {r["node"] for r in rows} == {0, 1, 2, 10, 11, 12,
                                         15, 20, 25, 30, 40}
    assert {r["component"] for r in rows} == {0}  # ONE component
    import pytest
    monkeypatch.setattr(dedup, "_CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(df, "id_a", "id_b")


def test_connected_components_null_endpoints_both_lanes(spark,
                                                       cc_local_bound):
    """One NULL rule in both lanes: an edge with a NULL endpoint links
    nothing, its non-NULL endpoint still appears and labels itself,
    an all-NULL edge contributes nothing, and no output row has a
    NULL node: 3 must not join component 1 through a NULL node."""
    df = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (4, 4), (None, None)],
        "id_a long, id_b long")
    want = {(1, 1), (2, 1), (3, 3), (4, 4)}
    for bound, rounds_taken in ((dedup._CC_LOCAL_EDGES_DEFAULT, False),
                                (0, True)):
        cc_local_bound(bound)
        rows = dedup.connected_components(df, "id_a", "id_b").collect()
        assert (dedup._LAST_CC_ROUNDS > 0) == rounds_taken, bound
        assert len(rows) == len(want), (bound, rows)
        assert {(r["node"], r["component"]) for r in rows} == want, bound


def test_connected_components_rounds_log_diameter(spark, cc_local_bound,
                                                 monkeypatch):
    """Pins the measured O(log d) round bound that justifies
    ``_CC_MAX_ROUNDS = 30`` (r7 VERDICT item 5): a worst-case chain of
    diameter 256 must converge in exactly log2(256) = 8 rounds (so 30
    rounds covers diameter ~2^29 — the BASELINE.md rounds-vs-diameter
    record), within a budget of 9. Also pins the honest
    non-convergence raise at a budget of 3."""
    d = 256
    edges = spark.range(d).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    # bound 0 opts out of the driver lane: this test pins the
    # DISTRIBUTED loop's round bound.
    cc_local_bound(0)
    monkeypatch.setattr(dedup, "_CC_MAX_ROUNDS", 9)
    out = dedup.connected_components(edges, "id_a", "id_b")
    assert out.filter("component = 0").count() == d + 1
    assert dedup._LAST_CC_ROUNDS == 8, dedup._LAST_CC_ROUNDS
    import pytest
    monkeypatch.setattr(dedup, "_CC_MAX_ROUNDS", 3)
    with pytest.raises(RuntimeError, match="_CC_MAX_ROUNDS=3"):
        dedup.connected_components(edges, "id_a", "id_b")


def test_ivf_recall_vs_brute_force(spark):
    # ANN quality gate: IVF (nlist=16, nprobe=4) must recover >=75% of
    # the exact cosine top-5 (measured 92.5% at sf0.001 and sf0.01 —
    # the bound leaves margin, a recall collapse means the quantizer or
    # probe join broke, not the data).
    from unilever_scraping_etl_spark.operators import similarity

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    exact = {(r[0], r[1])
             for r in similarity.brute_force_topk(qs, emb, k=5)
             .select("query_id", "neighbor_id").collect()}
    approx = {(r[0], r[1])
              for r in similarity.ivf_topk(qs, emb, k=5)
              .select("query_id", "neighbor_id").collect()}
    assert len(exact & approx) / len(exact) >= 0.75


def test_upsert_snapshot_replaces_only_touched_partitions(spark, tmp_path):
    from unilever_scraping_etl_spark.sources.ingest import (upsert_snapshot,
                                                            write_snapshot)

    path = str(tmp_path / "snap")
    base = spark.createDataFrame(
        [(1, 10.0, "2024-01-01"), (2, 20.0, "2024-01-01"),
         (3, 30.0, "2024-01-02")],
        "id long, price double, createdate string"
    ).withColumn("createdate", F.to_date("createdate"))
    write_snapshot(base, path)

    # re-scrape of day 2: id 3 re-priced, id 4 new; day 1 must survive
    fix = spark.createDataFrame(
        [(3, 33.0, "2024-01-02"), (4, 40.0, "2024-01-02")],
        "id long, price double, createdate string"
    ).withColumn("createdate", F.to_date("createdate"))
    upsert_snapshot(fix, path)
    upsert_snapshot(fix, path)  # idempotent by value

    got = {(r["id"], r["price"], str(r["createdate"]))
           for r in spark.read.parquet(path).collect()}
    assert got == {(1, 10.0, "2024-01-01"), (2, 20.0, "2024-01-01"),
                   (3, 33.0, "2024-01-02"), (4, 40.0, "2024-01-02")}


def test_grid_gemm_pairs_equal_one_block_and_exact(spark):
    # the 4-block grid (diagonal and off-diagonal cells) must produce
    # the same pairs as the single cell — same float64 kernel, same
    # rounding, same orientation — and as the exact cosine pairs.
    emb = load_table(spark, SF_SMOKE, "embeddings")
    one = {tuple(r) for r in dedup.embedding_near_pairs_grid(
        emb, "vec_id", "embedding", threshold=0.4, n_blocks=1).collect()}
    gr = {tuple(r) for r in dedup.embedding_near_pairs_grid(
        emb, "vec_id", "embedding", threshold=0.4, n_blocks=4).collect()}
    assert one == gr == _exact_near_pairs(emb, 0.4) and len(gr) > 0


def test_simhash_guard_identity_below_cap(spark):
    """With every bucket under the cap, the guarded simhash plan is
    output-identical to the unguarded one (the registered
    dedup_simhash relies on this: max_bucket_size=1024 changes nothing
    at sf0.01, only the 100 TB failure mode)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    plain = sorted(map(tuple, dedup.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=3).collect()))
    guarded = sorted(map(tuple, dedup.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=3,
        max_bucket_size=1024).collect()))
    assert plain == guarded and len(guarded) > 0


def test_embedding_lsh_guard_identity_below_cap(spark):
    """Same identity pin for the hyperplane-LSH family at the
    registered settings (16 bands x 8 planes, cap 1024)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    plain = sorted(map(tuple, dedup.embedding_lsh_pairs(
        emb, "vec_id", "embedding", threshold=0.4,
        n_bands=16, n_planes=8).collect()))
    guarded = sorted(map(tuple, dedup.embedding_lsh_pairs(
        emb, "vec_id", "embedding", threshold=0.4,
        n_bands=16, n_planes=8, max_bucket_size=1024).collect()))
    assert plain == guarded and len(guarded) > 0


def test_lsh_verify_stage_balanced_on_clustered_corpus(spark):
    """r6 VERDICT item 4: on a corpus where EVERY vector lands in the
    same LSH buckets (one dense cluster — the adversarial case for the
    verify stage), the Arrow verify input must spread across
    partitions instead of concentrating where a hub id hashes. The
    pair repartition makes the verify partitioning a hash of the
    unique (id_a, id_b) pair, so with P partitions and M >> P pairs no
    partition should hold more than a few times M/P rows."""
    n = 64
    base = [0.25, -0.5, 1.0, 0.125] * 16
    rows = [(i, base) for i in range(n)]  # one exact cluster
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.embedding_lsh_pairs(emb, "vec_id", "embedding",
                                    threshold=-1.0, n_bands=4, n_planes=4,
                                    max_bucket_size=4096)
    # AQE coalescing would legitimately merge these tiny partitions
    # locally; what's under test is the pre-coalesce spread at scale,
    # so pin the raw partitioning for this one query and restore the
    # session's own prior value afterwards (r7 ADVICE: a hard-coded
    # "true" would mutate a differently-configured shared session).
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(coalesce_key)
    spark.conf.set(coalesce_key, "false")
    try:
        per_part = (out.withColumn("pid", F.spark_partition_id())
                    .groupBy("pid").count().collect())
    finally:
        spark.conf.set(coalesce_key, saved)
    counts = [r["count"] for r in per_part]
    total = sum(counts)
    assert total == n * (n - 1) // 2  # every pair verified exactly once
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(counts) > n_parts // 2   # spread, not concentrated
    assert max(counts) <= 4 * total / n_parts


def test_ngram_design_point_pinned():
    """r6 VERDICT item 5: the naive shared-shingle Jaccard join is the
    ORACLE COMPANION, not the production path — the designation must be
    stated on the operator and on the registered query so a user
    picking a dedup path at 100 TB is routed to the prefix/minhash
    forms (mirrors how sim_topk routes to sim_topk_gemm)."""
    doc = dedup.ngram_jaccard_pairs.__doc__
    assert "ORACLE COMPANION" in doc
    assert "ngram_jaccard_pairs_prefix" in doc
    assert "minhash_candidates" in doc
    qdoc = QUERIES["dedup_ngram"].doc
    assert "ORACLE COMPANION" in qdoc
    assert "dedup_ngram_prefix" in qdoc and "dedup_near" in qdoc


def test_star_path_carries_correct_payload(spark):
    """With a cap small enough that every bucket star-links, the
    payload columns on star edges must be each endpoint's OWN
    fingerprint (the hub's via the min-struct window) — a wrong
    payload would silently corrupt the hamming verify on star edges."""
    from unilever_scraping_etl_spark.operators.dedup import (
        simhash64_arrow, simhash_candidates)

    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    fps = {r["doc_id"]: r["simhash"] for r in
           simhash64_arrow(docs, "doc_id", "text").collect()}
    rows = simhash_candidates(docs, "doc_id", "text", max_hamming=3,
                              max_bucket_size=1).collect()
    assert len(rows) > 0  # cap 1 forces every 2+ bucket onto the star path
    for r in rows:
        assert r["simhash_a"] == fps[r["id_a"]], r
        assert r["simhash_b"] == fps[r["id_b"]], r
        assert r["id_a"] < r["id_b"], r


def test_dedup_editdist_band_plan_shape(spark):
    """The registered dedup_editdist joins on the (block, band) equi
    keys — never a cartesian — and the length band actually reaches
    the join keys (a band that ends up only in a post-join filter
    would not split the hot block's shuffle cell)."""
    plan = _plan(QUERIES["dedup_editdist"].spark(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "band" in plan and "levenshtein" in plan
    join_lines = [l for l in plan.splitlines()
                  if "HashJoin" in l or "SortMergeJoin" in l]
    assert any("band" in l for l in join_lines), join_lines


def _levenshtein(a: str, b: str) -> int:
    """Reference edit distance (unit-cost insert/delete/substitute),
    the plain O(len_a * len_b) dynamic program."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _editdist_reference(rows, max_dist: int):
    """Every (id_a < id_b) pair of ``rows`` = (id, text, *block) with
    equal block values and edit distance <= ``max_dist``."""
    out = []
    for ia, ta, *ka in rows:
        for ib, tb, *kb in rows:
            if ia < ib and ka == kb:
                d = _levenshtein(ta, tb)
                if d <= max_dist:
                    out.append((ia, ib, d))
    return sorted(out)


def test_editdist_length_band_identity(spark):
    """The length-banded edit-distance join must lose no pair (levenshtein
    <= d bounds the length delta by d, so band width d+1 with neighbor
    replication is exact): equal to a pure-Python Levenshtein over the
    same (brand, size) blocks — including pairs that STRADDLE a band
    boundary."""
    p = load_table(spark, SF_SMOKE, "part") \
        .select("p_partkey", "p_name", "p_brand", "p_size")
    banded = sorted(map(tuple, dedup.editdist_pairs(
        p, "p_partkey", "p_name", ["p_brand", "p_size"],
        max_dist=8).collect()))
    want = _editdist_reference([tuple(r) for r in p.collect()], 8)
    assert banded == want and len(banded) > 0
    # synthetic straddle: lengths 8 and 10 sit in bands 0 and 1 at
    # width 9 — the pair must still be found (dist 2 <= 8)
    straddle = spark.createDataFrame(
        [(1, "aaaaaaaa", "B", 1), (2, "aaaaaaaaaa", "B", 1),
         (3, "zzzzzzzzzzzzzzzzzzzzzzzzzzzz", "B", 1)],
        "id long, name string, brand string, size int")
    got = {(r.id_a, r.id_b, r.dist) for r in dedup.editdist_pairs(
        straddle, "id", "name", ["brand", "size"], max_dist=8).collect()}
    assert got == {(1, 2, 2)}


def test_editdist_rejects_unkeyed_join(spark):
    """r7 ADVICE: with ``block_cols=[]`` the only key left is the
    length band; the join must stay equi-keyed on it — never the
    corpus-wide nested-loop cross join the operator's docstring
    promises never happens — and still find the in-band pair."""
    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "xyzzy")], "id long, name string")
    got = {(r.id_a, r.id_b, r.dist) for r in dedup.editdist_pairs(
        df, "id", "name", [], max_dist=2).collect()}
    assert got == {(1, 2, 1)}
    plan = _plan(dedup.editdist_pairs(df, "id", "name", [], max_dist=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grid_topk_equals_expression_topk(spark):
    from unilever_scraping_etl_spark.operators import similarity

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    ex = {tuple(r) for r in similarity.brute_force_topk(
        qs, emb, k=5).collect()}
    gr = {tuple(r) for r in similarity.brute_force_topk_grid(
        qs, emb, k=5, n_blocks=4).collect()}
    assert ex == gr and len(gr) == 40


def test_grid_range_search_equals_exact_range_search(spark):
    """r5 VERDICT item 4: the distributed range-search grid (corpus
    hashed into blocks, one GEMM + threshold per cell, NO merge window)
    must equal the exact range search — the oracle's rounding, self
    pairs excluded — which the registered sim_range_search's DuckDB
    oracle states."""
    import numpy as np

    from unilever_scraping_etl_spark.operators import similarity

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    qid, cid, cos = _exact_cosine(emb, qs)
    qi, ci = np.nonzero((cos >= 0.35) & (qid[:, None] != cid[None, :]))
    want = {(int(qid[i]), int(cid[j]), float(cos[i, j]))
            for i, j in zip(qi, ci)}
    gr = {tuple(r) for r in similarity.range_search_grid(
        qs, emb, threshold=0.35, n_blocks=4).collect()}
    assert want == gr and len(gr) > 0


def test_grid_multi_block_scale_smoke(spark):
    """r5 VERDICT item 5: at bench scale the adaptive grid degenerates
    to one cell, so the multi-block branch of the GEMM kernels only ran
    on synthetic unit inputs. Inflate the real embeddings table 8x
    (distinct ids per copy) so a 4-block grid genuinely distributes
    across 4 populated corpus cells, and pin both kernels' multi-block
    output equal to their single-cell plan on the same data. Wall times
    for the two layouts are recorded in BASELINE.md ("grid crossover")."""
    from unilever_scraping_etl_spark.operators import similarity

    emb = load_table(spark, SF_SMOKE, "embeddings")
    copies = [emb.select((F.col("vec_id") + F.lit(100_000 * i)).alias("vec_id"),
                         "embedding") for i in range(8)]
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    big = big.localCheckpoint()  # freeze: both layouts read identical data
    qs = big.filter(F.col("vec_id") % 400 == 0)

    one_rng = {tuple(r) for r in similarity.range_search_grid(
        qs, big, threshold=0.35, n_blocks=1).collect()}
    four_rng = {tuple(r) for r in similarity.range_search_grid(
        qs, big, threshold=0.35, n_blocks=4).collect()}
    assert one_rng == four_rng and len(four_rng) > 0

    one_topk = {tuple(r) for r in similarity.brute_force_topk_grid(
        qs, big, k=5, n_blocks=1).collect()}
    four_topk = {tuple(r) for r in similarity.brute_force_topk_grid(
        qs, big, k=5, n_blocks=4).collect()}
    assert one_topk == four_topk and len(four_topk) > 0


def test_sketch_rollup_accuracy(spark):
    # merged day-sketches must estimate within 5% of the exact
    # distinct count (HLL lgK default gives ~1-2% typical error).
    from unilever_scraping_etl_spark.plans.registry import QUERIES

    approx = {r["event_type"]: r["approx_users"]
              for r in QUERIES["agg_sketch_rollup"].spark(spark, SF_SMOKE)
              .collect()}
    exact = {r["event_type"]: r["n"]
             for r in load_table(spark, SF_SMOKE, "events")
             .groupBy("event_type").agg(F.countDistinct("user_id").alias("n"))
             .collect()}
    assert set(approx) == set(exact)
    for et, n in exact.items():
        assert abs(approx[et] - n) / n <= 0.05


def test_hyperplane_bucket_runs_and_is_deterministic(spark):
    # The bucket id must evaluate, land in [0, 2^n_planes), and be
    # identical across invocations (fixed pseudo-weights, no RNG).
    from unilever_scraping_etl_spark.operators.similarity import \
        hyperplane_band_buckets

    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = emb.select("vec_id",
                     hyperplane_band_buckets(1, 8)(F.col("embedding"))[0]
                     .alias("bkt"))
    rows = {(r["vec_id"], r["bkt"]) for r in out.collect()}
    assert all(0 <= b < 256 for _, b in rows)
    assert len({b for _, b in rows}) > 1  # planes actually split the corpus
    again = {(r["vec_id"], r["bkt"]) for r in out.collect()}
    assert rows == again


def test_simhash_band_recall_complete_at_max_hamming(spark):
    # Pigeonhole completeness: with chunk count derived as
    # max_hamming + 1, the banded join must find EVERY pair whose true
    # hamming distance <= max_hamming (a fixed 4-chunk split silently
    # dropped hamming-4..8 pairs spread across all four chunks).
    docs = load_table(spark, SF_SMOKE, "documents").limit(120)
    fps = dedup.simhash64_arrow(docs, "doc_id", "text")
    a, b = fps.alias("a"), fps.alias("b")
    for h in (3, 8):
        truth = {(r[0], r[1]) for r in
                 a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
                 .select(F.col("a.doc_id"), F.col("b.doc_id"),
                         F.bit_count(F.col("a.simhash")
                                     .bitwiseXOR(F.col("b.simhash")))
                         .alias("hd"))
                 .filter(F.col("hd") <= h).collect()}
        banded = {(r["id_a"], r["id_b"]) for r in
                  dedup.simhash_near_pairs(docs, "doc_id", "text",
                                           max_hamming=h).collect()}
        assert banded == truth, f"max_hamming={h}"


def test_connected_components_raises_when_unconverged(spark,
                                                     cc_local_bound,
                                                     monkeypatch):
    # A long-diameter chain with too few rounds must raise, not return
    # silently-wrong labels (the 11-chain needs log2(11) > 2 rounds).
    import pytest as _pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long")
    cc_local_bound(0)
    monkeypatch.setattr(dedup, "_CC_MAX_ROUNDS", 2)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edges, "id_a", "id_b")


def test_decode_images_output_chunking_and_no_conf_mutation(spark):
    # decode_images must not mutate the session-global Arrow batch conf
    # (lazy plans make set/restore impossible), and chunked output must
    # still cover every input row exactly once.
    from unilever_scraping_etl_spark.sources import multimodal

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key, None)
    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    media = multimodal.synthetic_media_from_documents(docs)
    out = multimodal.decode_images(media, batch_rows=7)
    assert out.count() == 50
    assert out.select("media_id").distinct().count() == 50
    assert spark.conf.get(key, None) == before


def test_salted_join_spreads_hot_key_and_stays_correct(spark):
    """Skew demo (round-1 verdict: 'show salting winning, not just
    costing'): on a corpus where ONE key carries 80% of the big side,
    the salt must (a) keep the join result-transparent and (b) actually
    spread the hot key over `buckets` composite reduce groups — the
    property that turns one straggler reducer into `buckets` even ones
    at 100 TB. (The timed win is recorded in BASELINE.md — wall-clock
    asserts are too flaky under container co-tenancy.)"""
    from unilever_scraping_etl_spark.operators.relational import salted_join

    n, buckets = 200_000, 8
    big = spark.range(n).select(
        F.col("id").alias("row_id"),
        F.when(F.pmod("id", F.lit(10)) < 8, F.lit(1))
         .otherwise(F.pmod(F.xxhash64("id"), F.lit(500))).alias("k"))
    small = spark.range(500).select(F.col("id").alias("k"),
                                    (F.col("id") * 7).alias("payload"))
    salted = salted_join(big, small, on=["k"], salt_by=["row_id"],
                         buckets=buckets)
    plain = big.join(small, "k")
    assert salted.count() == plain.count()
    assert (salted.filter(F.col("k") == 1).count()
            == plain.filter(F.col("k") == 1).count())

    # Spread: re-derive the salt the operator uses and check the hot
    # key's rows land in all `buckets` groups, none holding more than
    # ~2x the even share.
    hot = big.filter(F.col("k") == 1).withColumn(
        "salt", F.pmod(F.xxhash64("row_id"), F.lit(buckets)))
    sizes = [r["n"] for r in
             hot.groupBy("salt").agg(F.count(F.lit(1)).alias("n")).collect()]
    hot_n = sum(sizes)
    assert len(sizes) == buckets
    assert max(sizes) <= 2 * hot_n / buckets


def test_asof_join_sliced_hot_key_equals_plain(spark):
    """As-of skew demo (r4 verdict #7): one hot user carries 80% of both
    sides. The time-sliced variant must (a) produce EXACTLY the plain
    union+window plan's rows — including matches that cross slice
    boundaries and left rows with no match at all — and (b) actually
    spread the hot key over many (key, slice) window cells, the
    property that turns one straggler sort into bounded ones at 100 TB.
    (The timed comparison is recorded in BASELINE.md — wall-clock
    asserts are too flaky under container co-tenancy.)"""
    from unilever_scraping_etl_spark.operators.relational import (
        asof_join, asof_join_sliced)

    n = 50_000
    slice_sec = 3600  # hourly slices; data spans ~14 hours
    hot = F.when(F.pmod("id", F.lit(10)) < 8, F.lit(1)) \
           .otherwise(F.pmod(F.xxhash64("id"), F.lit(50)))
    left = spark.range(n).select(
        hot.alias("uid"), F.col("id").alias("lid"),
        (F.col("id") * 1_000_000).alias("t"))          # µs ticks, 1s apart
    right = spark.range(0, n, 7).select(
        hot.alias("uid"),
        (F.col("id") * 1_000_000 + 500_000).alias("t"),
        (F.col("id") * 3).alias("payload"))
    # integer time axis -> slice/tolerance in raw units
    for direction in ("backward", "forward"):
        plain = asof_join(left, right, ["uid"], "t", ["lid"], ["payload"],
                          direction=direction)
        sliced = asof_join_sliced(left, right, ["uid"], "t",
                                  ["lid"], ["payload"], direction=direction,
                                  slice_sec=slice_sec)
        assert sorted(map(tuple, sliced.collect())) \
            == sorted(map(tuple, plain.collect())), direction

    # tolerance path too (voids matches further than 2 ticks)
    plain_t = asof_join(left, right, ["uid"], "t", ["lid"], ["payload"],
                        tolerance_sec=2_000_000)
    sliced_t = asof_join_sliced(left, right, ["uid"], "t",
                                ["lid"], ["payload"],
                                tolerance_sec=2_000_000,
                                slice_sec=slice_sec)
    assert sorted(map(tuple, sliced_t.collect())) \
        == sorted(map(tuple, plain_t.collect()))

    # Spread: the hot key's union rows must land in every active slice,
    # none holding more than ~2x the even share — i.e. the sort that
    # was one task is now bounded per (key, slice) cell.
    u_hot = left.filter(F.col("uid") == 1).select(
        F.floor(F.col("t") / F.lit(slice_sec * 1_000_000)).alias("s"))
    sizes = [r["n"] for r in
             u_hot.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()]
    assert len(sizes) >= 10
    assert max(sizes) <= 2 * sum(sizes) / len(sizes)


def test_embedding_lsh_planted_near_dup_recall(spark):
    """Hyperplane LSH is built for HIGH-similarity pairs (the corpus's
    organic pairs top out at cos ~0.51, where any LSH is weak by
    construction) — so plant actual near-duplicates: a slightly
    perturbed copy of each vector (cos ~0.999). The banded join must
    recover >= 90% of the planted pairs, every emitted pair must pass
    the exact-cosine verify (precision 1.0), and no pair may come from
    a cartesian plan."""
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(200)
    dup = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, j: x.cast("float")
            + (0.01 * F.cos(j.cast("double"))).cast("float"),
        ).alias("embedding"),
        "label")
    corpus = emb.unionByName(dup)
    pairs = dedup.embedding_lsh_pairs(corpus, "vec_id", "embedding",
                                      threshold=0.9, n_bands=16, n_planes=6)
    assert "CartesianProduct" not in _plan(pairs)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    planted = {(r["vec_id"], r["vec_id"] + 100000) for r in
               emb.select("vec_id").collect()}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"planted-pair recall {recall:.2f}"


def test_embedding_lsh_is_subset_of_exact(spark):
    # Verification step means zero false positives vs the exact rounded
    # cosine pair set at the same threshold.
    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {(a, b) for a, b, _ in _exact_near_pairs(emb, 0.4)}
    lsh = {(r["id_a"], r["id_b"]) for r in
           dedup.embedding_lsh_pairs(emb, "vec_id", "embedding",
                                     threshold=0.4).collect()}
    assert lsh <= exact


def test_incremental_dedup_semantics(spark):
    # The survivor set must be disjoint from the existing manifest and
    # hash-unique within itself; every dropped new doc must collide with
    # either the manifest or a lower-id batch member.
    docs = load_table(spark, SF_SMOKE, "documents")
    out = QUERIES["dedup_incremental"].spark(spark, SF_SMOKE)
    rows = out.collect()
    surv_hashes = [r["h"] for r in rows]
    assert len(surv_hashes) == len(set(surv_hashes))
    existing = {r["h"] for r in
                docs.filter(F.col("doc_id") % 4 != 0)
                .select(F.md5(F.col("text").cast("binary")).alias("h"))
                .collect()}
    assert not (set(surv_hashes) & existing)
    # survivors are the min doc_id of their batch hash group
    batch = {(r["doc_id"], r["h"]) for r in
             docs.filter(F.col("doc_id") % 4 == 0)
             .select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
             .collect()}
    for r in rows:
        assert r["doc_id"] == min(d for d, h in batch if h == r["h"])


def test_adaptive_n_blocks_sizes_grid_to_data(spark):
    """VERDICT r2 item 3: the GEMM grid must be data-aware — a corpus
    under one block budget degenerates to the single-cell grid (== the
    test-pinned broadcast-identical path), a corpus over it engages the
    grid, and the block count is capped."""
    from unilever_scraping_etl_spark.operators.similarity import \
        adaptive_n_blocks

    emb = load_table(spark, SF_SMOKE, "embeddings")
    assert adaptive_n_blocks(emb) == 1                       # 64 MB default
    forced = adaptive_n_blocks(emb, target_block_bytes=1024)
    assert forced > 1                                        # grid engages
    assert adaptive_n_blocks(emb, target_block_bytes=1, max_blocks=16) == 16


def test_band_buckets_gemm_matches_per_row_reference(spark):
    """VERDICT r2 item 2: the one-GEMM pandas-UDF bucket computation
    must produce the SAME bucket ids as per-band sequential folds over
    the same cos-pattern weights (a divergence is possible only for a
    projection within float noise of zero, which this corpus doesn't
    have)."""
    from unilever_scraping_etl_spark.operators.similarity import \
        hyperplane_band_buckets

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(200)
    n_bands, n_planes = 4, 6
    rows = emb.select("embedding",
                      hyperplane_band_buckets(n_bands, n_planes)(
                          F.col("embedding")).alias("bks")).collect()
    assert len(rows) == 200
    for r in rows:
        assert list(r["bks"]) == _band_buckets_reference(
            r["embedding"], n_bands, n_planes)


def test_tfidf_builds_with_no_driver_side_job(spark, monkeypatch):
    """VERDICT r2 item 4: constructing the tfidf plan must not run any
    driver-side action (the old docs.count() was a full extra corpus
    scan before the real job); N now comes from a broadcast scalar agg
    inside the plan."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("driver-side action during plan construction")
    monkeypatch.setattr(DataFrame, "count", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    df = QUERIES["tfidf_top_terms"].spark(spark, SF_SMOKE)  # builds lazily
    monkeypatch.undo()
    assert df.limit(1).count() >= 0                          # and still runs


def test_decode_images_warns_on_oversized_arrow_batches(spark):
    """Round-2 ADVICE: the input-batch memory risk must be surfaced
    where it can be acted on — a ResourceWarning when the session's
    Arrow batch conf exceeds the sane bound for payload frames."""
    import warnings

    from unilever_scraping_etl_spark.sources import multimodal

    key = multimodal.ARROW_BATCH_CONF
    before = spark.conf.get(key, None)
    docs = load_table(spark, SF_SMOKE, "documents").limit(5)
    media = multimodal.synthetic_media_from_documents(docs)
    try:
        spark.conf.set(key, "100000")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            multimodal.decode_images(media)
        assert any(issubclass(w.category, ResourceWarning) for w in caught)

        spark.conf.set(key, "256")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            multimodal.decode_images(media)
        assert not caught
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_export_order_evicts_modified_and_rotates_oldest(monkeypatch):
    """Certification-ledger ordering (round-2 ADVICE medium + VERDICT
    item 8, tightened per round-3 ADVICE): queries whose BEHAVIOR
    changed this round — wrapper edits or edits to operator modules
    they transitively use — must sit inside the driver's first-50
    verification window; certified queries follow oldest-round first;
    and corrupting a certified fingerprint auto-evicts the query into
    the head."""
    from unilever_scraping_etl_spark.plans import certified, registry

    names = list(registry.spark_queries())
    window = set(names[:50])
    # The window guarantee covers tiers 1-2: never-verified queries and
    # wrapper-level rewrites. Pure dep-module evictions (tier 3) have
    # pinned-identical outputs and may wait a rotation when the head
    # overflows 50.
    never_green = {n for n in names if n not in certified.EVER_GREEN}
    # tier 2 = ever-green queries whose wrapper/oracle text changed
    # since their last green run (true semantic rewrites), derived
    # from the ledger rather than hardcoded per round
    rewritten = {
        n for n in names
        if registry._cert_round(n) is None and n in certified.EVER_GREEN
        and certified.LAST_GREEN_WRAPPER_FP.get(n)
        != registry._wrapper_fp(registry.QUERIES[n])}
    touched = never_green | rewritten
    assert touched <= window, f"missing from window: {touched - window}"

    rounds = [registry._cert_round(n) for n in names]
    certified_rounds = [r for r in rounds if r is not None]
    head_len = len(rounds) - len(certified_rounds)
    assert all(r is None for r in rounds[:head_len])          # head first
    assert certified_rounds == sorted(certified_rounds)       # oldest first

    victim = names[-1]                                        # a certified one
    rnd, _fp = certified.CERTIFIED[victim]
    monkeypatch.setitem(certified.CERTIFIED, victim, (rnd, "tampered"))
    after = list(registry.spark_queries())
    # auto-evicted: no longer certified, ordered before every
    # still-certified query (it may sit past the 50-window only when
    # the uncertified block itself exceeds 50 — e.g. a module edit
    # evicting dozens at once — in which case the window catches it on
    # the following round's rotation).
    assert registry._cert_round(victim) is None
    first_certified = next(i for i, n in enumerate(after)
                           if registry._cert_round(n) is not None)
    assert after.index(victim) < first_certified


def test_parse_bytes_handles_suffixed_conf_values():
    """r3 ADVICE: Spark reports byte confs as the string they were set
    with ('128m', '64MB', ...) — int() alone silently fell back to the
    hard-coded default, overestimating split counts for users who
    lowered maxPartitionBytes."""
    from unilever_scraping_etl_spark.plans.registry import _parse_bytes

    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("64MB") == 64 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("512k") == 512 << 10
    assert _parse_bytes(None) == 128 << 20
    assert _parse_bytes("garbage") == 128 << 20


def test_adaptive_n_blocks_guards_statless_sources(spark):
    """r3 ADVICE: a createDataFrame-backed frame has no stats, so
    Catalyst reports defaultSizeInBytes (Long.MaxValue); the grid sizer
    must treat that as 'unknown' and fall back to a partition-count
    heuristic instead of returning max_blocks for tiny data."""
    from unilever_scraping_etl_spark.operators.similarity import (
        adaptive_n_blocks, plan_size_bytes)

    local = spark.createDataFrame([(i, [0.1] * 8) for i in range(10)],
                                  "id: long, v: array<float>")
    assert plan_size_bytes(local) is None or plan_size_bytes(local) < (1 << 50)
    got = adaptive_n_blocks(local, target_block_bytes=1024, max_blocks=64)
    assert got < 64, "statless source must not max out the grid"


def test_fingerprint_tracks_operator_module_sources(tmp_path, monkeypatch):
    """r3 ADVICE medium: the certification fingerprint must move when an
    operator/streaming module a query imports changes, not only when the
    registered wrapper changes — otherwise an operator edit keeps a
    stale certificate and skips external re-verification."""
    from unilever_scraping_etl_spark.plans import registry

    # stream_tumbling's wrapper imports ..streaming.windows — the dep
    # scan must resolve that module.
    spec = registry.QUERIES["stream_tumbling"]
    import inspect
    src = inspect.getsource(inspect.unwrap(spec.spark))
    mods = registry._engine_module_files()
    assert "windows" in registry._deps_of(src, mods)

    # Changing the module body (here: a patched copy of the file map)
    # must change the fingerprint.
    before = registry._fingerprint(spec)
    patched = tmp_path / "windows.py"
    patched.write_text(open(mods["windows"]).read() + "\n# semantic edit\n")
    monkeypatch.setattr(
        registry, "_engine_module_files",
        lambda m=dict(mods, windows=str(patched)): m)
    assert registry._fingerprint(spec) != before


def test_seq_pack_invariants(spark):
    """Packing semantics: every doc in exactly one pack; pack token
    totals never exceed budget + one doc's overrun; consecutive pack
    ids per stream with no gaps."""
    from unilever_scraping_etl_spark.operators.packing import pack_sequences

    docs = load_table(spark, SF_SMOKE, "documents")
    budget = 512
    packs = pack_sequences(docs, budget=budget).collect()
    n_docs = docs.count()
    assert sum(r["n_docs"] for r in packs) == n_docs
    max_doc_tokens = docs.select(
        F.size(F.split(F.lower("text"), " ")).alias("t")
    ).agg(F.max("t")).collect()[0][0]
    for r in packs:
        assert r["pack_tokens"] < budget + max_doc_tokens
    by_stream = {}
    for r in packs:
        by_stream.setdefault((r["lang"], r["stream"]), []).append(r["pack_id"])
    for ids in by_stream.values():
        assert sorted(ids) == list(range(len(ids)))   # dense, from 0


def test_shard_positions_are_dense_permutation(spark):
    from unilever_scraping_etl_spark.operators.packing import assign_shards

    docs = load_table(spark, SF_SMOKE, "documents")
    rows = assign_shards(docs, n_shards=16).collect()
    assert len(rows) == docs.count()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r["pos"])
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), f"shard {shard}"
    # every shard must actually receive load (the ASCII-code hashing bug
    # left shards 10-15 permanently empty while the oracle agreed)
    assert set(by_shard) == set(range(16))
    expected = len(rows) / 16
    assert all(expected * 0.5 <= len(ps) <= expected * 1.5
               for ps in by_shard.values()), "shard load skew > 50%"


def test_chunking_reassembles_and_has_no_shuffle(spark):
    from unilever_scraping_etl_spark.operators.packing import chunk_documents

    docs = load_table(spark, SF_SMOKE, "documents")
    chunks = chunk_documents(docs, chunk_size=500)
    assert "Exchange" not in _plan(chunks)            # pure narrow map
    got = (chunks.groupBy("doc_id").agg(F.sum("chunk_len").alias("n"))
           .collect())
    want = {r["doc_id"]: r["n_chars"] for r in
            docs.filter(F.col("n_chars") > 0).collect()}
    assert {r["doc_id"]: r["n"] for r in got} == want


def test_sample_per_group_uses_window_group_limit(spark):
    plan = _plan(QUERIES["sample_per_group"].spark(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan


def test_tpch_q3_plan_take_ordered_and_pushdown(spark):
    """Q3 analog: the top-10 must plan as TakeOrderedAndProject (no
    global sort) and the selective filters must reach the scans."""
    plan = _plan(QUERIES["shipping_priority_topn"].spark(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [IsNotNull" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q5_broadcasts_dimensions(spark):
    """Q5 analog: region/nation (and the nation-filtered customer side
    at this scale) must broadcast — the 6-way join's only big shuffle
    is the fact table's."""
    plan = _plan(QUERIES["regional_supplier_volume"].spark(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_tpch_q4_exists_plans_as_semi_join_with_residual(spark):
    """Q4 analog: the EXISTS must plan as ONE LeftSemi hash join whose
    cross-side date comparison rides as a join residual — not a fan-out
    join + distinct, and never a cartesian."""
    plan = _plan(QUERIES["order_priority_check"].spark(spark, SF_SMOKE))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "Distinct" not in plan


def test_tpch_q19_disjunction_pushes_supersets_into_scans(spark):
    """Q19 analog: CNF extraction must push the per-side superset of
    the OR-ed clauses into each parquet scan (quantity ranges into
    lineitem, type/size into part) instead of filtering after the
    join."""
    plan = _plan(QUERIES["disjunctive_filter_revenue"].spark(spark, SF_SMOKE))
    li_scan = next(l for l in plan.splitlines()
                   if "FileScan" in l and "lineitem" in l)
    part_scan = next(l for l in plan.splitlines()
                     if "FileScan" in l and "part.parquet" in l)
    assert "l_quantity" in li_scan.split("DataFilters")[1]
    assert "p_type" in part_scan.split("DataFilters")[1]
    assert "CartesianProduct" not in plan


def test_tpch_q18_aggregates_before_joining(spark):
    """Q18 analog: the quantity HAVING must collapse lineitem BEFORE
    the orders/customer joins — the aggregate sits under the joins in
    the physical plan, so only surviving orderkeys shuffle onward."""
    plan = _plan(QUERIES["large_order_customers"].spark(spark, SF_SMOKE))
    agg_pos = plan.find("HashAggregate")
    assert agg_pos != -1
    # every join operator appears ABOVE (before, in toString order)
    # the lineitem aggregate's FileScan
    li_scan_pos = plan.find("FileScan parquet", agg_pos)
    join_positions = [plan.find(j) for j in
                      ("BroadcastHashJoin", "SortMergeJoin",
                       "ShuffledHashJoin") if j in plan]
    assert join_positions and min(join_positions) < li_scan_pos


def test_tpch_q22_anti_join_and_scalar_broadcast(spark):
    """Q22 analog: NOT EXISTS must plan as LeftAnti; the global-average
    scalar joins back as a broadcast (nested-loop over ONE row is
    fine); no full cartesian against a multi-row side."""
    plan = _plan(QUERIES["dormant_customer_balance"].spark(spark, SF_SMOKE))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_conversion_funnel_single_event_shuffle(spark):
    """The funnel's chained windows and per-user collapse must all ride
    ONE user_id exchange (plus the final 3-number SinglePartition agg);
    no count_distinct Expand tripling the stream, no second scan."""
    plan = _plan(QUERIES["conversion_funnel"].spark(spark, SF_SMOKE))
    assert plan.count("FileScan") == 1
    assert plan.count("Expand") == 0
    assert plan.count("Exchange hashpartitioning") == 1


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


try:
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    _BIG = 1 << 53

    @settings(max_examples=20, deadline=None)
    @given(st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)),
        min_size=1, max_size=20))
    # first-seen order differs from id order
    @example([(50, 3), (40, 60), (60, 2), (9, 9)])
    # negative ids
    @example([(-5, 10), (10, -20), (-1, -1), (-3, 7)])
    # ids above 2^53, where a float conversion merges neighbours
    @example([(_BIG + 3, _BIG + 1), (_BIG + 2, _BIG + 1),
              ((1 << 62) + 1, -(1 << 62)), (_BIG, _BIG)])
    def test_connected_components_property_vs_union_find(edges):
        """Both lanes must agree with a reference union-find on
        arbitrary small graphs (chains, cliques, forests, duplicates) —
        min-id component labels exactly — self-loops INCLUDED (the
        contraction drops them from the edge set, the node reattachment
        must restore them self-labeled). Every example runs the driver
        lane (the default bound) and the distributed loop (bound 0,
        patched in the body: hypothesis rejects function-scoped
        fixtures). SPARSE strategy (≤20 edges over ids 0-60): dense
        40-edge/31-node examples never reach the two-lobe topologies
        where the old single-conjunct convergence test stopped early.
        The explicit examples catch a kernel that takes minimums over
        first-seen positions or float-converted ids."""
        from unittest import mock

        from unilever_scraping_etl_spark.session import get_session

        spark = get_session("tests")
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        want = _union_find_components(edges)
        for bound in (dedup._CC_LOCAL_EDGES_DEFAULT, 0):
            with mock.patch.object(dedup, "_CC_LOCAL_EDGES_DEFAULT", bound):
                got = {r["node"]: r["component"] for r in
                       dedup.connected_components(df, "id_a", "id_b")
                       .collect()}
            assert (dedup._LAST_CC_ROUNDS > 0) == (bound == 0), bound
            assert got == want, bound

    @settings(max_examples=15, deadline=None)
    @given(st.integers(1, 5), st.integers(1, 5),
           st.lists(st.tuples(st.booleans(), st.integers(0, 4)),
                    min_size=1, max_size=4))
    def test_connected_components_star_two_lobe_property(n_a, n_b, bridges):
        """Explicit two-lobe generator (r8 VERDICT item 1): two root
        attractors (0 and 1) each with a fan of hub nodes, plus bridge
        children attached to one hub in EACH lobe — the exact topology
        where a child ends a round holding two root parents and the
        old single-conjunct convergence test stopped early. The graph
        is ONE component by construction; the distributed loop (bound
        patched to 0 in the body) must label every node 0, once."""
        from unittest import mock

        from unilever_scraping_etl_spark.session import get_session

        hubs_a = [100 + i for i in range(n_a)]
        hubs_b = [300 + j for j in range(n_b)]
        edges = [(h, 0) for h in hubs_a] + [(h, 1) for h in hubs_b]
        for bi, (flip, off) in enumerate(bridges):
            # ids between the roots and the hubs, like node 2 of the
            # regression repro: large-star then hangs the child under
            # BOTH roots; a child id above the hubs is re-parented to
            # one root in the same round and never shows the bug.
            child = 2 + bi
            ha = hubs_a[off % n_a]
            hb = hubs_b[off % n_b]
            # attach the bridge child under one hub per lobe, order
            # varied so both (child, hub) orientations occur
            edges += [(child, ha), (hb, child)] if flip \
                else [(ha, child), (child, hb)]
        spark = get_session("tests")
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        with mock.patch.object(dedup, "_CC_LOCAL_EDGES_DEFAULT", 0):
            rows = dedup.connected_components(df, "id_a", "id_b").collect()
        assert dedup._LAST_CC_ROUNDS > 0
        nodes = {n for e in edges for n in e}
        assert len(rows) == len(nodes)            # one row per node
        assert {r["node"] for r in rows} == nodes
        assert {r["component"] for r in rows} == {0}

    @settings(max_examples=50, deadline=None)
    @given(st.integers(1, 1 << 40),
           st.sampled_from(["", "k", "K", "m", "M", "g", "G",
                            "kb", "MB", "gB"]))
    def test_parse_bytes_property(n, suffix):
        from unilever_scraping_etl_spark.plans.registry import _parse_bytes

        mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
        want = n * mult[suffix.lower().removesuffix("b")]
        assert _parse_bytes(f"{n}{suffix}") == want

except ImportError:  # hypothesis is available in this container; belt+braces
    pass


def test_dep_scan_ignores_docstring_citations():
    """A comment or docstring citing 'sources/ingest.py' must NOT
    create a fingerprint dependency edge — one unrelated module edit
    would cascade into dozens of false certificate evictions. Only code
    references (mod.attr, from-imports) count."""
    from unilever_scraping_etl_spark.plans import registry

    mods = registry._engine_module_files()
    prose = '''
def q(spark, sf):
    """Docstring citing ingest.py and scalars.parse_rupiah in prose,
    plus text.py and 'dedup.minhash' inside a string literal."""
    # comment mentioning extraction.catalog_links(...)
    return spark.range(1)
'''
    assert registry._deps_of(prose, mods) == set()

    code = '''
def q(spark, sf):
    from ..operators.dedup import minhash_candidates
    return scalars.parse_rupiah(F.col("x"))
'''
    assert registry._deps_of(code, mods) == {"dedup", "scalars"}


def test_minhash_hot_bucket_guard_caps_pairs_keeps_connectivity(spark):
    """Duplicate-heavy corpora create LSH mega-buckets whose self-join
    is quadratic (one 10k-doc template = 50M pairs in one reducer). With
    max_bucket_size, oversized buckets star-link to the bucket min (O(N) edges, diameter 2) and a
    downstream connected-components still recovers the full duplicate
    cluster — connectivity is what dedup needs, not the clique."""
    from unilever_scraping_etl_spark.operators.dedup import (
        connected_components, minhash_candidates)

    n_dupes = 60
    template = "the same boilerplate product page text " * 20
    dupes = spark.createDataFrame(
        [(10_000 + i, template) for i in range(n_dupes)],
        "doc_id long, text string")

    uncapped = minhash_candidates(dupes, "doc_id", "text")
    assert uncapped.count() == n_dupes * (n_dupes - 1) // 2  # quadratic

    capped = minhash_candidates(dupes, "doc_id", "text", max_bucket_size=10)
    n_edges = capped.count()
    assert n_edges < 4 * n_dupes                 # O(N), one chain per band
    comp = connected_components(capped, "id_a", "id_b")
    assert comp.select("component").distinct().count() == 1   # still one cluster
    assert comp.count() == n_dupes


def test_asof_join_nearest_and_tolerance(spark):
    """nearest direction picks the closer of backward/forward (ties ->
    backward, the pandas convention); tolerance voids distant matches;
    integer time columns use the raw-long path."""
    from unilever_scraping_etl_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 50, "b"), (1, 100, "c"), (1, 200, "d"),
         (2, 5, "e")],
        "k long, t long, lid string")
    right = spark.createDataFrame(
        [(1, 8, 1.0), (1, 40, 2.0), (1, 60, 3.0), (1, 105, 4.0)],
        "k long, t long, rv double")

    got = {r["lid"]: (r["t_r_us"], r["rv"])
           for r in asof_join(left, right, ["k"], "t", ["lid"], ["rv"],
                              direction="nearest").collect()}
    assert got == {"a": (8, 1.0),     # 10: back 8 (d2) beats fwd 40 (d30)
                   "b": (40, 2.0),    # 50: d10 tie -> backward
                   "c": (105, 4.0),   # 100: fwd 105 (d5) beats back 60
                   "d": (105, 4.0),   # 200: only backward exists
                   "e": (None, None)}  # key 2: no right rows at all

    tol = {r["lid"]: r["t_r_us"]
           for r in asof_join(left, right, ["k"], "t", ["lid"], ["rv"],
                              direction="nearest",
                              tolerance_sec=10).collect()}
    # integer time column -> tolerance is in RAW units (10 ticks)
    assert tol == {"a": 8, "b": 40, "c": 105, "d": None, "e": None}


def test_asof_join_null_keys_and_timestamps_stay_unmatched(spark):
    """SQL comparison semantics: a NULL never satisfies <=/>=/=, so
    NULL-ts left rows and NULL-key rows on either side must not match
    (pandas merge_asof and DuckDB ASOF agree) — but left rows survive,
    left-outer style."""
    from unilever_scraping_etl_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, None, "null_ts"), (None, 100, "null_key"), (1, 100, "ok")],
        "k long, t long, lid string")
    right = spark.createDataFrame(
        [(1, 50, 1.0), (None, 50, 9.0), (1, None, 8.0)],
        "k long, t long, rv double")
    for direction in ("backward", "forward", "nearest"):
        got = {r["lid"]: r["rv"]
               for r in asof_join(left, right, ["k"], "t", ["lid"], ["rv"],
                                  direction=direction).collect()}
        assert set(got) == {"null_ts", "null_key", "ok"}, direction
        assert got["null_ts"] is None, direction
        assert got["null_key"] is None, direction
        expected_ok = 1.0 if direction != "forward" else None
        assert got["ok"] == expected_ok, direction


def test_tpch_q6_all_filters_push_into_scan(spark):
    """Q6 analog: pure scan-filter-aggregate — the shipdate range,
    discount band, and quantity cap must ALL reach the parquet scan,
    and the plan must contain no join or exchange beyond the 1-row
    final aggregate's."""
    plan = _plan(QUERIES["revenue_forecast_delta"].spark(spark, SF_SMOKE))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed
    for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "CartesianProduct"):
        assert join not in plan


def test_tpch_q13_filter_pushes_below_outer_join(spark):
    """Q13 analog: the non-join predicate must prune the orders scan
    BEFORE the left outer join (filtering after an outer join silently
    turns it inner), and orders must pre-aggregate per custkey before
    joining the customer spine."""
    plan = _plan(QUERIES["customer_order_distribution"].spark(spark, SF_SMOKE))
    orders_scan = next(l for l in plan.splitlines()
                       if "FileScan" in l and "orders.parquet" in l)
    assert "o_orderpriority" in orders_scan
    # the per-custkey aggregate sits below the outer join: at least one
    # HashAggregate appears after (deeper than) the join in toString order
    join_pos = max(plan.find(j) for j in
                   ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    # r5 ADVICE: all three find()s return -1 when no join exists, and a
    # -1 start offset would silently search only the final character —
    # assert a join is present before using the offset.
    assert join_pos >= 0, "no join operator in plan"
    assert plan.find("HashAggregate", join_pos) != -1
    assert "CartesianProduct" not in plan


def test_tpch_q15_scalar_max_broadcast_no_global_window(spark):
    """Q15 analog: the max-revenue compare must ride a 1-row broadcast
    (scalar-subquery rewrite), never a global unpartitioned window over
    the per-supplier aggregate."""
    plan = _plan(QUERIES["top_supplier_revenue"].spark(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_tpch_q11_fact_scanned_once(spark):
    """Q11 analog: the grand total re-aggregates the per-part table —
    lineitem must appear at most ONCE in the final plan (the per-part
    aggregate is checkpoint-pinned because AQE does not reuse the
    exchange across both consumers; the second pass runs on the
    dimension-sized aggregate)."""
    df = QUERIES["important_parts_share"].spark(spark, SF_SMOKE)
    plan = _plan(df)
    li_scans = [l for l in plan.splitlines()
                if "FileScan" in l and "lineitem" in l]
    assert len(li_scans) <= 1, plan
    # and the checkpointed aggregate feeds both branches
    assert "ExistingRDD" in plan or len(li_scans) == 1


def test_tpch_q2_window_partitioned_and_dims_broadcast(spark):
    """Q2 analog: the per-part min must be a PARTITIONED window (never
    a global sort) and the region->nation->supplier chain plus the
    size-filtered part dim must broadcast; p_size reaches the part
    scan."""
    plan = _plan(QUERIES["min_cost_supplier"].spark(spark, SF_SMOKE))
    assert "Window" in plan
    part_scan = next(l for l in plan.splitlines()
                     if "FileScan" in l and "part.parquet" in l)
    assert "p_size" in part_scan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_tpch_q8_single_fact_shuffle_rest_broadcast(spark):
    """Q8 analog: the widest join tree in the suite — customer,
    supplier, part, and nation(x2) must ALL broadcast; the only
    shuffle join is lineitem x orders."""
    plan = _plan(QUERIES["nation_market_share"].spark(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert "CartesianProduct" not in plan


def test_tpch_q21_single_scan_no_expand_take_ordered(spark):
    """Q21 analog: the EXISTS/NOT-EXISTS rewrite must scan lineitem
    exactly ONCE (pair aggregate + keyed window, no self-join), carry
    no count-distinct Expand, and plan the top-20 as
    TakeOrderedAndProject."""
    plan = _plan(QUERIES["late_supplier_blame"].spark(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    li_scans = [l for l in plan.splitlines()
                if "FileScan" in l and "lineitem" in l]
    assert len(li_scans) == 1, plan
    assert "Expand" not in plan
    # the window is keyed — never a global sort
    assert "Window" in plan


def test_tpch_q16_q20_semi_anti_shapes(spark):
    """Q16 analog plans a LeftAnti against the flagged-supplier
    broadcast; Q20 analog plans a LeftSemi of supplier against the
    aggregated bulk-shipper keys."""
    p16 = _plan(QUERIES["parts_supplier_counts"].spark(spark, SF_SMOKE))
    assert "LeftAnti" in p16
    assert "CartesianProduct" not in p16
    p20 = _plan(QUERIES["bulk_suppliers"].spark(spark, SF_SMOKE))
    assert "LeftSemi" in p20
    assert "CartesianProduct" not in p20


def test_r12_host_family_plan_shapes(spark):
    """Round-12 query plan pins: domain_fold's rule table must
    BROADCAST against the candidate explode (never shuffle the ~9k
    rules at web scale); host_rank_incremental's warm-start
    renormalization enters as a 1-row broadcast (BroadcastNestedLoop
    over the 1-row total — never a SinglePartition funnel of the
    rank table); the anchor pipeline plans no cartesian product and
    no row-at-a-time Python."""
    pf = _plan(QUERIES["domain_fold"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in pf
    assert "CartesianProduct" not in pf
    assert "BatchEvalPython" not in pf
    pr = _plan(QUERIES["host_rank_incremental"].spark(spark, SF_SMOKE))
    assert "Exchange SinglePartition" not in pr
    assert "CartesianProduct" not in pr
    pa = _plan(QUERIES["anchor_triples"].spark(spark, SF_SMOKE))
    assert "CartesianProduct" not in pa
    assert "BatchEvalPython" not in pa


def test_r13_pagerank_family_plan_shapes(spark, distributed_graph_lane):
    """Round-13 query plan pins: host_rank_weighted keeps the
    one-shuffle-per-iteration shape — the out-weight sum is attached
    to the edge list ONCE before materialization, so the executed
    final plan carries no per-iteration re-aggregation of weights and
    the rank side of each iteration join broadcasts (host graphs pass
    the bounded-node probe); host_rank_personalized's seed
    normalization is a bounded driver probe, never a SinglePartition
    funnel of the rank table; domain_authority's PSL fold and the
    fold→edge joins all broadcast."""
    pw = _plan(QUERIES["host_rank_weighted"].spark(spark, SF_SMOKE))
    assert "Exchange SinglePartition" not in pw
    assert "CartesianProduct" not in pw
    assert "BatchEvalPython" not in pw
    assert "BroadcastHashJoin" in pw  # rank side broadcast
    pp = _plan(QUERIES["host_rank_personalized"].spark(spark, SF_SMOKE))
    assert "Exchange SinglePartition" not in pp
    assert "CartesianProduct" not in pp
    pd = _plan(QUERIES["domain_authority"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in pd
    assert "CartesianProduct" not in pd
    assert "BatchEvalPython" not in pd
    # hits (r16 optimization pin update): the raw half-step sums are
    # LAZY-checkpointed, so the final plan shows the LAST iteration's
    # two L2-norm reductions — global aggregates whose SinglePartition
    # exchange carries ONE partial-agg row per upstream partition
    # (bounded by construction; every node-sized frame stays keyed).
    # Earlier iterations' norms sit behind the checkpoint scans as
    # before. Exactly two such exchanges — a third would mean a real
    # funnel crept in.
    ph = _plan(QUERIES["host_hits"].spark(spark, SF_SMOKE))
    assert ph.count("Exchange SinglePartition") == 2
    assert "CartesianProduct" not in ph
    assert "BatchEvalPython" not in ph
    # crawl_schedule: the politeness window is KEYED by host (never a
    # global sort of the frontier) and the rank join broadcasts
    pc = _plan(QUERIES["crawl_schedule"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in pc
    assert "Exchange SinglePartition" not in pc
    assert "CartesianProduct" not in pc


def test_r13_crawl_family_plan_shapes(spark, distributed_graph_lane):
    """Round-13 crawl-pipeline plan pins. sitemap_ingest must be a
    pure narrow map — ZERO exchanges (the parse is regexp projection
    + explode; nothing shuffles until a consumer aggregates).
    url_frontier's only exchange is the final dedup aggregation —
    never a SinglePartition funnel. robots_gate joins the
    (host-bounded) rule set as a BROADCAST into the frontier and its
    only window is the parse's host-KEYED group builder.
    frontier_plan (the full composition) carries broadcast rank/rule
    joins, keyed windows, and no cartesian/row-Python anywhere.
    host_cocitation's degree tables broadcast back onto the pair
    aggregation; host_kcore's survivor semi-joins broadcast. The
    final label_propagation/k_core frames sit behind localCheckpoint
    boundaries, so their executed plans are checkpoint scans — the
    per-round shapes are asserted by the operator-level tests."""
    ps = _plan(QUERIES["sitemap_ingest"].spark(spark, SF_SMOKE))
    assert "Exchange" not in ps
    assert "BatchEvalPython" not in ps
    pu = _plan(QUERIES["url_frontier"].spark(spark, SF_SMOKE))
    assert "Exchange SinglePartition" not in pu
    assert "CartesianProduct" not in pu
    assert "BatchEvalPython" not in pu
    pr = _plan(QUERIES["robots_gate"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in pr
    assert "Exchange SinglePartition" not in pr
    assert "CartesianProduct" not in pr
    assert "BatchEvalPython" not in pr
    pf = _plan(QUERIES["frontier_plan"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in pf
    assert "Exchange SinglePartition" not in pf
    assert "CartesianProduct" not in pf
    assert "BatchEvalPython" not in pf
    pc = _plan(QUERIES["host_cocitation"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in pc
    assert "Exchange SinglePartition" not in pc
    assert "CartesianProduct" not in pc
    pk = _plan(QUERIES["host_kcore"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in pk
    assert "Exchange SinglePartition" not in pk
    assert "CartesianProduct" not in pk


def test_plan_linter_all_queries(spark):
    """Suite-wide physical-plan invariants over EVERY registered query
    at sf0.001 — the properties that decide 100 TB survival, enforced
    globally so a new query cannot silently ship an anti-pattern:

    - no CartesianProduct (the only sanctioned cross shapes are
      BroadcastNestedLoopJoin over 1-row scalar broadcasts and the
      explicit join_cross demo);
    - no row-at-a-time Python evaluation (BatchEvalPython) — every
      Python lane must be Arrow-batched (ArrowEvalPython, MapInPandas,
      FlatMapGroupsInPandas, PythonUDTF are fine);
    - no unpartitioned Window fed by an Exchange SinglePartition unless
      the frame is bounded by construction (whitelist documents each).
    """
    # global windows over provably tiny frames (see each site's
    # bounded-by-construction comment)
    global_window_ok = {
        "user_activity",        # day-level table: <= ~3 years of rows
        "sim_ann_ivf",          # centroid numbering over <= nlist rows
        "corpus_funnel",        # stage-audit rows: 4
        "conversion_funnel",    # funnel stages: 3 rows
        "unpivot_stats",        # per-flag aggregate: <= 9 rows
        "vocab_topk",           # merged top-100 vocabulary
        "cohort_retention",     # weekly cohorts x offsets: <= dozens
        "skyline_parts",        # phase-2 sees only phase-1's local
                                # frontiers (each a y-decreasing
                                # staircase), not the input; worst case
                                # documented in ranking.skyline_2d
        "temperature_mix",      # z/budget reductions run over the
                                # per-SOURCE counts table (<= a few
                                # dozen rows), never the corpus —
                                # that's the point of the rewrite that
                                # replaced three corpus re-scans
        "authority_sample",     # rank-assign window runs over the
                                # TakeOrderedAndProject result (k=10
                                # rows by construction); the corpus
                                # itself never crosses a single-
                                # partition exchange
        "dsir_select",          # sample_rank stamp runs over the
                                # TakeOrderedAndProject result (k=100
                                # rows by construction — the corpus-
                                # sized frame takes the partial top-k
                                # path, pinned by test_dsir_global_
                                # topk_is_take_ordered_not_global_
                                # window)
        "token_budget_mix",     # waterfill prefix sums run over the
                                # per-SOURCE counts frame (<= a few
                                # dozen rows; curation.budget_
                                # waterfill's bounded-input contract),
                                # never the corpus
    }
    cartesian_ok = {"join_cross"}
    failures = []
    for name, spec in QUERIES.items():
        plan = _plan(spec.spark(spark, SF_SMOKE))
        if "CartesianProduct" in plan and name not in cartesian_ok:
            failures.append(f"{name}: CartesianProduct")
        lines = plan.splitlines()
        # r5 ADVICE: check line-by-line, not plan-wide — a PythonUDTF
        # elsewhere in the plan must not exempt a row-at-a-time scalar
        # UDF (BatchEvalPython without UDTF on the same node line).
        if any("BatchEvalPython" in ln and "UDTF" not in ln
               for ln in lines):
            failures.append(f"{name}: row-at-a-time Python UDF")
        for i, line in enumerate(lines):
            head = line.lstrip(" :+-*")
            if head.startswith("Window ") and name not in global_window_ok:
                below = "\n".join(lines[i + 1:i + 5])
                if "Exchange SinglePartition" in below:
                    failures.append(f"{name}: global window over "
                                    "SinglePartition exchange")
                    break
    assert not failures, failures


def test_quantile_rollup_merge_invariance_and_accuracy(spark):
    """The per-day quantile sketch must be merge-invariant (rolling up
    day histograms == one-pass histogram over all events) and each
    estimate must sit within one bin width (8) below the exact
    percentile."""
    ev = load_table(spark, SF_SMOKE, "events").filter(F.col("value").isNotNull())
    bin_ = F.least(F.lit(127), F.floor(F.col("value") / 8).cast("int"))
    via_days = (ev.groupBy("event_type", F.to_date("ts").alias("day"),
                           bin_.alias("bin"))
                .agg(F.count(F.lit(1)).alias("n"))
                .groupBy("event_type", "bin").agg(F.sum("n").alias("n")))
    one_pass = (ev.groupBy("event_type", bin_.alias("bin"))
                .agg(F.count(F.lit(1)).alias("n")))
    assert sorted(map(tuple, via_days.collect())) == \
        sorted(map(tuple, one_pass.collect()))

    est = {r["event_type"]: r for r in
           QUERIES["quantile_rollup"].spark(spark, SF_SMOKE).collect()}
    # defining property of the sketch quantile: strictly less than q%
    # of the mass lies below the reported bin, and at least q% lies at
    # or below its upper edge — exact rank semantics, any data shape
    rows = ev.select("event_type", "value").collect()
    from collections import defaultdict
    vals = defaultdict(list)
    for r in rows:
        vals[r["event_type"]].append(r["value"])
    for etype, vs in vals.items():
        total = len(vs)
        for q in (50, 95, 99):
            got = est[etype][f"p{q}"]
            below = sum(1 for v in vs if v < got)
            through = sum(1 for v in vs if v < got + 8)
            assert below * 100 < q * total, (etype, q, got)
            assert through * 100 >= q * total, (etype, q, got)


def test_resize_and_frame_sample_plumbing(spark):
    """resize_images emits fixed-dimension binary payloads of exactly
    width*height bytes; sample_frames fans out 1 + n_bytes % 4 rows per
    input with the deterministic (frame_idx, ts_ms) lattice and
    partitions every payload byte across frames; strict mode raises for
    both (honest codec stubs)."""
    import pytest as _pytest

    from unilever_scraping_etl_spark.sources import multimodal

    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    media = multimodal.synthetic_media_from_documents(docs)

    rs = multimodal.resize_images(media, width=16, height=9).collect()
    assert len(rs) == 40
    assert all(r["width"] == 16 and r["height"] == 9 for r in rs)
    assert all(len(r["payload"]) == 16 * 9 for r in rs)

    frames = multimodal.sample_frames(media, batch_rows=5).collect()
    src = {r["media_id"]: bytes(r["payload"])
           for r in media.select("media_id", "payload").collect()}
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    assert set(by_media) == set(src)
    for mid, rows in by_media.items():
        n = 1 + len(src[mid]) % 4
        assert len(rows) == n
        assert sorted(r["frame_idx"] for r in rows) == list(range(n))
        assert all(r["ts_ms"] == r["frame_idx"] * 40 for r in rows)
        # every input byte lands in exactly one frame (k::n slicing)
        total = sum(len(bytes(r["frame_payload"])) for r in rows)
        assert total == len(src[mid])

    with _pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.resize_images(media, strict=True).collect()
    with _pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.sample_frames(media, strict=True).collect()


try:
    from hypothesis import given as _given
    from hypothesis import settings as _settings
    from hypothesis import strategies as _st

    _asof_rows = _st.lists(
        _st.tuples(_st.integers(1, 3),        # key
                   _st.integers(0, 50)),      # ts (raw units)
        min_size=1, max_size=14)

    @_settings(max_examples=10, deadline=None)
    @_given(_asof_rows, _asof_rows,
            _st.sampled_from(["backward", "forward", "nearest"]),
            _st.sampled_from([None, 0, 3, 10]))
    def test_asof_join_property_vs_pandas_merge_asof(lrows, rrows,
                                                     direction, tol):
        """asof_join claims pandas merge_asof semantics — check them
        against the real pandas implementation on arbitrary small
        integer-timestamp frames (random keys, duplicate left
        timestamps, sparse right sides, with and without tolerance)."""
        import pandas as _pd

        from unilever_scraping_etl_spark.operators.relational import \
            asof_join
        from unilever_scraping_etl_spark.session import get_session

        spark = get_session("tests")
        left_rows = [(k, t, i) for i, (k, t) in enumerate(lrows)]
        # right must be unique per (key, ts) — documented contract
        rseen, right_rows = set(), []
        for k, t in rrows:
            if (k, t) not in rseen:
                rseen.add((k, t))
                right_rows.append((k, t, float(len(right_rows))))
        left = spark.createDataFrame(left_rows, "k long, t long, lid long")
        right = spark.createDataFrame(right_rows, "k long, t long, rv double")
        got = {r["lid"]: r["rv"]
               for r in asof_join(left, right, ["k"], "t", ["lid"], ["rv"],
                                  direction=direction,
                                  tolerance_sec=tol).collect()}

        lp = _pd.DataFrame(left_rows, columns=["k", "t", "lid"]) \
                .sort_values(["t", "lid"]).reset_index(drop=True)
        rp = _pd.DataFrame(right_rows, columns=["k", "t", "rv"]) \
                .sort_values(["t", "k"]).reset_index(drop=True)
        merged = _pd.merge_asof(lp, rp, on="t", by="k",
                                direction=direction, tolerance=tol)
        want = {int(r.lid): (None if _pd.isna(r.rv) else float(r.rv))
                for r in merged.itertuples()}
        assert got == want, (direction, tol, left_rows, right_rows)

    _vec = _st.lists(_st.integers(-3, 3), min_size=3, max_size=3)

    @_settings(max_examples=8, deadline=None)
    @_given(_st.lists(_vec, min_size=1, max_size=10),
            _st.sampled_from([0.0, 0.35, 0.9]),
            _st.sampled_from([1, 2, 3]))
    def test_range_search_grid_property_vs_numpy(vecs, threshold, n_blocks):
        """range_search_grid against a direct numpy reference on
        arbitrary small integer vectors (including zero vectors, which
        the kernel must score as cos 0 via the norm floor, and block
        counts that leave some grid cells empty): every (query,
        neighbor, rounded-cos) pair with cos >= threshold, self
        excluded, independent of how the corpus hashes into blocks."""
        import numpy as _np

        from unilever_scraping_etl_spark.functions.vectors import \
            _round_half_up
        from unilever_scraping_etl_spark.operators.similarity import \
            range_search_grid
        from unilever_scraping_etl_spark.session import get_session

        spark = get_session("tests")
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        qs = df.filter(F.col("vec_id") % 2 == 0)
        got = {(r.query_id, r.neighbor_id, r.cos)
               for r in range_search_grid(qs, df, threshold=threshold,
                                          n_blocks=n_blocks).collect()}

        m = _np.array([v for _, v in rows], dtype="float64")
        m = m / _np.maximum(_np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
        sim = _round_half_up(m @ m.T, 4)
        want = {(qi, ci, float(sim[qi, ci]))
                for qi in range(len(rows)) if qi % 2 == 0
                for ci in range(len(rows))
                if ci != qi and sim[qi, ci] >= threshold}
        assert got == want, (vecs, threshold, n_blocks)

    _doc_texts = _st.sampled_from([
        "alpha beta gamma delta",          # clusters of identical docs
        "alpha beta gamma delta",          # (dup of above, on purpose)
        "epsilon zeta eta theta iota",
        "one two three four five six",
        "lorem ipsum dolor sit amet",
    ])

    @_settings(max_examples=6, deadline=None)
    @_given(_st.lists(_doc_texts, min_size=2, max_size=12),
            _st.sampled_from([2, 3, 5]))
    def test_minhash_guard_connectivity_property(texts, cap):
        """The hot-bucket guard trades pair recall, never CLUSTER
        recall: on arbitrary corpora (duplicate-heavy by construction)
        the connected components of the capped candidate graph must
        equal those of the uncapped graph — star-linking an oversized
        bucket keeps every member reachable through the bucket's min
        id. Checked with a reference union-find over each edge set,
        restricted to nodes that appear in edges on both sides."""
        from unilever_scraping_etl_spark.operators.dedup import \
            minhash_candidates
        from unilever_scraping_etl_spark.session import get_session

        spark = get_session("tests")
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string")
        uncapped = [(r.id_a, r.id_b) for r in
                    minhash_candidates(docs, "doc_id", "text").collect()]
        capped = [(r.id_a, r.id_b) for r in
                  minhash_candidates(docs, "doc_id", "text",
                                     max_bucket_size=cap).collect()]
        cu = _union_find_components(uncapped)
        cc = _union_find_components(capped)
        # identical node sets and identical component partitions
        assert set(cu) == set(cc), (texts, cap)
        groups_u = {}
        groups_c = {}
        for n, c in cu.items():
            groups_u.setdefault(c, set()).add(n)
        for n, c in cc.items():
            groups_c.setdefault(c, set()).add(n)
        assert (sorted(map(sorted, groups_u.values()))
                == sorted(map(sorted, groups_c.values()))), (texts, cap)

    def _assert_same_components(uncapped, capped, ctx):
        cu = _union_find_components(uncapped)
        cc = _union_find_components(capped)
        assert set(cu) == set(cc), ctx
        gu, gc = {}, {}
        for n, c in cu.items():
            gu.setdefault(c, set()).add(n)
        for n, c in cc.items():
            gc.setdefault(c, set()).add(n)
        assert (sorted(map(sorted, gu.values()))
                == sorted(map(sorted, gc.values()))), ctx

    @_settings(max_examples=6, deadline=None)
    @_given(_st.lists(_doc_texts, min_size=2, max_size=12),
            _st.sampled_from([2, 3, 5]))
    def test_simhash_guard_connectivity_property(texts, cap):
        """r6 VERDICT items 1+6: the guard generalized to the simhash
        chunk banding must preserve candidate-graph connectivity on
        arbitrary duplicate-heavy corpora, exactly as proven for the
        minhash sibling — star-linking an oversized (chunk, ck) bucket
        keeps every member reachable through the bucket's min id."""
        from unilever_scraping_etl_spark.operators.dedup import \
            simhash_candidates
        from unilever_scraping_etl_spark.session import get_session

        spark = get_session("tests")
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string")
        uncapped = [(r.id_a, r.id_b) for r in
                    simhash_candidates(docs, "doc_id", "text").collect()]
        capped = [(r.id_a, r.id_b) for r in
                  simhash_candidates(docs, "doc_id", "text",
                                     max_bucket_size=cap).collect()]
        _assert_same_components(uncapped, capped, (texts, cap))

    @_settings(max_examples=6, deadline=None)
    @_given(_st.lists(_st.text(alphabet="ab ", min_size=1, max_size=20),
                      min_size=2, max_size=8),
            _st.sampled_from([1, 3, 7]))
    def test_simhash_pigeonhole_recall_property(texts, max_hamming):
        """Pigeonhole completeness of the chunk banding: EVERY pair
        within max_hamming of each other must appear in the unguarded
        candidate set (with h differing bits and h+1 chunks, some
        chunk must be equal) — pinned against chunk-boundary math
        regressions for several thresholds, including ones where
        64 % (h+1) != 0."""
        from unilever_scraping_etl_spark.operators.dedup import (
            simhash64_arrow, simhash_candidates)
        from unilever_scraping_etl_spark.session import get_session

        spark = get_session("tests")
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string")
        fps = {r["doc_id"]: r["simhash"] for r in
               simhash64_arrow(docs, "doc_id", "text").collect()}
        cand = {(r.id_a, r.id_b) for r in
                simhash_candidates(docs, "doc_id", "text",
                                   max_hamming=max_hamming).collect()}
        mask = (1 << 64) - 1  # fps are SIGNED longs; hamming is over
        for i in fps:         # the 64-bit pattern, not Python's sign
            for j in fps:
                ham = bin((fps[i] ^ fps[j]) & mask).count("1")
                if i < j and ham <= max_hamming:
                    assert (i, j) in cand, (texts, max_hamming, i, j)

    @_settings(max_examples=6, deadline=None)
    @_given(_st.lists(_st.text(alphabet="abc", min_size=0, max_size=12),
                      min_size=2, max_size=10),
            _st.sampled_from([1, 2, 4]))
    def test_editdist_band_identity_property(names, max_dist):
        """The length-band sub-block must lose no pair on arbitrary
        strings (empty strings, identical strings, lengths straddling
        any band boundary) at any distance threshold — banded output
        == a pure-Python Levenshtein over all pairs exactly."""
        from unilever_scraping_etl_spark.operators.dedup import \
            editdist_pairs
        from unilever_scraping_etl_spark.session import get_session

        spark = get_session("tests")
        df = spark.createDataFrame(
            [(i, n, "B") for i, n in enumerate(names)],
            "id long, name string, blk string")
        banded = sorted(map(tuple, editdist_pairs(
            df, "id", "name", ["blk"], max_dist=max_dist).collect()))
        want = _editdist_reference(
            [(i, n, "B") for i, n in enumerate(names)], max_dist)
        assert banded == want, (names, max_dist)

    @_settings(max_examples=6, deadline=None)
    @_given(_st.lists(_st.sampled_from([
                (1.0, 0.5, -0.25), (1.0, 0.5, -0.25),   # dup cluster
                (-0.5, 1.0, 0.75), (0.25, -1.0, 0.5),
                (0.0, 0.0, 1.0)]),
            min_size=2, max_size=12),
            _st.sampled_from([1, 2, 3]))
    def test_hyperplane_guard_connectivity_property(vecs, cap):
        """Same guard property for the hyperplane-LSH candidate
        generator: capped (band, bucket) buckets star-link, and the
        connected components of the candidate graph are unchanged for
        every (corpus, cap) pair."""
        from unilever_scraping_etl_spark.operators.dedup import \
            hyperplane_lsh_candidates
        from unilever_scraping_etl_spark.session import get_session

        spark = get_session("tests")
        emb = spark.createDataFrame(
            [(i, list(v)) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>")
        uncapped = [(r.id_a, r.id_b) for r in
                    hyperplane_lsh_candidates(
                        emb, "vec_id", "embedding", n_bands=2,
                        n_planes=2, dim=3).collect()]
        capped = [(r.id_a, r.id_b) for r in
                  hyperplane_lsh_candidates(
                      emb, "vec_id", "embedding", n_bands=2,
                      n_planes=2, dim=3,
                      max_bucket_size=cap).collect()]
        _assert_same_components(uncapped, capped, (vecs, cap))

except ImportError:
    pass


def test_corpus_funnel_cohesion_single_fact_scan(spark):
    """The coreness-guided funnel (r14 VERDICT #2) must keep the
    archive_funnel discipline: the four stage counts are conditional
    aggregates of ONE documents fact scan — flags, not four re-scans
    — with the per-source bands (the only other parquet scan, pruned
    to its two columns) and the 20-row coreness feature table
    entering as broadcasts; the host graph itself rides checkpointed
    RDDs, never a re-scan of the corpus."""
    df = QUERIES["corpus_funnel_cohesion"].spark(spark, SF_SMOKE)
    plan = _plan(df)
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 2, plan
    fact = [ln for ln in scans if "doc_id" in ln]
    bands = [ln for ln in scans if ln not in fact]
    assert len(fact) == 1 and len(bands) == 1, scans
    # column pruning: the fact scan carries exactly the funnel inputs,
    # the bands scan only (source, n_chars)
    assert "text" in fact[0] and "n_chars" in fact[0]
    assert "lang" not in fact[0]
    assert "source" in bands[0] and "n_chars" in bands[0]
    assert "text" not in bands[0] and "doc_id" not in bands[0]
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the audit rows themselves: total >= band >= cohesion >= dedup
    vals = {r["stage"]: r["n_docs"] for r in df.collect()}
    assert vals["00_total"] >= vals["01_quality_band"] \
        >= vals["02_host_cohesion"] >= vals["03_exact_deduped"]
    assert vals["02_host_cohesion"] > 0


def test_split_leakage_safe_clusters_never_straddle(spark):
    """The leakage-safe split's whole contract: every near-dup
    cluster lands in exactly ONE split (members inherit the
    cluster-keyed bucket), while the naive doc-keyed bucket rides
    along for the audit. Checked on the real table: per-cluster
    distinct-split count is 1 for every cluster, both columns only
    carry the three tier values, and multi-doc clusters exist at
    this scale (otherwise the test proves nothing)."""
    df = QUERIES["split_leakage_safe"].spark(spark, SF_SMOKE)
    rows = df.collect()
    tiers = {"train", "val", "test"}
    assert {r["split"] for r in rows} <= tiers
    assert {r["naive_split"] for r in rows} <= tiers
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    multi = [c for c, _ in by_cluster.items()
             if sum(1 for r in rows if r["cluster_id"] == c) > 1]
    assert multi, "fixture has no multi-doc near-dup clusters"


def test_frontier_seed_expand_khop_and_gate(spark):
    """Trusted-seed K-hop expansion (r15 VERDICT #3): the scheduled
    frontier must cover EXACTLY the <=2-hop out-neighborhood of the
    top-3 authority seeds — on the analytic 20-host graph that is a
    proper 10-host subset (hand-derived from the edge formula
    h_k -> h_{(7k+1)%20}, h_{(3k+2)%20} and the 5-iteration rank
    order with its byte-wise tie-break), so a missed hop, an extra
    hop, or a seed drift changes the set — with the robots gate
    holding (no /private/ URL survives) and waves dense per host.
    Plan: rank/reach joins broadcast, the wave window host-KEYED,
    no cartesian/row-Python."""
    df = QUERIES["frontier_seed_expand"].spark(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    rows = df.collect()
    expect = {f"h{k}.corpus.local"
              for k in (0, 1, 14, 15, 19, 2, 4, 5, 8, 9)}
    assert {r["host"] for r in rows} == expect
    assert not [r for r in rows if "/private/" in r["url"]]
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r["wave"])
    for host, waves in by_host.items():
        assert sorted(waves) == list(range(1, len(waves) + 1)), host
