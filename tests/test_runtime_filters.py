"""Runtime bloom join filter (operators/runtime_filters.py).
Registered query `join_bloom_pruned` is oracle-checked (the composed
join is result-identical to the plain join); these tests pin the
bloom's contract: zero false negatives, bounded sketch, real pruning,
codegen-resident probe."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unilever_scraping_etl_spark.operators import runtime_filters as rf


def test_no_false_negatives(spark):
    keys = spark.range(0, 2000).select((F.col("id") * 17 + 3).alias("k"))
    bf = rf.bloom_build(keys, "k", num_bits=1 << 14, num_hashes=5)
    hits = (keys.filter(rf.bloom_probe("k", bf)).count())
    assert hits == 2000  # a bloom filter NEVER drops a member


def test_prunes_most_non_members(spark):
    members = spark.range(0, 100).select((F.col("id") * 100).alias("k"))
    bf = rf.bloom_build(members, "k", num_bits=1 << 14, num_hashes=5)
    probe = spark.range(0, 10000).select(F.col("id").alias("k"))
    passed = probe.filter(rf.bloom_probe("k", bf)).count()
    # 100 true members; the rest are FPs. At m=16384,n=100,k=5 the FP
    # rate is ~1e-8 — allow a generous margin.
    assert 100 <= passed < 200


def test_sketch_is_bounded_and_dense(spark):
    big = spark.range(0, 50000).select(F.col("id").alias("k"))
    bf = rf.bloom_build(big, "k", num_bits=1 << 10, num_hashes=3)
    assert len(bf.words) == (1 << 10) // 64  # fixed by constructor, not data
    assert bf.num_bits == 1 << 10 and bf.num_hashes == 3
    assert all(isinstance(w, int) for w in bf.words)


def test_bloom_pruned_join_equals_plain_join(spark):
    fact = spark.range(0, 5000).select(
        (F.col("id") % 400).alias("fk"), F.col("id").alias("payload"))
    dim = spark.range(0, 40).select(
        (F.col("id") * 10).alias("dk"), (F.col("id") + 1000).alias("dval"))
    got = (rf.bloom_pruned_join(fact, dim, "fk", "dk")
           .select("fk", "payload", "dval"))
    exp = (fact.join(dim, fact["fk"] == dim["dk"], "inner")
           .select("fk", "payload", "dval"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, exp.collect()))


def test_mixed_integral_widths_keep_all_matches(spark):
    """r10 ADVICE (high): xxhash64 hashes int and bigint differently,
    so an int fact key probed against a bigint-built sketch used to
    silently drop EVERY matching row (false negatives — the one thing
    a bloom must never do). Mixed integral widths now normalize to
    bigint on both sides; result must equal the plain coercing join."""
    fact = spark.range(0, 1000).select(
        (F.col("id") % 100).cast("int").alias("fk"),
        F.col("id").alias("payload"))
    dim = spark.range(0, 100).select(
        F.col("id").cast("bigint").alias("dk"),
        (F.col("id") + 5000).alias("dval"))
    got = rf.bloom_pruned_join(fact, dim, "fk", "dk")
    exp = fact.join(dim, fact["fk"] == dim["dk"], "inner")
    assert got.count() == exp.count() == 1000
    # and the reversed widths too (bigint fact, int dim)
    got2 = rf.bloom_pruned_join(
        fact.select(F.col("fk").cast("bigint").alias("fk"), "payload"),
        dim.select(F.col("dk").cast("int").alias("dk"), "dval"),
        "fk", "dk")
    assert got2.count() == 1000


def test_non_integral_dtype_mismatch_raises(spark):
    """A dtype mix with no single obvious lossless coercion (string vs
    bigint, double vs bigint) must raise, not guess a cast."""
    fact = spark.range(0, 10).select(
        F.col("id").cast("string").alias("fk"))
    dim = spark.range(0, 10).select(F.col("id").alias("dk"))
    with pytest.raises(ValueError, match="dtypes differ"):
        rf.bloom_pruned_join(fact, dim, "fk", "dk")


def test_probe_is_pure_expression(spark):
    """The probe must stay in the scan stage: no Python evaluation
    node, filter present below the join."""
    fact = spark.range(0, 1000).select((F.col("id") % 50).alias("fk"))
    dim = spark.range(0, 5).select((F.col("id") * 7).alias("dk"))
    plan = (rf.bloom_pruned_join(fact, dim, "fk", "dk")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "getbit" in plan or "Filter" in plan


def test_probe_plan_builds_fast(spark, monkeypatch):
    """The word table must enter the plan as ONE parsed SQL literal.
    F.lit(python_list) crosses py4j once per element (at 2^20 bits,
    16384 words, ~8-10 s of driver time). Structural pin instead of a
    wall-clock bound: building the probe for 16384 words makes exactly
    as many lit() calls as for 64 words, so no per-element path is
    left, and the optimized plan carries the whole table as one array
    literal."""
    from pyspark.sql.functions import builtin

    calls = []

    def counting(orig):
        def lit(col):
            calls.append(1)
            return orig(col)
        return lit

    # F.lit(list) recurses through builtin's module-global lit, so both
    # names are counted.
    monkeypatch.setattr(F, "lit", counting(F.lit))
    monkeypatch.setattr(builtin, "lit", counting(builtin.lit))
    df = spark.range(10).select(F.col("id").alias("k"))
    counts = {}
    for n in (64, 16384):
        calls.clear()
        words = tuple(range(n))
        out = df.filter(rf.bloom_probe("k", rf.BloomFilter(words, 5)))
        counts[n] = len(calls)
    assert counts[64] == counts[16384]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "[" + ",".join(map(str, words)) + "]" in plan


def test_build_validates_args(spark):
    keys = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="multiple of 64"):
        rf.bloom_build(keys, "k", num_bits=100)
    with pytest.raises(ValueError, match="num_hashes"):
        rf.bloom_build(keys, "k", num_hashes=0)
