"""Cross-encoder-style reranking (operators/rerank.py) — r7 VERDICT
item 7's first named extension, registered on the driver surface in
round 9 (`rerank_topk` oracle-checked, `retrieve_and_rerank`
rows-only). Covers correctness vs a per-row Python reference,
determinism, and the plan-shape discipline (built-in expressions,
partitioned window, no cartesian)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from unilever_scraping_etl_spark.functions.vectors import _round_half_up
from unilever_scraping_etl_spark.operators import rerank, similarity
from unilever_scraping_etl_spark.schemas import load_table

from .conftest import SF_SMOKE


def _mk_corpus(spark):
    rows = [
        (1, "apple banana cherry"),
        (2, "apple banana"),
        (3, "cherry date elderberry fig"),
        (4, "apple banana cherry date"),
        (5, "unrelated words entirely different"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _mk_candidates(spark):
    # stage-1 over-fetch: query 1 retrieved docs 2..5
    rows = [(1, n) for n in (2, 3, 4, 5)]
    return spark.createDataFrame(rows, "query_id long, neighbor_id long")


def _f1(q, d):
    """Per-row token-set F1 reference: the harmonic mean of precision
    |q & d| / |d| and recall |q & d| / |q| over set(text.lower().split()),
    0.0 when either set or their overlap is empty, in the operation
    order the registered oracles use."""
    qs = set(q.lower().split()) if q is not None else set()
    ds = set(d.lower().split()) if d is not None else set()
    inter = len(qs & ds)
    if not qs or not ds or inter == 0:
        return 0.0
    p, r = inter / len(ds), inter / len(qs)
    return 2.0 * p * r / (p + r)


def test_rerank_topk_matches_pandas_reference(spark):
    docs = _mk_corpus(spark)
    cand = _mk_candidates(spark)
    out = rerank.rerank_topk(cand, docs, docs, m=2,
                             queries_id="doc_id", corpus_id="doc_id") \
                .orderBy("rank").toPandas()
    # reference: score every candidate against query text, top-2
    texts = {1: "apple banana cherry", 2: "apple banana",
             3: "cherry date elderberry fig",
             4: "apple banana cherry date", 5: "unrelated words entirely different"}
    scores = {n: _round_half_up(_f1(texts[1], texts[n]), 6)
              for n in (2, 3, 4, 5)}
    assert scores[2] == 0.8  # inter=2, p=2/2, r=2/3
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    assert list(out["neighbor_id"]) == [n for n, _ in want]
    assert list(out["score"]) == [s for _, s in want]
    assert list(out["rank"]) == [1, 2]
    # deterministic: the same call again gives the identical frame
    again = rerank.rerank_topk(cand, docs, docs, m=2,
                               queries_id="doc_id", corpus_id="doc_id") \
                  .orderBy("rank").toPandas()
    pd.testing.assert_frame_equal(out, again)


def test_rerank_tie_break_by_neighbor_id(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b")], "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2), (1, 3)],
                                 "query_id long, neighbor_id long")
    out = rerank.rerank_topk(cand, docs, docs, m=2,
                             queries_id="doc_id", corpus_id="doc_id") \
                .orderBy("rank").toPandas()
    assert list(out["neighbor_id"]) == [2, 3]  # equal scores -> id order


def test_rerank_plan_shape(spark):
    """The scorer runs as BUILT-IN expressions — NO Python boundary
    at all (token-set F1 is expressible with array functions). Window
    partitioned by query (never global), no cartesian product."""
    docs = _mk_corpus(spark)
    cand = _mk_candidates(spark)
    df = rerank.rerank_topk(cand, docs, docs, m=2,
                            queries_id="doc_id", corpus_id="doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(query_id" in plan


def test_rerank_scores_match_per_row_reference_exactly(spark):
    """Every pair's unrounded score equals the per-row
    set(text.lower().split()) F1 BIT-FOR-BIT (the oracle's IEEE
    identity depends on it) — including whitespace runs, leading/
    trailing whitespace, empty, NULL, repeated-token and case-folding
    payloads."""
    rows = [(1, "apple banana cherry"), (2, "  apple\tbanana  "),
            (3, ""), (4, None), (5, "APPLE Apple apple"),
            (6, "a  b   c"), (7, "\n\napple\n"), (8, "date fig"),
            (9, "fig Fig date date")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = docs.select(F.col("doc_id").alias("query_id")).crossJoin(
        docs.select(F.col("doc_id").alias("neighbor_id")))
    out = rerank.rerank_topk(cand, docs, docs, m=len(rows),
                             queries_id="doc_id", corpus_id="doc_id",
                             round_digits=None).collect()
    text = dict(rows)
    got = {(r["query_id"], r["neighbor_id"]): r["score"] for r in out}
    want = {(q, n): _f1(text[q], text[n]) for q in text for n in text}
    assert got == want  # exact equality, not approx


def test_retrieve_and_rerank_end_to_end(spark):
    """Composed two-stage pipeline on the real test tables: stage-1
    cosine top-k over embeddings, cross-score against documents text.
    Invariants: <= m rows per query, ranks dense from 1, every
    reranked pair came from the stage-1 candidate set."""
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(40)
    docs = load_table(spark, SF_SMOKE, "documents")
    k, m = 8, 3
    out = rerank.retrieve_and_rerank(emb, emb, k=k, m=m,
                                     text_df=docs).cache()
    per_q = out.groupBy("query_id").agg(
        F.count("*").alias("n"), F.min("rank").alias("rmin"),
        F.max("rank").alias("rmax")).toPandas()
    assert (per_q["n"] <= m).all()
    assert (per_q["rmin"] == 1).all()
    assert (per_q["rmax"] == per_q["n"]).all()
    stage1 = similarity.brute_force_topk(emb, emb, k)
    missing = out.join(stage1.select("query_id", "neighbor_id"),
                       ["query_id", "neighbor_id"], "left_anti")
    assert missing.count() == 0
    out.unpersist()


def test_retrieve_and_rerank_self_payload_corpus(spark):
    """text_df=None must work out of the box when the corpus carries
    its own text column: the payload join keys on id_col, not on the
    text_id default that the corpus typically lacks (r8 ADVICE — the
    old behavior raised AnalysisException on the missing doc_id)."""
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(20)
    docs = load_table(spark, SF_SMOKE, "documents")
    corpus = emb.join(docs.select(F.col("doc_id").alias("vec_id"), "text"),
                      "vec_id")
    out = rerank.retrieve_and_rerank(corpus, corpus, k=4, m=2)
    rows = out.groupBy("query_id").count().toPandas()
    assert len(rows) > 0 and (rows["count"] <= 2).all()


def test_retrieve_and_rerank_m_gt_k_rejected(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(5)
    with pytest.raises(ValueError, match="must be <="):
        rerank.retrieve_and_rerank(emb, emb, k=2, m=5)
