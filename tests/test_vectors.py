"""functions/vectors.py — the one numpy cosine kernel (cosine_blocks).

Every Arrow-lane similarity operator scores through it, so these tests
pin its two decisions at the operators' public entry points: the
rounding rule (the DuckDB oracle's, on exact ties) and the row-block
memory bound (blocked output equals the unblocked run)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from unilever_scraping_etl_spark.functions import vectors
from unilever_scraping_etl_spark.operators import curation, dedup, similarity
from unilever_scraping_etl_spark.schemas import load_table

from .conftest import SF_SMOKE

_DIM = 16
_E1 = [1.0] + [0.0] * (_DIM - 1)

# (case id, vector b paired with a = e1, digits, rounded cosine). b is
# built so the unit-vector cosine is EXACTLY the double on the left:
# [1]*16 has norm 4, so cos = 0.25, a binary tie at 1 digit; the
# second b has norm exactly 1.0 in numpy and in the JVM fold, so cos
# is the double nearest 0.285 (0.28499999...), a tie only in decimal.
_TIES = [
    ("binary_tie", [1.0] * _DIM, 1, 0.3),
    ("decimal_tie",
     [0.285, math.sqrt(1 - 0.285 ** 2)] + [0.0] * (_DIM - 2), 2, 0.28),
]


def _pair_cos(rows, a_col, b_col):
    return [r.cos for r in rows if (r[a_col], r[b_col]) == (1, 2)]


def _semdedup_cos(emb, digits, cos):
    # semdedup emits losers, not scores: bracket the pair's rounded
    # cosine between the threshold it must clear and the next one up.
    def removed(threshold):
        return {r.vec_id for r in curation.semdedup(
            emb, "vec_id", "embedding", n_seeds=1, threshold=threshold,
            round_pair=digits, pairs="gemm").collect() if r.removed}

    assert removed(cos + 0.5 * 10.0 ** -digits) == set()
    # qualifies; the loser is vector 1, the seed itself (keep-far rule)
    assert removed(cos) == {1}
    return [cos]


_ENTRY_POINTS = {
    "brute_force_topk_grid": lambda emb, d, t: _pair_cos(
        similarity.brute_force_topk_grid(emb, emb, k=1,
                                         round_digits=d).collect(),
        "query_id", "neighbor_id"),
    "range_search_grid": lambda emb, d, t: _pair_cos(
        similarity.range_search_grid(emb, emb, threshold=t,
                                     round_digits=d).collect(),
        "query_id", "neighbor_id"),
    "embedding_near_pairs_grid": lambda emb, d, t: _pair_cos(
        dedup.embedding_near_pairs_grid(emb, "vec_id", "embedding",
                                        threshold=t,
                                        round_digits=d).collect(),
        "id_a", "id_b"),
    # one plane per band: a and b share a bucket in several of the 8
    # bands, so the pair reaches the verify deterministically
    "embedding_lsh_pairs": lambda emb, d, t: _pair_cos(
        dedup.embedding_lsh_pairs(emb, "vec_id", "embedding", threshold=t,
                                  n_bands=8, n_planes=1, dim=_DIM,
                                  round_digits=d).collect(),
        "id_a", "id_b"),
    "semdedup_gemm": _semdedup_cos,
}


@pytest.mark.parametrize("entry", sorted(_ENTRY_POINTS))
@pytest.mark.parametrize("case,b,digits,want", _TIES,
                         ids=[c[0] for c in _TIES])
def test_cosine_kernels_round_exact_ties_like_the_oracle(
        spark, entry, case, b, digits, want):
    """Every numpy cosine kernel rounds a tie the way the DuckDB
    oracle's round() does: 0.25 at 1 digit -> 0.3 (np.round's
    half-even gives 0.2), and the double nearest 0.285 at 2 digits ->
    0.28 (F.round rounds its shortest decimal repr and gives 0.29)."""
    import duckdb

    x = 0.25 if case == "binary_tie" else 0.285
    assert duckdb.sql(f"SELECT round({x}::DOUBLE, {digits})").fetchone()[0] \
        == want
    assert vectors._round_half_up(np.array([x, -x]), digits).tolist() \
        == [want, -want]
    f_round = spark.range(1).select(
        F.round(F.lit(x), digits).alias("r")).first()["r"]
    assert f_round == (want if case == "binary_tie" else 0.29)
    assert float(np.round(x, digits)) == (0.2 if case == "binary_tie"
                                          else want)

    emb = spark.createDataFrame([(1, _E1), (2, b)],
                                "vec_id long, embedding array<double>")
    assert _ENTRY_POINTS[entry](emb, digits, want) == [want]


_GRID_KERNELS = {
    "brute_force_topk_grid": lambda emb, qs: similarity.brute_force_topk_grid(
        qs, emb, k=5, n_blocks=2),
    "range_search_grid": lambda emb, qs: similarity.range_search_grid(
        qs, emb, threshold=0.35, n_blocks=2),
    "embedding_near_pairs_grid":
        lambda emb, qs: dedup.embedding_near_pairs_grid(
            emb, "vec_id", "embedding", threshold=0.4, n_blocks=2),
}


@pytest.mark.parametrize("kernel", sorted(_GRID_KERNELS))
def test_grid_kernels_blocked_path_matches(spark, monkeypatch, kernel):
    """A row block smaller than every grid cell forces the bounded
    path (several B x |right side| GEMM blocks per cell); the output
    must equal the unblocked run's."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    whole = sorted(map(tuple, _GRID_KERNELS[kernel](emb, qs).collect()))
    monkeypatch.setattr(vectors, "COSINE_BLOCK_ROWS", 3)
    blocked = sorted(map(tuple, _GRID_KERNELS[kernel](emb, qs).collect()))
    assert blocked == whole and len(whole) > 0
