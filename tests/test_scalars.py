"""Unit + property tests for the scalar layer (SURVEY.md §5.1/5.4),
covering the exact literals the reference handles
(scrap_tokopedia.py:256,262) and round-trip/consistency invariants.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from unilever_scraping_etl_spark.functions import scalars


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


@pytest.mark.parametrize("raw,expected", [
    ("Rp12.345", 12345),
    ("Rp1.000.000", 1000000),
    (" Rp500 ", 500),
    ("Rp0", 0),
    ("12345", 12345),          # no prefix: int(str) still parses
    ("garbage", None),         # reference raises+drops; engine yields NULL
    (None, None),
])
def test_parse_rupiah(spark, raw, expected):
    assert _one(spark, scalars.parse_rupiah(F.lit(raw))) == expected


@pytest.mark.parametrize("raw,expected", [
    ("5%", 0.05),
    ("15%", 0.15),
    ("100%", 1.0),
    (" 7% ", 0.07),
    (None, None),
])
def test_parse_percent(spark, raw, expected):
    assert _one(spark, scalars.parse_percent(F.lit(raw))) == expected


@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=50))
def test_rupiah_roundtrip_property(ns):
    # one Spark job per example batch (fixture can't pass through @given);
    # the price text is formatted the way the scraped pages print it,
    # "Rp" plus dot-grouped thousands
    from unilever_scraping_etl_spark.session import get_session
    spark = get_session("tests")
    df = spark.createDataFrame(
        [(n, "Rp" + f"{n:,}".replace(",", ".")) for n in ns],
        "n long, s string")
    out = df.select(F.col("n"), scalars.parse_rupiah(F.col("s")).alias("rt"))
    assert all(r["rt"] == r["n"] for r in out.collect())


def test_page_url(spark):
    df = spark.createDataFrame([(1,), (2,), (10,)], "p int")
    rows = df.select(scalars.page_url(F.lit("https://x.com/shop"), F.col("p"))
                     .alias("u")).collect()
    assert [r["u"] for r in rows] == [
        "https://x.com/shop", "https://x.com/shop/page/2", "https://x.com/shop/page/10"]


# ---------------------------------------------------------------------------
# Gopher-rules quality helpers (functions/text.py — Rae et al. 2021
# Appendix A signals)
# ---------------------------------------------------------------------------

def test_mean_word_length_exact(spark):
    from unilever_scraping_etl_spark.functions import text
    df = spark.createDataFrame(
        [("ab cde f",), ("aaaa",)], "t string")
    rows = df.select(text.mean_word_length(F.col("t")).alias("m")) \
        .collect()
    assert rows[0]["m"] == pytest.approx((2 + 3 + 1) / 3)
    assert rows[1]["m"] == pytest.approx(4.0)


def test_distinct_marker_hits_counts_vocabulary_not_occurrences(spark):
    """The Gopher stop-word rule: 'the the the the' has four
    occurrences but ONE distinct required word — the vocabulary
    check must read 1, and mixed text counts each stopword once."""
    from unilever_scraping_etl_spark.functions import text
    df = spark.createDataFrame(
        [("the the the the",), ("the cat and the dog and a fox",),
         ("xyzzy plugh",)], "t string")
    rows = df.select(text.distinct_marker_hits(
        F.col("t"), text.STOPWORDS).alias("d")).collect()
    assert [r["d"] for r in rows] == [1, 3, 0]  # {the}, {the,and,a}, {}
