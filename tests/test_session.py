"""The session's codegen cache holds more than Spark's default 100
compiled classes, so a plan compiled before a burst of other plans is
still cached after it and reruns without compiling."""

from __future__ import annotations

from unilever_scraping_etl_spark import session


def _sum_query(spark):
    return spark.range(1000).selectExpr("id % 7 AS k", "id * 3 AS v") \
        .groupBy("k").sum("v").collect()


def test_codegen_cache_survives_a_burst_of_other_classes(spark):
    assert (int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
            == session.CODEGEN_CACHE_ENTRIES)

    _sum_query(spark)
    before = session.classes_compiled(spark)
    for i in range(1, 151):
        spark.range(8).selectExpr(f"id * {i} + {i} AS x").collect()
    after = session.classes_compiled(spark)
    assert after - before >= 150  # every literal is its own class

    _sum_query(spark)
    assert session.classes_compiled(spark) == after
