"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion with a noop-sink write — unlike
count(), which lets Catalyst prune every unreferenced computed column,
the noop write evaluates ALL output columns without materializing them
driver-side — and timed wall-clock after a warmup of the session +
parquet footers. Each query runs $SPARK_GRAFT_BENCH_RUNS passes
(default 2, suite-interleaved) and the headline is the per-query min,
so the committed artifact is reproducible on a noisy shared host; raw
per-pass timings land in bench_detail.json, next to the codegen classes
each pass compiled per query (pass 1 cold, pass 2 warm), so a warm-pass
gain that comes from the compiled-code cache shows as caching.
"""

from __future__ import annotations

import json
import os
import sys
import time
from itertools import zip_longest

import pandas as pd
from pyspark.sql import functions as F

from unilever_scraping_etl_spark.plans.registry import QUERIES
from unilever_scraping_etl_spark.session import classes_compiled, get_session


def collect_timings(names, run_one, n_runs: int, budget: float,
                    clock=time.perf_counter):
    """The suite-interleaved best-of-N pass loop, factored out so the
    failure taxonomy is unit-testable without a SparkSession. Returns
    (runs, failures, flaky_failures):

    - ``runs[name]`` — wall seconds for every completed pass;
    - ``failures`` — queries whose FIRST pass raised (no timing; bench
      exits nonzero);
    - ``flaky_failures`` — queries that succeeded at least once and
      raised on a LATER pass (host burst, OOM under contention): their
      min-of-successes still counts toward the headline, but they are
      recorded separately so timings and failures stay disjoint in the
      artifact (r6 ADVICE).

    Passes after the first stop once ``budget`` wall-seconds have
    elapsed since the loop started — pass 1 always completes, so every
    query keeps at least one timing on a slow host window."""
    runs: dict[str, list[float]] = {name: [] for name in names}
    failures: dict[str, str] = {}
    flaky_failures: dict[str, str] = {}
    t_suite = clock()
    for pass_i in range(n_runs):
        for name in names:
            if name in failures or name in flaky_failures:
                continue
            if pass_i > 0 and clock() - t_suite > budget:
                break
            t0 = clock()
            try:
                run_one(name)
                runs[name].append(round(clock() - t0, 3))
            except Exception as exc:  # keep benching; surface at the end
                sink = flaky_failures if runs[name] else failures
                sink[name] = f"{type(exc).__name__}: {exc}"
    return runs, failures, flaky_failures


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_session("bench")

    # Warm the session: JVM, parquet footers, and EVERY Python/Arrow
    # execution path the queries use — scalar pandas UDF, mapInPandas,
    # and grouped applyInPandas each spawn their own worker/serializer
    # lane, and the first query to touch a cold lane pays multi-second
    # spawn+JIT that would be misattributed to its plan (steady-state
    # per-query numbers are what the benchmark measures).
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s
    spark.range(10).select(_warm("id")).count()

    ten = spark.range(10).withColumn("g", F.col("id") % 2)
    ten.mapInPandas(lambda it: it, "id long, g long").count()
    ten.groupBy("g").applyInPandas(lambda pdf: pdf, "id long, g long").count()

    from pyspark.sql.functions import udtf

    @udtf(returnType="x: long")
    class _WarmUdtf:
        def eval(self):
            yield (1,)
    _WarmUdtf().count()

    # Best-of-N timing (r5 VERDICT item 3): single-shot suite totals
    # swung 117-283 s on identical code because the shared host lands
    # multi-second CPU-steal bursts on arbitrary queries. Each query
    # runs N passes (default 2) and the headline records the per-query
    # MIN — the estimator least sensitive to one-sided contention noise
    # — with every raw pass kept in bench_detail.json. Passes are
    # interleaved suite-wide (pass 1 over all queries, then pass 2) so
    # a burst cannot hit both runs of the same query back-to-back.
    # A wall-clock budget bounds the extra passes: once it is spent,
    # remaining queries keep their pass-1 time (min of available runs)
    # instead of risking an external timeout on a slow host window —
    # pass 1 always completes regardless.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "900"))
    t_suite = time.perf_counter()

    compiled: dict[str, list[int]] = {name: [] for name in QUERIES}

    def run_one(name: str) -> None:
        c0 = classes_compiled(spark)
        QUERIES[name].spark(spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
        compiled[name].append(classes_compiled(spark) - c0)

    runs, failures, flaky_failures = collect_timings(
        list(QUERIES), run_one, n_runs, budget)
    timings = {name: min(ts) for name, ts in runs.items() if ts}

    # Scrape-path throughput: pages/s through fetch-shaped rows -> DOM
    # extraction -> typed parse (the reference's ceiling is ~0.5-5
    # products/s from its 5x5 process pools, BASELINE.md).
    from unilever_scraping_etl_spark.plans import fixtures
    from unilever_scraping_etl_spark.sources import ingest

    n_pages = 20_000
    page_pool = F.array(*[F.lit(h) for _, h, _ in fixtures.PRODUCT_PAGE_CASES])
    pages = spark.range(n_pages).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.element_at(page_pool, (F.col("id") % 6 + 1).cast("int")).alias("html"))
    # Same best-of-N discipline as the query suite: the probe's fixed
    # workload swung 24k-38k pages/s with host interference. The probe
    # honors the same wall-clock budget (r6 ADVICE): on a host window
    # slow enough to exhaust it, extra passes are skipped (one always
    # runs) instead of risking an external timeout.
    def rates(n_items: int, run) -> list[float]:
        out = []
        for probe_i in range(max(1, n_runs)):
            if probe_i > 0 and time.perf_counter() - t_suite > budget:
                break
            t0 = time.perf_counter()
            run()
            out.append(n_items / (time.perf_counter() - t0))
        return out

    pps_runs = rates(n_pages, lambda: ingest.parse_products(pages)
                     .write.format("noop").mode("overwrite").save())
    scrape_pps = max(pps_runs)

    # Whole-scrape throughput: the probe above starts from HTML already
    # in the frame, so it never sees the fetch levels. This one runs
    # scrape_to_snapshot + count() over a fixture site (4 shops x 5
    # catalog pages x 25 products), counted in product pages/s.
    from unilever_scraping_etl_spark.sources.fetcher import FixtureFetcher

    shops, n_catalog, per_catalog = [f"shop{i}" for i in range(4)], 5, 25
    site = {}
    for shop in shops:
        for p in range(1, n_catalog + 1):
            links = [f"{shop}/item-{p}-{i}" for i in range(per_catalog)]
            suffix = "" if p == 1 else f"/page/{p}"
            site[f"https://www.tokopedia.com/{shop}{suffix}"] = \
                fixtures.catalog_html([(link, False) for link in links])
            for i, link in enumerate(links):
                site[f"https://www.tokopedia.com/{link}"] = \
                    fixtures.product_html(link, f"Rp{1000 + i}.000")
    site_fetcher = FixtureFetcher(site)
    site_runs = rates(
        len(shops) * n_catalog * per_catalog,
        lambda: ingest.scrape_to_snapshot(
            spark, shops, site_fetcher,
            {shop: n_catalog for shop in shops})[0].count())

    # Per-query detail goes to a file; stdout gets ONE compact line LAST.
    # (Round 1 lesson: the full 83-query timing dict overflowed the
    # driver's stdout tail capture and truncated the JSON head, so the
    # official record came back unparsed. The compact line stays well
    # under 1 KB; "queries" carries only the slowest 5.)
    detail = {
        "metric": "total_query_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "runs_per_query": n_runs,
        "raw_runs": {name: ts for name, ts in runs.items() if ts},
        # codegen classes compiled per pass, aligned with raw_runs
        "classes_compiled": {name: cs for name, cs in compiled.items() if cs},
        "classes_compiled_per_pass": [
            sum(p) for p in zip_longest(*compiled.values(), fillvalue=0)],
        "sf": float(sf),
        "scrape_pages_per_sec": round(scrape_pps, 1),
        "scrape_pps_runs": [round(p, 1) for p in pps_runs],
        "scrape_site_pages_per_s": round(max(site_runs), 1),
        "scrape_site_pps_runs": [round(p, 1) for p in site_runs],
    }
    if failures:
        detail["failures"] = failures
    if flaky_failures:
        detail["flaky_failures"] = flaky_failures
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL",
                                 "bench_detail.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)

    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    summary = {
        "metric": "total_query_wall_sec",
        "value": detail["value"],
        "unit": "sec",
        "queries": slowest,
        "sf": float(sf),
        "n_queries": len(timings),
        "n_failures": len(failures),
        "n_flaky": len(flaky_failures),
        "scrape_pages_per_sec": round(scrape_pps, 1),
        "detail_file": detail_path,
    }
    print(json.dumps(summary))
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
