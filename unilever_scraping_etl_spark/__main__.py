"""Thin orchestration entry point (SURVEY.md §3.1).

The reference runs its pipeline as an Airflow DAG of PythonOperators
(unilever_scraping_pipeline.py:92-110: probe last page -> scrape ->
load). Here orchestration survives only as this spark-submit-able
wrapper wiring the same three phases against one SparkSession:

    python -m unilever_scraping_etl_spark run \
        --shops shopx,shopy --fetcher fixture:/path/pages.json \
        --out /tmp/snapshot --quarantine-out /tmp/rejects

Fetcher specs (everything network-ish stays injected, SURVEY.md §7.1):
    fixture:<pages.json>  url->html map from a JSON file (tests, replay)
    http                  HttpFetcher (retry/backoff; curl_cffi/requests/
                          urllib, whichever is importable)
    browser               BrowserFetcher (Selenium, lazy import)
    auto                  FallbackFetcher(http, browser) — the
                          reference's cheap-then-browser composition

Emits one JSON summary line on stdout; exit code 0 on success.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_fetcher(spec: str):
    from .sources.fetcher import (BrowserFetcher, FallbackFetcher,
                                  FixtureFetcher, HttpFetcher)
    kind, _, arg = spec.partition(":")
    if kind == "fixture":
        with open(arg, encoding="utf-8") as fh:
            return FixtureFetcher(json.load(fh))
    if kind == "http":
        return HttpFetcher()
    if kind == "browser":
        return BrowserFetcher()
    if kind == "auto":
        return FallbackFetcher(HttpFetcher(), BrowserFetcher())
    raise SystemExit(
        f"unknown --fetcher {spec!r}; expected fixture:<json>|http|browser|auto")


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="python -m unilever_scraping_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run", help="probe -> scrape -> quarantine -> snapshot")
    run.add_argument("--shops", required=True,
                     help="comma-separated shop slugs")
    run.add_argument("--fetcher", default="auto",
                     help="fixture:<pages.json> | http | browser | auto")
    run.add_argument("--out", required=True,
                     help="snapshot parquet dir (partitioned by createdate)")
    run.add_argument("--quarantine-out", default=None,
                     help="optional parquet dir for rejected rows")
    run.add_argument("--base-url", default="https://www.tokopedia.com/",
                     help="catalog base; shop slug is appended")
    run.add_argument("--probe-step", type=int, default=10)
    run.add_argument("--max-pages", type=int, default=1000)
    run.add_argument("--fetch-partitions", type=int, default=None,
                     help="politeness knob: fetch parallelism")
    run.add_argument("--master", default=None,
                     help="Spark master (default: inherit/local[*])")

    comp = sub.add_parser(
        "compact", help="rewrite a parquet table clustered for "
                        "row-group skipping (OPTIMIZE-style maintenance)")
    comp.add_argument("--in", dest="in_path", required=True,
                      help="source parquet dir")
    comp.add_argument("--out", required=True,
                      help="destination parquet dir (overwritten)")
    comp.add_argument("--cluster-by", required=True,
                      help="comma-separated columns; >1 column with "
                           "--zorder interleaves them into a Morton key")
    comp.add_argument("--zorder", action="store_true",
                      help="z-order the cluster columns instead of "
                           "lexicographic sort")
    comp.add_argument("--files", type=int, default=None,
                      help="output file count (default: parallelism)")
    comp.add_argument("--master", default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    from pyspark.sql import SparkSession

    from .sources.ingest import (find_last_valid_page, scrape_to_snapshot,
                                 write_snapshot)

    builder = SparkSession.builder.appName("unilever-scraping-etl-spark")
    if args.master:
        builder = builder.master(args.master)
    spark = builder.getOrCreate()

    if args.cmd == "compact":
        from .schemas import read_parquet
        from .sources.ingest import with_zorder, write_clustered
        df = read_parquet(spark, args.in_path)
        cols = [c.strip() for c in args.cluster_by.split(",") if c.strip()]
        if args.zorder:
            df = with_zorder(df, cols)
            cluster_cols = ["zorder"]
        else:
            cluster_cols = cols
        write_clustered(df, args.out, cluster_cols, n_files=args.files)
        print(json.dumps({"compacted": args.in_path, "out": args.out,
                          "cluster_by": cols, "zorder": args.zorder,
                          "rows": read_parquet(spark, args.out).count()},
                         sort_keys=True))
        return 0

    fetcher = build_fetcher(args.fetcher)
    shops = [s.strip() for s in args.shops.split(",") if s.strip()]
    last_pages = {
        shop: find_last_valid_page(spark, args.base_url + shop, fetcher,
                                   step=args.probe_step,
                                   max_pages=args.max_pages)
        for shop in shops
    }
    active = [s for s in shops if last_pages[s] > 0]
    summary = {"shops": shops, "last_pages": last_pages,
               "valid_rows": 0, "quarantined_rows": 0, "out": args.out}
    if active:
        valid, quarantined = scrape_to_snapshot(
            spark, active, fetcher, last_pages,
            fetch_partitions=args.fetch_partitions, persist=True)
        write_snapshot(valid, args.out)
        summary["valid_rows"] = valid.count()
        if args.quarantine_out:
            quarantined.write.mode("append").parquet(args.quarantine_out)
            summary["quarantine_out"] = args.quarantine_out
        summary["quarantined_rows"] = quarantined.count()
    print(json.dumps(summary, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
