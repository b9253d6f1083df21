"""The scrape pipeline as ONE lazy DataFrame plan (SURVEY.md §3.1).

Reference architecture (scrap_tokopedia.py:299-328): a per-shop Python
loop, two levels of nested ProcessPoolExecutor(5), per-row INSERTs.
Spark-first architecture here:

    seed shops ──▶ explode page sequence
      ──▶ mapInPandas(fetch catalog page ─▶ extract active links ─▶ explode)
      ──▶ product URL
      ──▶ mapInPandas(fetch product page ─▶ extract raw fields)
      ──▶ JVM-side parse/typing ──▶ quarantine split
      ──▶ partitioned parquet snapshot / JDBC

Each fetch level is ONE Python pass: the worker that fetches a page
also walks its DOM, so the HTML never crosses into the JVM and no UDF
is left for Catalyst to evaluate twice. Every stage is narrow (no
shuffle until a sink repartition), fetch parallelism is governed by
partition count instead of hardcoded pool widths, and row-level
tolerance is an explicit quarantine split instead of scattered
try/except (SURVEY.md §4).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import scalars
from ..operators.quarantine import quarantine_split, required_fields_rules
from ..schemas import local_df
from .extraction import (DEFAULT_SPEC, ExtractionSpec, extract_links,
                         extract_product_raw, page_stats)
from .fetcher import Fetcher


def _page_level(pages: DataFrame, kernel, fields: list[T.StructField],
                fetcher: Fetcher | None = None,
                partitions: int | None = None) -> DataFrame:
    """One fetch level as ONE mapInPandas. Per row the worker takes
    the page — ``fetcher(url)`` (its ``FetchResult.url`` replaces the
    input url), or the frame's ``html`` column when no fetcher is given
    — and emits one output row per tuple ``kernel(url, html)`` yields,
    shaped like ``fields``. The other input columns pass through,
    repeated per output row; ``url`` and ``html`` do not, so the HTML
    never leaves the Python worker. Parallelism is the frame's
    partition count: ``partitions`` repartitions first (the politeness
    knob that replaces the reference's hardcoded 5×5 pools)."""
    if partitions:
        pages = pages.repartition(partitions)
    keep = [f for f in pages.schema.fields if f.name not in ("url", "html")]
    keep_names = [f.name for f in keep]
    names = [f.name for f in fields]

    def run(batches):
        for pdf in batches:
            if fetcher is None:
                docs = zip(pdf["url"], pdf["html"])
            else:
                docs = ((r.url, r.html) for r in map(fetcher, pdf["url"]))
            at, rows = [], []
            for i, (url, html) in enumerate(docs):
                for row in kernel(url, html):
                    at.append(i)
                    rows.append(row)
            out = pdf[keep_names].iloc[at].reset_index(drop=True)
            yield pd.concat([out, pd.DataFrame(rows, columns=names)], axis=1)

    return pages.mapInPandas(run, T.StructType(keep + fields))


def catalog_links(urls: DataFrame, fetcher: Fetcher,
                  spec: ExtractionSpec = DEFAULT_SPEC,
                  partitions: int | None = None) -> DataFrame:
    """Catalog URLs -> one row per active product ``link`` (SURVEY.md
    §3.2), exploded in the worker. Empty/failed catalogs yield zero
    rows and never abort siblings."""
    return _page_level(
        urls, lambda _, html: ((link,) for link in extract_links(html, spec)),
        [T.StructField("link", T.StringType())], fetcher, partitions)


def catalog_page_stats(urls: DataFrame, fetcher: Fetcher,
                       spec: ExtractionSpec = DEFAULT_SPEC) -> DataFrame:
    """Catalog URLs -> (valid, invalid, page_ok) per page, driving
    last_valid_page (SURVEY.md A2/A3)."""
    return _page_level(
        urls, lambda _, html: (page_stats(html, spec),),
        [T.StructField("valid", T.IntegerType()),
         T.StructField("invalid", T.IntegerType()),
         T.StructField("page_ok", T.BooleanType())], fetcher)


def _products(pages: DataFrame, spec: ExtractionSpec, platform: str,
              fetcher: Fetcher | None = None,
              partitions: int | None = None) -> DataFrame:
    """Product pages -> typed rows matching the reference's
    tr_raw_scrap_data (scrap_tokopedia.py:80-91). Raw strings come out
    of the DOM walk; Rupiah/percent/date typing happens in JVM
    expressions (functions/scalars.py)."""
    raw_names = ("name_raw", "detail_raw", "price_raw",
                 "originalprice_raw", "discount_raw")

    def kernel(url, html):
        raw = extract_product_raw(html, spec)
        return ((url, *(raw[n] for n in raw_names)),)

    raw = _page_level(
        pages, kernel,
        [T.StructField(n, T.StringType()) for n in ("url", *raw_names)],
        fetcher, partitions)
    return raw.select(
        F.col("url"),
        F.trim(F.col("name_raw")).alias("name"),
        F.trim(F.col("detail_raw")).alias("detail"),
        scalars.parse_rupiah(F.col("price_raw")).alias("price"),
        scalars.parse_rupiah(F.col("originalprice_raw")).alias("originalprice"),
        scalars.parse_percent(F.col("discount_raw")).alias("discountpercentage"),
        F.lit(platform).alias("platform"),
        scalars.scrape_date().alias("createdate"),
    )


def parse_products(pages: DataFrame, spec: ExtractionSpec = DEFAULT_SPEC,
                   platform: str = "tokopedia") -> DataFrame:
    """Already-fetched ``(url, html)`` product pages -> typed product
    rows, through the same kernel and typing as the scrape's product
    level."""
    return _products(pages, spec, platform)


def scrape_to_snapshot(spark: SparkSession, shops: list[str], fetcher: Fetcher,
                       last_pages: dict[str, int],
                       spec: ExtractionSpec = DEFAULT_SPEC,
                       fetch_partitions: int | None = None,
                       persist: bool = False
                       ) -> tuple[DataFrame, DataFrame]:
    """Full pipeline: shops -> catalog pages -> links -> product rows,
    split into (valid, quarantined). UNION-of-shops is inherent: all
    shops live in one frame (SURVEY.md O3) instead of the reference's
    sequential loop (scrap_tokopedia.py:324-328). ``fetch_partitions``
    repartitions before each fetch level.

    ``persist=True`` caches the parsed-product frame BEFORE the
    quarantine split: both returned frames derive from it, so a caller
    sinking valid AND quarantined rows (the CLI does) fetches every
    page once instead of once per sink — re-scraping the web to write
    the reject file would be absurd at any scale. Caller unpersists via
    ``valid.sparkSession.catalog.clearCache()`` or lets it age out."""
    seed = local_df(spark, [(s, last_pages[s]) for s in shops],
                    "shop string, last_page int")
    pages = seed.select(
        "shop", F.explode(F.sequence(F.lit(1), F.col("last_page"))).alias("page"))
    pages = pages.withColumn(
        "url", scalars.page_url(F.concat(F.lit("https://www.tokopedia.com/"),
                                         F.col("shop")), F.col("page")))
    links = catalog_links(pages, fetcher, spec, fetch_partitions)
    product_urls = links.select(scalars.product_url(F.col("link")).alias("url"))
    products = _products(product_urls, spec, "tokopedia", fetcher,
                         fetch_partitions)
    if persist:
        products = products.persist()
    valid, quarantined = quarantine_split(
        products, required_fields_rules("name", "price"))
    return valid, quarantined


def write_snapshot(df: DataFrame, path: str) -> None:
    """Snapshot sink: parquet partitioned by createdate so as-of /
    day-over-day queries partition-prune (SURVEY.md §7.1). At 100 TB
    add bucketing on the product key for co-located as-of joins."""
    df.write.mode("append").partitionBy("createdate").parquet(path)


def upsert_snapshot(df: DataFrame, path: str) -> None:
    """Day-level idempotent upsert: replaces exactly the createdate
    partitions present in ``df``, leaving every other partition
    untouched (dynamic partition overwrite). This is the maintenance
    op the snapshot-append model needs when a day is re-scraped:
    ``append`` would duplicate the day, a full overwrite would rewrite
    the whole table — at 100 TB this touches only the affected date
    directories. Re-running the same upsert is a no-op by value."""
    (df.write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("createdate").parquet(path))


def write_clustered(df: DataFrame, path: str, cluster_by: list[str],
                    n_files: int | None = None) -> None:
    """Data-clustered parquet write: globally range-partition on
    ``cluster_by`` then sort within each output file, so every parquet
    row group carries NARROW, largely-disjoint min/max stats on those
    columns — the layout that lets a selective scan skip row groups and
    whole files instead of reading 100 TB to answer a point/range query
    (the same idea as Delta/Iceberg OPTIMIZE ZORDER for the
    single-dimension-leading case; for true multi-dimensional locality
    interleave a computed key and cluster on that).

    ``repartitionByRange`` samples the data to pick balanced split
    points (one shuffle), so file sizes stay even under skew;
    ``sortWithinPartitions`` costs no extra shuffle. Readers need no
    cooperation: parquet predicate pushdown uses the stats
    automatically."""
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (df.repartitionByRange(n, *[F.col(c) for c in cluster_by])
       .sortWithinPartitions(*cluster_by)
       .write.mode("overwrite").parquet(path))


def with_zorder(df: DataFrame, cols: list[str], bits: int = 16,
                out_col: str = "zorder") -> DataFrame:
    """Append a Z-order (Morton) key: each column linearly scales to a
    ``bits``-bit integer and the bits interleave, so sorting by the key
    clusters rows that are close in EVERY dimension —
    ``write_clustered(with_zorder(df, [a, b]), path, ["zorder"])`` gives
    row groups whose min/max stats are narrow on BOTH a and b, and a
    selective filter on either column alone skips row groups (a
    single-column sort only helps its leading column). This is the
    expression-level form of Delta/Iceberg OPTIMIZE ZORDER.

    Everything stays in whole-stage codegen: one broadcast one-row
    min/max aggregate (no driver action) linearly rescales each column;
    skewed distributions get uneven cells — the upgrade path is rank
    normalization via pre-computed quantile boundaries, same interleave.

    ``bits`` is clamped so bits*len(cols) <= 63: bit 63 is the long's
    sign bit (a 4-col x 16-bit key would sort its largest cells FIRST),
    and Java's ``<<`` wraps shifts mod 64 (5+ cols would silently OR
    high bits onto low positions). The clamp trades per-column
    resolution for correctness automatically — 63 // len(cols) bits
    per column is still 15 bits for 4 columns.
    """
    bits = min(bits, 63 // len(cols))
    if bits < 1:
        raise ValueError(f"zorder supports at most 63 columns, got "
                         f"{len(cols)}")
    mins = [F.min(F.col(c).cast("double")).alias(f"__mn_{c}") for c in cols]
    maxs = [F.max(F.col(c).cast("double")).alias(f"__mx_{c}") for c in cols]
    bounds = df.agg(*mins, *maxs)
    top = (1 << bits) - 1
    out = df.crossJoin(F.broadcast(bounds))
    z = F.lit(0).cast("long")
    for k, c in enumerate(cols):
        mn, mx = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
        span = mx - mn
        scaled = F.when(span <= 0, F.lit(0)).otherwise(
            F.floor((F.col(c).cast("double") - mn) / span * top)).cast("long")
        for i in range(bits):
            z = z.bitwiseOR(F.shiftleft(
                F.shiftright(scaled, i).bitwiseAND(F.lit(1)),
                i * len(cols) + k))
    return out.withColumn(out_col, z).drop(
        *[f"__mn_{c}" for c in cols], *[f"__mx_{c}" for c in cols])


def jdbc_options(conn: dict) -> tuple[str, dict[str, str]]:
    """S6 — connection-config source: the engine's form of the
    reference's create_url (unilever_scraping_pipeline.py:21-34, fed by
    etc/apache_airflow/credential.json via add_connection.py:11-27).
    Takes the same field names the reference's credential JSON uses
    (conn_type, host, port, schema, login, password) and returns the
    (jdbc_url, properties) pair spark.read/write.jdbc consumes. Secrets
    stay in config, never in code."""
    url = (f"jdbc:{conn['conn_type']}://{conn['host']}:{conn['port']}"
           f"/{conn['schema']}")
    props = {"user": str(conn.get("login", "")),
             "password": str(conn.get("password", ""))}
    if conn.get("driver"):
        props["driver"] = conn["driver"]
    elif conn["conn_type"] == "postgresql":
        # the reference's driver map {"postgresql": "psycopg2"} analog
        props["driver"] = "org.postgresql.Driver"
    return url, props


def write_jdbc(df: DataFrame, url: str, table: str,
               properties: dict[str, str] | None = None,
               batchsize: int = 10_000) -> None:
    """JDBC sink — batched, replacing the reference's one-transaction-
    per-row data_insert (scrap_tokopedia.py:279-297)."""
    props = {"batchsize": str(batchsize)}
    props.update(properties or {})
    df.write.mode("append").options(**props).jdbc(url, table)


def jdbc_read_options(conn: dict, table: str,
                      partition_column: str | None = None,
                      num_partitions: int = 8,
                      lower_bound: int | None = None,
                      upper_bound: int | None = None) -> dict[str, str]:
    """Option map for a JDBC read — pure and unit-testable (no live DB
    in this sandbox); read_jdbc feeds it to spark.read. Same credential
    dict as jdbc_options, so config written for the sink drives the
    source unchanged."""
    url, props = jdbc_options(conn)
    opts = {"url": url, "dbtable": table, **props}
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partitioned JDBC read requires lower_bound and upper_bound")
        opts.update({"partitionColumn": partition_column,
                     "lowerBound": str(lower_bound),
                     "upperBound": str(upper_bound),
                     "numPartitions": str(num_partitions)})
    return opts


def read_jdbc(spark: SparkSession, conn: dict, table: str,
              partition_column: str | None = None,
              num_partitions: int = 8,
              lower_bound: int | None = None,
              upper_bound: int | None = None) -> DataFrame:
    """JDBC read source — the round-trip partner of write_jdbc, closing
    the reference's load-then-analyze loop (unilever_scraping_pipeline.py
    :21-44 loads into Postgres; analytics over that table needs the read
    half).

    With ``partition_column`` (+ integral bounds) the scan splits into
    ``num_partitions`` parallel range queries — the only way a JDBC read
    parallelizes across executors; without it the whole table arrives
    through ONE connection (fine for dim tables, wrong for facts).
    Filters and column pruning push into the database via the JDBC
    source's pushdown rules, so follow this with .select/.filter freely."""
    opts = jdbc_read_options(conn, table, partition_column, num_partitions,
                             lower_bound, upper_bound)
    return spark.read.format("jdbc").options(**opts).load()


def find_last_valid_page(spark: SparkSession, base_url: str, fetcher: Fetcher,
                         spec: ExtractionSpec = DEFAULT_SPEC, step: int = 10,
                         max_pages: int = 1000) -> int:
    """Driver-side bounded boundary search (SURVEY.md §7.4), replacing
    the reference's sequential probe (scrap_tokopedia.py:153-186, which
    can loop forever on a dead page). Spark-first twist: each phase
    probes a BATCH of candidate pages in one job (they're independent),
    so the search is 2 jobs instead of O(last/step) sequential fetches.
    """
    from ..operators.relational import page_sequence

    def stats_for(page_nums: list[int]) -> dict[int, int]:
        urls = local_df(spark, [(p,) for p in page_nums], "page int") \
            .withColumn("url", scalars.page_url(F.lit(base_url), F.col("page")))
        rows = catalog_page_stats(urls, fetcher, spec).select(
            "page", "valid").collect()
        return {r["page"]: r["valid"] for r in rows}

    probes = list(range(step, max_pages + 1, step))
    coarse = stats_for([1] + probes)
    valid_pages = [p for p, v in coarse.items() if v > 0]
    if not valid_pages:
        return 0
    lo = max(valid_pages)
    fine = stats_for(list(range(lo + 1, min(lo + step, max_pages) + 1)))
    valid_fine = [p for p, v in fine.items() if v > 0]
    return max([lo] + valid_fine)
