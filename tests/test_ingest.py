"""End-to-end scrape pipeline tests with injected fixture fetchers
(SURVEY.md §7.1: the network is never touched in tests — the fetcher is
the seam, as in the reference's requests_page_get/driver_maker split,
scrap_tokopedia.py:98-114).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unilever_scraping_etl_spark.plans.fixtures import catalog_html, product_html
from unilever_scraping_etl_spark.sources import ingest
from unilever_scraping_etl_spark.sources.fetcher import (FallbackFetcher,
                                                         FetchResult,
                                                         FixtureFetcher)


@pytest.fixture()
def shop_fixture():
    """One shop, 2 catalog pages, 3 valid products (one shadow card, one
    product page missing its price -> quarantined)."""
    base = "https://www.tokopedia.com/shopx"
    pages = {
        base: catalog_html([("shopx/p1", False), ("shopx/p2", True)]),
        f"{base}/page/2": catalog_html([("shopx/p3", False), ("shopx/p4", False)]),
        "https://www.tokopedia.com/shopx/p1":
            product_html("Item One", "Rp10.000", "first", "Rp12.500", "20%"),
        "https://www.tokopedia.com/shopx/p3":
            product_html("Item Three", "Rp30.000"),
        "https://www.tokopedia.com/shopx/p4":
            product_html("Item Four", None),  # missing price
    }
    return base, FixtureFetcher(pages)


def test_scrape_to_snapshot_end_to_end(spark, shop_fixture):
    _, fetcher = shop_fixture
    valid, quarantined = ingest.scrape_to_snapshot(
        spark, ["shopx"], fetcher, {"shopx": 2})
    rows = {r["name"]: r for r in valid.collect()}
    assert set(rows) == {"Item One", "Item Three"}
    assert rows["Item One"]["price"] == 10000
    assert rows["Item One"]["originalprice"] == 12500
    assert rows["Item One"]["discountpercentage"] == 0.20
    assert rows["Item One"]["platform"] == "tokopedia"
    assert rows["Item Three"]["detail"] is None

    bad = quarantined.collect()
    assert len(bad) == 1
    assert bad[0]["quarantine_reason"] == ["missing_price"]


def _physical_nodes(plan):
    """Every operator of an executed plan, looking through adaptive
    execution's wrapper and query stages, and into the plan behind a
    cached relation (another test may have persisted the same plan)."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _physical_nodes(plan.executedPlan())
        return
    if name.endswith("QueryStage"):
        yield from _physical_nodes(plan.plan())
        return
    yield plan
    if name == "InMemoryTableScan":
        yield from _physical_nodes(plan.relation().cachedPlan())
    kids = plan.children()
    for i in range(kids.size()):
        yield from _physical_nodes(kids.apply(i))


def _executed_nodes(df):
    df.collect()
    return list(_physical_nodes(df._jdf.queryExecution().executedPlan()))


def test_scrape_plan_is_one_python_pass_per_fetch_level(spark, shop_fixture):
    """Each fetch level fetches and extracts in the same worker: two
    MapInPandas nodes, no UDF node for Catalyst to re-evaluate under an
    inferred filter, and no operator that carries the HTML."""
    _, fetcher = shop_fixture
    valid, _ = ingest.scrape_to_snapshot(spark, ["shopx"], fetcher, {"shopx": 2})
    nodes = _executed_nodes(valid)
    names = [n.nodeName() for n in nodes]
    assert names.count("MapInPandas") == 2, names
    assert not {"ArrowEvalPython", "BatchEvalPython"} & set(names), names
    for n in nodes:
        out = n.output()
        cols = {out.apply(i).name() for i in range(out.size())}
        assert "html" not in cols, (n.nodeName(), cols)


def test_fetch_partitions_repartitions_each_fetch_level(spark, shop_fixture):
    """The CLI's --fetch-partitions: same rows as the default, and both
    fetch levels run on that many partitions."""
    _, fetcher = shop_fixture

    def rows(df):
        return sorted(map(str, df.collect()))

    default = ingest.scrape_to_snapshot(spark, ["shopx"], fetcher, {"shopx": 2})
    three = ingest.scrape_to_snapshot(
        spark, ["shopx"], fetcher, {"shopx": 2}, fetch_partitions=3)
    assert rows(three[0]) == rows(default[0])
    assert rows(three[1]) == rows(default[1])
    levels = [n for n in _executed_nodes(three[0])
              if n.nodeName() == "MapInPandas"]
    assert len(levels) == 2
    assert [n.outputPartitioning().numPartitions() for n in levels] == [3, 3]
    assert three[0].rdd.getNumPartitions() == 3


def test_catalog_stats_and_links(spark, shop_fixture):
    base, fetcher = shop_fixture
    urls = spark.createDataFrame([(1, base), (2, f"{base}/page/2")], "page int, url string")
    stats = {r["page"]: (r["valid"], r["invalid"], r["page_ok"])
             for r in ingest.catalog_page_stats(urls, fetcher).collect()}
    assert stats == {1: (1, 1, True), 2: (2, 0, True)}
    links = sorted(r["link"] for r in ingest.catalog_links(urls, fetcher).collect())
    assert links == ["shopx/p1", "shopx/p3", "shopx/p4"]


def test_find_last_valid_page_batched_probe(spark):
    """Boundary search (scrap_tokopedia.py:153-186 reimagined as two
    batch jobs): valid catalogs up to page 23, empty-state beyond."""
    base = "https://www.tokopedia.com/shopy"
    def page_html(p):
        if p <= 23:
            return catalog_html([(f"shopy/i{p}", False)])
        return catalog_html([], empty_state=True)
    pages = {base: page_html(1)}
    for p in range(2, 200):
        pages[f"{base}/page/{p}"] = page_html(p)
    last = ingest.find_last_valid_page(
        spark, base, FixtureFetcher(pages), step=10, max_pages=100)
    assert last == 23


def test_find_last_valid_page_no_valid_pages(spark):
    last = ingest.find_last_valid_page(
        spark, "https://x.com/none", FixtureFetcher({}), step=10, max_pages=30)
    assert last == 0


def test_fallback_fetcher_uses_secondary_result():
    """The reference's evident intent (scrap_tokopedia.py:240-250) —
    including the fixed HTTP!=200 branch whose fallback result the
    reference accidentally discards (scrap_tokopedia.py:137-138)."""
    good = product_html("X", "Rp1.000")
    primary = FixtureFetcher({}, name="http")          # 404 for everything
    secondary = FixtureFetcher({"u": good}, name="browser")
    fb = FallbackFetcher(primary, secondary)
    res = fb("u")
    assert res.status == 200
    assert res.html == good
    assert res.fetcher == "fallback:browser"


def test_fallback_on_empty_page():
    empty = product_html(None, None)
    good = product_html("X", "Rp1.000")
    from unilever_scraping_etl_spark.sources.extraction import is_page_empty
    fb = FallbackFetcher(FixtureFetcher({"u": empty}),
                         FixtureFetcher({"u": good}),
                         is_empty=is_page_empty)
    assert fb("u").html == good


def test_jdbc_options_from_credential_fields():
    """S6 parity with create_url (unilever_scraping_pipeline.py:21-34):
    the credential.json field names map to a JDBC url + properties."""
    url, props = ingest.jdbc_options({
        "conn_type": "postgresql", "host": "db-host", "port": 5432,
        "schema": "warehouse", "login": "etl", "password": "s3cret"})
    assert url == "jdbc:postgresql://db-host:5432/warehouse"
    assert props == {"user": "etl", "password": "s3cret",
                     "driver": "org.postgresql.Driver"}


def test_write_snapshot_partitioned(spark, shop_fixture, tmp_path):
    _, fetcher = shop_fixture
    valid, _ = ingest.scrape_to_snapshot(spark, ["shopx"], fetcher, {"shopx": 2})
    path = str(tmp_path / "snap")
    ingest.write_snapshot(valid, path)
    back = spark.read.parquet(path)
    assert back.count() == 2
    # partition column survives the round trip
    assert "createdate" in back.columns


# HttpFetcher production adapter (S2) — mock transport, zero sockets ---------

class _ScriptedTransport:
    """Yields scripted (status, body) responses; raising entries raise."""

    def __init__(self, *responses):
        self._responses = list(responses)
        self.calls = []

    def __call__(self, url, headers, timeout):
        self.calls.append((url, dict(headers), timeout))
        r = self._responses.pop(0)
        if isinstance(r, Exception):
            raise r
        return r


def _mk(transport, **kw):
    from unilever_scraping_etl_spark.sources.fetcher import HttpFetcher
    kw.setdefault("sleep", lambda s: None)  # no real backoff in tests
    return HttpFetcher(transport=transport, **kw)


def test_http_fetcher_success_decodes_bytes():
    tr = _ScriptedTransport((200, "<html>ok</html>".encode()))
    res = _mk(tr)("https://x.com/p")
    assert (res.status, res.html) == (200, "<html>ok</html>")
    assert tr.calls[0][0] == "https://x.com/p"
    assert tr.calls[0][1]["User-Agent"].startswith("Mozilla")


def test_http_fetcher_404_no_retry():
    tr = _ScriptedTransport((404, b"gone"))
    res = _mk(tr, max_retries=3)("u")
    assert (res.status, res.html) == (404, None)
    assert len(tr.calls) == 1  # non-retryable: exactly one attempt


def test_http_fetcher_retries_5xx_then_succeeds():
    tr = _ScriptedTransport((503, b""), (503, b""), (200, b"fine"))
    waits = []
    res = _mk(tr, max_retries=2, backoff_sec=0.5,
              sleep=waits.append)("u")
    assert (res.status, res.html) == (200, "fine")
    assert len(tr.calls) == 3
    assert waits == [0.5, 1.0]  # exponential backoff


def test_http_fetcher_exception_is_transient_then_exhausts():
    tr = _ScriptedTransport(OSError("reset"), OSError("reset"))
    res = _mk(tr, max_retries=1)("u")
    assert (res.status, res.html) == (0, None)
    assert len(tr.calls) == 2


def test_http_fetcher_composes_with_fallback():
    """P7+F5: HTTP adapter as the cheap path, fixture 'browser' as the
    fallback — the FallbackFetcher coalesce works over the real adapter."""
    good = product_html("X", "Rp1.000")
    http = _mk(_ScriptedTransport((403, b"blocked")), max_retries=0)
    fb = FallbackFetcher(http, FixtureFetcher({"u": good}, name="browser"))
    out = fb("u")
    assert out.html == good and out.fetcher == "fallback:browser"


def test_default_transport_resolves_without_optional_deps():
    """The transport chain must terminate at stdlib urllib when neither
    curl_cffi nor requests imports (we don't call it — no network)."""
    from unilever_scraping_etl_spark.sources import fetcher as fmod
    name, tr = fmod._default_transport()
    assert name in {"curl_cffi", "requests", "urllib"} and callable(tr)


def test_http_fetcher_other_2xx_keeps_body():
    """Round-2 ADVICE: any 2xx is success — 206 (partial) must not be
    discarded as html=None the way the ==200 check did."""
    tr = _ScriptedTransport((206, b"partial body"))
    res = _mk(tr)("u")
    assert (res.status, res.html) == (206, "partial body")
    assert len(tr.calls) == 1


def test_http_fetcher_204_empty_body_is_success():
    tr = _ScriptedTransport((204, b""))
    res = _mk(tr)("u")
    assert (res.status, res.html) == (204, "")


# BrowserFetcher production adapter (S3) — fake driver, zero browsers --------

class _FakeDriver:
    """Scripted browser: page_source advances one stage per scroll
    (the lazy-render behavior the reference's scroll-poll loop exists
    for, scrap_tokopedia.py:116-129)."""

    def __init__(self, stages, fail_get: Exception | None = None):
        self._stages = list(stages)
        self._fail_get = fail_get
        self.scrolls = 0
        self.quit_called = False
        self.visited = []

    def get(self, url):
        if self._fail_get is not None:
            raise self._fail_get
        self.visited.append(url)

    def execute_script(self, js):
        assert "scrollTo" in js
        self.scrolls += 1

    @property
    def page_source(self):
        return self._stages[min(self.scrolls, len(self._stages) - 1)]

    def quit(self):
        self.quit_called = True


def test_browser_fetcher_scrolls_until_marker():
    from unilever_scraping_etl_spark.sources.fetcher import (BrowserFetcher,
                                                             ScrollUntilMarker)
    loaded = catalog_html([("shopx/p9", False)])
    drv = _FakeDriver(["<html>spinner</html>", "<html>spinner</html>", loaded])
    fetcher = BrowserFetcher(
        driver_factory=lambda: drv,
        wait=ScrollUntilMarker("lnkProductContainer", max_rounds=5,
                               sleep=lambda s: None))
    res = fetcher("https://www.tokopedia.com/shopx")
    assert (res.status, res.html, res.fetcher) == (200, loaded, "browser")
    assert drv.scrolls == 2          # stopped as soon as the marker rendered
    assert drv.quit_called           # driver never leaks
    assert drv.visited == ["https://www.tokopedia.com/shopx"]


def test_browser_fetcher_marker_never_renders_returns_partial():
    from unilever_scraping_etl_spark.sources.fetcher import (BrowserFetcher,
                                                             ScrollUntilMarker)
    drv = _FakeDriver(["<html>spinner</html>"])
    res = BrowserFetcher(
        driver_factory=lambda: drv,
        wait=ScrollUntilMarker("lnkProductContainer", max_rounds=3,
                               sleep=lambda s: None))("u")
    assert res.status == 200 and "spinner" in res.html
    assert drv.scrolls == 3          # exhausted the round budget, then gave up


def test_browser_fetcher_navigation_failure_is_relational():
    from unilever_scraping_etl_spark.sources.fetcher import BrowserFetcher
    drv = _FakeDriver(["x"], fail_get=RuntimeError("net::ERR"))
    res = BrowserFetcher(driver_factory=lambda: drv)("u")
    assert (res.status, res.html) == (0, None)
    assert drv.quit_called           # quit even on failure


def test_browser_fetcher_factory_failure_is_relational():
    from unilever_scraping_etl_spark.sources.fetcher import BrowserFetcher

    def boom():
        raise ImportError("no selenium here")
    res = BrowserFetcher(driver_factory=boom)("u")
    assert (res.status, res.html) == (0, None)


def test_fallback_http_then_browser_composition():
    """VERDICT r2 item 5 done-check: FallbackFetcher(HttpFetcher,
    BrowserFetcher) — blocked HTTP falls through to the browser path."""
    from unilever_scraping_etl_spark.sources.fetcher import (BrowserFetcher,
                                                             FallbackFetcher)
    rendered = catalog_html([("shopx/p1", False)])
    http = _mk(_ScriptedTransport((403, b"blocked")), max_retries=0)
    browser = BrowserFetcher(driver_factory=lambda: _FakeDriver([rendered]))
    out = FallbackFetcher(http, browser)("u")
    assert out.html == rendered and out.fetcher == "fallback:browser"


# JDBC read half (VERDICT r2 item 6) -----------------------------------------

def test_jdbc_read_options_round_trip_parity():
    """The same credential dict that drives write_jdbc produces the
    read-side option map (url/dbtable/user/password/driver)."""
    conn = {"conn_type": "postgresql", "host": "db-host", "port": 5432,
            "schema": "warehouse", "login": "etl", "password": "s3cret"}
    opts = ingest.jdbc_read_options(conn, "tr_raw_scrap_data")
    assert opts == {"url": "jdbc:postgresql://db-host:5432/warehouse",
                    "dbtable": "tr_raw_scrap_data", "user": "etl",
                    "password": "s3cret", "driver": "org.postgresql.Driver"}


def test_jdbc_read_options_partitioned_scan():
    conn = {"conn_type": "postgresql", "host": "h", "port": 1,
            "schema": "s", "login": "u", "password": "p"}
    opts = ingest.jdbc_read_options(conn, "t", partition_column="id",
                                    num_partitions=16, lower_bound=0,
                                    upper_bound=1_000_000)
    assert (opts["partitionColumn"], opts["numPartitions"]) == ("id", "16")
    assert (opts["lowerBound"], opts["upperBound"]) == ("0", "1000000")
    with pytest.raises(ValueError):
        ingest.jdbc_read_options(conn, "t", partition_column="id")


def test_write_clustered_gives_skippable_row_group_stats(spark, tmp_path):
    """write_clustered must produce files whose parquet min/max stats on
    the cluster column are narrow and disjoint (the row-group-skipping
    enabler at 100 TB) — vs a hash-shuffled write, where every file
    spans ~the whole key range and no scan can skip anything."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from unilever_scraping_etl_spark.schemas import load_table
    from unilever_scraping_etl_spark.sources.ingest import write_clustered

    from .conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders") \
        .select("o_orderkey", "o_totalprice")
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    full_range = hi - lo

    def file_ranges(path):
        out = []
        for f in (p for p in __import__("pathlib").Path(path).rglob("*.parquet")):
            md = pq.ParquetFile(str(f)).metadata
            for rg in range(md.num_row_groups):
                col = next(md.row_group(rg).column(i)
                           for i in range(md.row_group(rg).num_columns)
                           if md.row_group(rg).column(i).path_in_schema
                           == "o_orderkey")
                out.append((col.statistics.min, col.statistics.max))
        return out

    clustered = str(tmp_path / "clustered")
    write_clustered(orders, clustered, ["o_orderkey"], n_files=8)
    spread = str(tmp_path / "spread")
    orders.repartition(8, "o_totalprice").write.parquet(spread)

    c_ranges = file_ranges(clustered)
    s_ranges = file_ranges(spread)
    assert len(c_ranges) >= 4
    # clustered: every row group covers a narrow slice of the key space
    assert max(mx - mn for mn, mx in c_ranges) < full_range * 0.5
    # and slices are pairwise disjoint (range partitioning)
    c_sorted = sorted(c_ranges)
    assert all(a_max <= b_min for (_, a_max), (b_min, _)
               in zip(c_sorted, c_sorted[1:]))
    # hash-shuffled: every row group spans ~the whole range -> no skipping
    assert min(mx - mn for mn, mx in s_ranges) > full_range * 0.8
    # reader-side proof: a point-range filter on the clustered layout
    # scans fewer rows than the table (parquet stats prune row groups)
    df = spark.read.parquet(clustered).filter(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < lo + full_range // 8))
    assert df.count() < orders.count()


def test_zorder_clustering_bounds_both_dimensions(spark, tmp_path):
    """Z-order + range-partitioned write must yield row groups whose
    min/max stats are narrow on BOTH interleaved columns — a plain
    single-column sort leaves the secondary column spanning ~the full
    range in every file, so filters on it can never skip."""
    import pathlib

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from unilever_scraping_etl_spark.schemas import load_table
    from unilever_scraping_etl_spark.sources.ingest import (
        with_zorder, write_clustered)

    from .conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem") \
        .select("l_partkey", "l_suppkey")
    lo_p, hi_p, lo_s, hi_s = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey")).first()

    def col_widths(path, col):
        widths = []
        for f in pathlib.Path(path).rglob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            for rg in range(md.num_row_groups):
                stats = next(
                    md.row_group(rg).column(i).statistics
                    for i in range(md.row_group(rg).num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col)
                widths.append(stats.max - stats.min)
        return widths

    zpath = str(tmp_path / "z")
    write_clustered(with_zorder(li, ["l_partkey", "l_suppkey"]),
                    zpath, ["zorder"], n_files=16)
    spath = str(tmp_path / "s")
    write_clustered(li, spath, ["l_partkey"], n_files=16)

    def mean(xs):
        return sum(xs) / len(xs)

    # single-column sort: leading column clusters, secondary doesn't
    assert mean(col_widths(spath, "l_partkey")) < (hi_p - lo_p) * 0.2
    assert mean(col_widths(spath, "l_suppkey")) > (hi_s - lo_s) * 0.9
    # z-order: BOTH columns' stats are materially narrower than full
    # (a file straddling a top-bit flip of the Morton curve can span
    # wide on one axis — the MEAN is the skip-rate proxy)
    assert mean(col_widths(zpath, "l_partkey")) < (hi_p - lo_p) * 0.6
    assert mean(col_widths(zpath, "l_suppkey")) < (hi_s - lo_s) * 0.5


def test_zorder_clamps_bits_for_many_columns(spark):
    """4+ columns at the default 16 bits would put the top interleaved
    bit on the long's sign bit (largest cells sort FIRST) or wrap Java's
    shift mod 64; bits must clamp so the key stays non-negative."""
    from pyspark.sql import functions as F

    from unilever_scraping_etl_spark.schemas import load_table
    from unilever_scraping_etl_spark.sources.ingest import with_zorder

    from .conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
    z = with_zorder(li, ["l_partkey", "l_suppkey", "l_linenumber",
                         "l_quantity"])
    assert z.agg(F.min("zorder")).first()[0] >= 0


def _jobs_launched(spark, fn):
    """(result of fn(), number of Spark jobs it launched). Drains the
    listener bus so the status tracker has seen every job."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_load_table_schemas_are_the_declared_schemas(spark, sf):
    import os

    from unilever_scraping_etl_spark.schemas import TEST_TABLES, load_table

    from .conftest import SF_SMOKE

    sf_dir = os.path.join(os.path.dirname(SF_SMOKE), sf)
    for name, declared in TEST_TABLES.items():
        got = load_table(spark, sf_dir, name).schema
        assert [(f.name, f.dataType) for f in got] == \
            [(f.name, f.dataType) for f in declared], (sf, name)


def test_load_table_infers_once_per_session(spark, tmp_path):
    """The first read of a key runs the one inference job; every later
    read of it runs none."""
    import shutil

    from unilever_scraping_etl_spark.schemas import load_table

    from .conftest import SF_SMOKE

    shutil.copy(f"{SF_SMOKE}/orders.parquet", tmp_path / "orders.parquet")
    _, first = _jobs_launched(
        spark, lambda: load_table(spark, str(tmp_path), "orders"))
    _, second = _jobs_launched(
        spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert (first, second) == (1, 0)
    for name in ("lineitem", "events"):
        load_table(spark, SF_SMOKE, name)
        _, again = _jobs_launched(
            spark, lambda: load_table(spark, SF_SMOKE, name))
        assert again == 0, name


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture
def nanos_conf_unset(spark):
    """Start with ``nanosAsLong`` unset; restore the prior value after."""
    prior = spark.conf.get(_NANOS_AS_LONG, None)
    spark.conf.unset(_NANOS_AS_LONG)
    yield
    if prior is None:
        spark.conf.unset(_NANOS_AS_LONG)
    else:
        spark.conf.set(_NANOS_AS_LONG, prior)


def test_load_table_reads_nanos_events_as_micros(spark, tmp_path,
                                                 nanos_conf_unset):
    """A TIMESTAMP(NANOS) ``events.ts`` loads as TIMESTAMP truncated to
    µs, and the frame still reads after load_table has restored the
    session conf."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unilever_scraping_etl_spark.schemas import load_table

    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999]
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(ns, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"), version="2.6")
    df = load_table(spark, str(tmp_path), "events")
    assert spark.conf.get(_NANOS_AS_LONG, None) is None
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r[0] for r in df.orderBy("event_id")
           .select(F.unix_micros("ts")).collect()]
    assert got == [n // 1000 for n in ns]


@pytest.mark.parametrize("prior", [None, "false"])
def test_load_table_leaves_the_session_conf_unchanged(spark, prior,
                                                      nanos_conf_unset):
    from unilever_scraping_etl_spark.schemas import TEST_TABLES, load_table

    from .conftest import SF_ORACLE

    if prior is not None:
        spark.conf.set(_NANOS_AS_LONG, prior)
    for name in TEST_TABLES:
        load_table(spark, SF_ORACLE, name)
    assert spark.conf.get(_NANOS_AS_LONG, None) == prior


def test_events_read_keeps_other_schemas_memoized(spark, tmp_path,
                                                  nanos_conf_unset):
    """Reading events does not change the inference confs, so a table
    read before and after it is inferred once."""
    import shutil

    from unilever_scraping_etl_spark.schemas import load_table

    from .conftest import SF_SMOKE

    shutil.copy(f"{SF_SMOKE}/orders.parquet", tmp_path / "orders.parquet")
    _, first = _jobs_launched(
        spark, lambda: load_table(spark, str(tmp_path), "orders"))
    load_table(spark, SF_SMOKE, "events")
    _, second = _jobs_launched(
        spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert (first, second) == (1, 0)


def test_memoized_schemas_equal_fresh_inference(spark):
    from unilever_scraping_etl_spark.schemas import TEST_TABLES, read_parquet

    from .conftest import SF_ORACLE

    for name in TEST_TABLES:
        path = f"{SF_ORACLE}/{name}.parquet"
        read_parquet(spark, path)
        memo, jobs = _jobs_launched(spark, lambda: read_parquet(spark, path))
        assert jobs == 0, name
        assert memo.schema == spark.read.parquet(path).schema, name


def test_read_parquet_sees_rewritten_file_and_directory(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unilever_scraping_etl_spark.schemas import read_parquet

    f = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int32())}), f)
    assert read_parquet(spark, f).dtypes == [("a", "int")]
    assert read_parquet(spark, f).dtypes == [("a", "int")]
    pq.write_table(pa.table({"a": ["x"], "b": pa.array([7], pa.int64())}), f)
    df = read_parquet(spark, f)
    assert df.dtypes == [("a", "string"), ("b", "bigint")]
    assert [tuple(r) for r in df.collect()] == [("x", 7)]

    d = str(tmp_path / "parts")
    spark.range(4).selectExpr("cast(id as int) as k") \
        .repartition(2).write.parquet(d)
    assert read_parquet(spark, d).dtypes == [("k", "int")]
    assert read_parquet(spark, d).dtypes == [("k", "int")]
    spark.range(4).selectExpr("cast(id as string) as k", "id * 2 as v") \
        .repartition(2).write.mode("overwrite").parquet(d)
    df = read_parquet(spark, d)
    assert df.dtypes == [("k", "string"), ("v", "bigint")]
    assert sorted(r.v for r in df.collect()) == [0, 2, 4, 6]


def test_read_parquet_reinfers_when_an_inference_conf_changes(spark,
                                                              tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unilever_scraping_etl_spark.schemas import read_parquet

    f = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"hi"], pa.binary())}), f)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, f).dtypes == [("b", "binary")]
        spark.conf.set(key, "true")
        assert read_parquet(spark, f).dtypes == [("b", "string")]
        spark.conf.set(key, "false")
        assert read_parquet(spark, f).dtypes == [("b", "binary")]
    finally:
        spark.conf.set(key, prev)


def test_read_parquet_memo_is_bounded(spark, tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unilever_scraping_etl_spark import schemas

    monkeypatch.setattr(schemas, "_SCHEMA_MEMO_ENTRIES", 2)
    paths = []
    for i in range(3):
        paths.append(str(tmp_path / f"t{i}.parquet"))
        pq.write_table(pa.table({f"c{i}": [i]}), paths[-1])
        schemas.read_parquet(spark, paths[-1])
    assert len(schemas._schema_memo) <= 2
    assert not any(k[0] == paths[0] for k in schemas._schema_memo)
    # a file: URI shares the plain path's key
    df, jobs = _jobs_launched(
        spark, lambda: schemas.read_parquet(spark, f"file://{paths[2]}"))
    assert (df.columns, jobs) == (["c2"], 0)
    # a glob is listed by Spark, not by the memo: plain inference
    glob = str(tmp_path / "t*.parquet")
    assert schemas.read_parquet(spark, glob).count() == 3
    assert not any(k[0] == glob for k in schemas._schema_memo)
