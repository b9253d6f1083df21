"""Host-graph operators (operators/hostgraph.py): RFC 3986 host
canonicalization cases, host-level reference resolution, link
extraction, graph construction, and the linked-archive fixture round
trip against a python-computed edge set."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unilever_scraping_etl_spark.operators import graph, hostgraph

from .test_graph import _l1, _reference


def _hosts(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r["h"] for r in
            df.select(hostgraph.canonical_host(F.col("url"))
                      .alias("h")).collect()]


def test_canonical_host_normalization(spark):
    cases = [
        ("http://example.com/path", "example.com"),
        ("HTTP://ExAmPlE.Com:80/Path?q#f", "example.com"),
        ("https://user:pw@host.net:8443/x", "host.net"),
        ("//proto.relative.org./y", "proto.relative.org"),
        ("http://trailing.dot.", "trailing.dot"),
        ("http://[2001:DB8::1]:8080/v6", "[2001:db8::1]"),
        ("/just/a/path", None),
        ("mailto:ops@example.com", None),
        ("javascript:void(0)", None),
        ("", None),
        ("#fragment", None),
    ]
    got = _hosts(spark, [u for u, _ in cases])
    assert got == [h for _, h in cases]


def test_resolve_link_host_three_way(spark):
    """Own authority wins; scheme-without-authority is NULL; relative
    references land on the base host."""
    df = spark.createDataFrame(
        [("https://other.org/x",), ("mailto:a@b",), ("/rel/path",),
         ("?query=1",), ("//bare.host/z",)], "href string")
    out = [r["h"] for r in df.select(
        hostgraph.resolve_link_host(F.col("href"), F.lit("base.com"))
        .alias("h")).collect()]
    assert out == ["other.org", None, "base.com", "base.com",
                   "bare.host"]


def _records(spark, rows):
    return spark.createDataFrame(
        [(u, b.encode()) for u, b in rows],
        "target_uri string, body binary")


def test_extract_link_hosts_and_graph(spark):
    body = ('<a href="HTTP://B.Com:80/1">x</a> '
            '<A HREF="/self">y</A> '
            '<a href="mailto:z@q">m</a> '
            '<a href="//c.net./p">w</a> '
            '<a href="//c.net/other">dup-host</a>')
    recs = _records(spark, [("http://a.com/page", body)])
    links = hostgraph.extract_link_hosts(recs).collect()
    assert [(r["src_host"], r["dst_host"]) for r in links] == [
        ("a.com", "b.com"), ("a.com", "a.com"), ("a.com", None),
        ("a.com", "c.net"), ("a.com", "c.net")]
    edges = sorted(map(tuple, hostgraph.host_link_graph(recs).collect()))
    # self-loop and NULL dropped, c.net deduped
    assert edges == [("a.com", "b.com"), ("a.com", "c.net")]


def test_extract_anchor_texts(spark):
    body = ('<a href="http://b.com/1">  Visit   B  </a>'
            '<a class="x" HREF="//c.net/p" id="y">C SITE</a>'
            '<a href="/self">me</a>'
            '<a href="mailto:z@q">mail</a>'
            '<a href="http://d.org/q"><b>markup</b></a>')  # not captured
    recs = _records(spark, [("http://a.com/page", body)])
    got = [(r["src_host"], r["dst_host"], r["anchor"])
           for r in hostgraph.extract_anchor_texts(recs).collect()]
    assert got == [
        ("a.com", "b.com", "visit b"),       # ws-normalized, lowered
        ("a.com", "c.net", "c site"),        # attrs around href ok
        ("a.com", "a.com", "me"),            # relative -> page host
        ("a.com", None, "mail"),             # no authority -> NULL
    ]                                        # markup anchor excluded


def test_reserved_and_output_names_rejected(spark):
    recs = _records(spark, [("http://a.com/", "<a href=\"/x\">l</a>")])
    with pytest.raises(ValueError, match="reserved"):
        hostgraph.extract_link_hosts(recs.withColumn("__href", F.lit(1)))
    with pytest.raises(ValueError, match="reserved"):
        hostgraph.extract_link_hosts(
            recs.withColumn("src_host", F.lit(1)))


def test_fixture_round_trip_matches_formula(spark, tmp_path):
    """The linked archive read back through the full engine path must
    yield EXACTLY the analytic edge set {(d%H, (7d+1)%H),
    (d%H, (3d+2)%H)} minus self-loops — the property the host_rank
    oracle depends on."""
    from unilever_scraping_etl_spark.sources import warc

    ids = list(range(37))
    docs = spark.createDataFrame([(d,) for d in ids], "doc_id long")
    hostgraph.fixture_linked_archive(docs, "doc_id", str(tmp_path),
                                     n_hosts=7, n_files=3)
    recs = warc.read_warc(spark, str(tmp_path)).filter(F.col("parse_ok"))
    got = sorted(map(tuple, hostgraph.host_link_graph(recs).collect()))

    def h(k):
        return f"h{k}.corpus.local"

    exp = set()
    for d in ids:
        for t in ((7 * d + 1) % 7, (3 * d + 2) % 7):
            if t != d % 7:
                exp.add((h(d % 7), h(t)))
    assert got == sorted(exp)


def test_anchor_fixture_round_trip_matches_formula(spark, tmp_path):
    """The anchor archive read back through the engine anchor path
    must yield EXACTLY the analytic (src, dst, anchor) set — the
    property the anchor_retrieval oracle's query derivation depends
    on: anchors normalize to 'W[d%8] W[(d//8)%8]', the self link and
    the mailto drop out of the cross-host corpus."""
    from unilever_scraping_etl_spark.sources import warc

    ids = list(range(41))
    docs = spark.createDataFrame([(d,) for d in ids], "doc_id long")
    hostgraph.fixture_anchor_archive(docs, "doc_id", str(tmp_path),
                                     n_hosts=9, n_files=3)
    recs = warc.read_warc(spark, str(tmp_path)).filter(F.col("parse_ok"))
    ank = hostgraph.extract_anchor_texts(recs)
    got = sorted(map(tuple, ank.filter(
        F.col("dst_host").isNotNull()
        & (F.col("src_host") != F.col("dst_host"))).distinct()
        .collect()))
    W = hostgraph._ANCHOR_VOCAB

    def h(k):
        return f"h{k}.corpus.local"

    exp = {(h(d % 9), h((7 * d + 1) % 9),
            f"{W[d % 8]} {W[(d // 8) % 8]}")
           for d in ids if (7 * d + 1) % 9 != d % 9}
    assert got == sorted(exp)
    # the full corpus (pre-filter) also carries the self link's
    # anchor on the page host and a NULL-host mailto row
    full = ank.collect()
    assert any(r["anchor"] == "self"
               and r["dst_host"] == r["src_host"] for r in full)
    assert any(r["dst_host"] is None and r["anchor"] == "noise"
               for r in full)


def test_link_extraction_is_a_narrow_projection(spark):
    """100 TB posture pin: href/anchor extraction must be a pure
    projection + explode — NO shuffle. The body is read once per
    record and never crosses an exchange; only the (tiny) host pairs
    do, later, in the distinct."""
    recs = _records(spark, [("http://a.com/p", "<a href=\"/x\">l</a>")])
    for op in (hostgraph.extract_link_hosts,
               hostgraph.extract_anchor_texts):
        plan = (op(recs)._jdf.queryExecution().executedPlan()
                .toString())
        assert "Exchange" not in plan, plan


def test_is_noindex_meta_tag(spark):
    """Both attribute orders, case/whitespace noise, noindex among
    other directives; non-robots metas and NULL bodies are false."""
    rows = [
        (b'<META NAME="robots" CONTENT="NOINDEX">', True),
        (b"<meta name='robots' content='nofollow, noindex'>", True),
        (b'<meta content="noindex" name="robots">', True),
        (b'<meta name="robots" content="noindex, nofollow">', True),
        (b'<meta name="robots" content=" noindex ">', True),
        # REP directives are TOKENS: substrings of other tokens are
        # not directives (the review's noindexifier class)
        (b'<meta  name = "robots"  content = "none-noindexy">', False),
        (b'<meta name="robots" content="noindexifier">', False),
        (b'<meta name="robots" content="nofollow">', False),
        (b'<meta name="viewport" content="noindex">', False),
        (b'plain text noindex', False),
        (None, False),
        # r12 advice: the attribute NAME needs a boundary — an
        # attribute merely ENDING in "name"/"content" must not
        # satisfy the match (itemname="robots" is not a robots meta)
        (b'<meta itemname="robots" content="noindex">', False),
        (b'<meta content="noindex" itemname="robots">', False),
        (b'<meta name="robots" data-content="noindex">', False),
        (b'<meta data-name="robots" content="noindex">', False),
        # ...while a preceding attribute must not unseat a REAL match
        (b'<meta itemprop="x" name="robots" content="noindex">', True),
    ]
    df = spark.createDataFrame([(b,) for b, _ in rows], "body binary")
    got = [r["x"] for r in
           df.select(hostgraph.is_noindex(F.col("body"))
                     .alias("x")).collect()]
    assert got == [e for _, e in rows]


def test_registered_domains_longest_suffix_wins(spark):
    """PSL core algorithm: longest matching rule wins; registered
    domain = rule + one label; a host that IS a rule, or matches no
    rule, folds to NULL."""
    suffixes = spark.createDataFrame(
        [("com",), ("uk",), ("co.uk",), ("org",)], "suffix string")
    hosts = spark.createDataFrame(
        [("a.b.co.uk",), ("deep.a.b.co.uk",), ("x.com",),
         ("sub.x.com",), ("co.uk",), ("com",), ("localhost",),
         ("plain.uk",), ("a.b.co.uk",)],  # duplicate collapses
        "h string")
    got = {r["host"]: r["registered_domain"]
           for r in hostgraph.registered_domains(
               hosts, "h", suffixes).collect()}
    assert got == {
        "a.b.co.uk": "b.co.uk",        # co.uk beats uk
        "deep.a.b.co.uk": "b.co.uk",
        "x.com": "x.com",
        "sub.x.com": "x.com",
        "co.uk": None,                 # host IS a public suffix
        "com": None,
        "localhost": None,             # no rule matches
        "plain.uk": "plain.uk",
    }
    out = hostgraph.registered_domains(hosts, "h", suffixes)
    assert out.count() == 8            # distinct hosts only


def test_registered_domains_wildcard_and_exception_rules(spark):
    """The publicsuffix.org spec's canonical .ck example: `*.ck`
    makes every test.ck-style 2-label name a public suffix, `!www.ck`
    carves www.ck back out as registrable and overrides the
    wildcard."""
    suffixes = spark.createDataFrame(
        [("*.ck",), ("!www.ck",), ("com",)], "suffix string")
    hosts = spark.createDataFrame(
        [("test.ck",), ("a.test.ck",), ("deep.a.test.ck",),
         ("www.ck",), ("b.www.ck",), ("ck",), ("x.com",)],
        "h string")
    got = {r["host"]: r["registered_domain"]
           for r in hostgraph.registered_domains(
               hosts, "h", suffixes).collect()}
    assert got == {
        "test.ck": None,               # *.ck: test.ck IS the suffix
        "a.test.ck": "a.test.ck",      # suffix test.ck + one label
        "deep.a.test.ck": "a.test.ck",
        "www.ck": "www.ck",            # exception: itself registrable
        "b.www.ck": "www.ck",
        "ck": None,                    # bare ck matches no rule
        "x.com": "x.com",
    }


def test_canonical_host_adversarial_authorities(spark):
    """Degenerate authorities must yield NULL, never a crash or a
    phantom host: empty host with a port, empty authority, bare
    slashes, userinfo-only."""
    cases = [("http://:80/x", None), ("http:///path", None),
             ("//", None), ("http://@/p", None),
             ("http://@host.com/p", "host.com"),
             ("HTTP://[2001:DB8::1]/x", "[2001:db8::1]"),
             # r12 advice: userinfo with an EMPTY host must not
             # backtrack into reading the userinfo as the host
             ("http://user@:8080/x", None),
             ("http://user@:80/x", None),
             ("http://user@/path", None),
             ("http://u@", None),
             ("http://a@b@", None),
             ("http://a.com@", None),
             # ':' doubles as the port marker, so the empty-host
             # check must also scan the REST of the authority for '@'
             ("http://u:p@", None),
             ("http://u:p@h.net/x", "h.net"),
             # '@' in query/path is legal and must NOT void the host
             ("http://h.com/p?user=@x", "h.com"),
             ("http://h.com:80?a@b", "h.com"),
             # whitespace rule now lives IN canonical_host (r11
             # verdict nit): padded page URIs keep their host
             (" http://pad.com/x ", "pad.com"),
             ("\thttp://tab.com/y\n", "tab.com")]
    got = _hosts(spark, [u for u, _ in cases])
    assert got == [h for _, h in cases]


def test_data_href_attributes_are_not_links(spark):
    """r11 review finding: data-href / xlink:href must not shadow the
    real href or mint phantom edges — the attribute NAME needs a
    boundary."""
    body = ('<a data-href="http://tracker.evil/x" href="/contact">c</a>'
            '<link xlink:href="http://cdn.example/s.css">')
    recs = _records(spark, [("http://a.com/p", body)])
    links = [(r["src_host"], r["dst_host"])
             for r in hostgraph.extract_link_hosts(recs).collect()]
    assert links == [("a.com", "a.com")]  # the real relative href only
    anchors = [(r["dst_host"], r["anchor"])
               for r in hostgraph.extract_anchor_texts(recs).collect()]
    assert anchors == [("a.com", "c")]


def test_whitespace_padded_and_malformed_authority_hrefs(spark):
    """r11 review finding: ' http://real.com/x ' (padded inside the
    quotes) must resolve to real.com, not collapse to a self-loop;
    an authority marker with an unparseable host must be NULL, never
    the page's host."""
    df = spark.createDataFrame(
        [(" http://real.com/x ",), ("//",), ("http://:80/x",),
         ("http:///p",), ("\t/rel\n",)], "href string")
    out = [r["h"] for r in df.select(
        hostgraph.resolve_link_host(F.col("href"), F.lit("base.com"))
        .alias("h")).collect()]
    assert out == ["real.com", None, None, None, "base.com"]


def test_extract_links_null_and_linkless_bodies(spark):
    """NULL bodies and bodies without links contribute no link rows
    (explode drops them) — the record stream is unaffected."""
    recs = spark.createDataFrame(
        [("http://a.com/1", None),
         ("http://a.com/2", b"<p>no links</p>"),
         ("http://a.com/3", b"<a href=\"//b.net/x\">l</a>")],
        "target_uri string, body binary")
    out = hostgraph.extract_link_hosts(recs).collect()
    assert [(r["src_host"], r["dst_host"]) for r in out] == [
        ("a.com", "b.net")]


def test_harmonic_self_loops_do_not_count(spark):
    """A self-edge (u, u) must not contribute to H(u) (the u != v
    filter) but still expands paths through u."""
    from unilever_scraping_etl_spark.operators import centrality

    pairs = [(0, 0), (0, 1)]
    out = {r["node"]: r["harmonic"]
           for r in centrality.harmonic_centrality(
               _edges_long(spark, pairs), "src", "dst",
               radius=3).collect()}
    assert out == {0: 0.0, 1: 1.0}


def _edges_long(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_registered_domains_degenerate_hosts(spark):
    """Empty-label hosts (consecutive dots) and the empty string must
    fold to NULL, not crash the label arithmetic."""
    suffixes = spark.createDataFrame([("com",)], "suffix string")
    hosts = spark.createDataFrame(
        [("a..com",), ("",), (".",), ("x.com",)], "h string")
    got = {r["host"]: r["registered_domain"]
           for r in hostgraph.registered_domains(
               hosts, "h", suffixes).collect()}
    assert got["x.com"] == "x.com"
    assert got[""] is None
    assert got["."] is None
    # 'a..com': suffix 'com' matches at label 3; one label deeper is
    # the empty label, so the fold yields '.com' — garbage in, a
    # DETECTABLE artifact out (never a crash); upstream
    # canonical_host never produces empty labels (hostname syntax)
    assert got["a..com"] == ".com"


def test_registered_domains_reserved_names(spark):
    suffixes = spark.createDataFrame([("com",)], "suffix string")
    hosts = spark.createDataFrame([("x.com",)], "h string") \
        .withColumn("__i", F.lit(1))
    with pytest.raises(ValueError, match="reserved"):
        hostgraph.registered_domains(hosts, "h", suffixes)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _label = st.text(alphabet="abcXY09-", min_size=1, max_size=6)
    # min_size=0 labels → EMPTY host (r12 advice: userinfo with an
    # empty host backtracked into a phantom host); pad → the URL
    # spec's whitespace rule (strip ends, remove tab/newline anywhere)
    _urls = st.builds(
        lambda scheme, user, labels, port, path, dot, pad: (
            f"{pad}{scheme}://{user}{'.'.join(labels)}{dot}{port}"
            f"{path}{pad}"),
        scheme=st.sampled_from(["http", "HTTP", "https", "ftp"]),
        user=st.sampled_from(["", "u@", "u:p@", "@", "a@b@",
                              "u:p:q@", ":@", "@@"]),
        labels=st.lists(_label, min_size=0, max_size=3),
        port=st.sampled_from(["", ":80", ":8080", ":"]),
        path=st.sampled_from(["", "/", "/a/b?q=1#f", "?a@b", "#x@y"]),
        dot=st.sampled_from(["", ".", "\t."]),
        pad=st.sampled_from(["", " ", "\t", "\n", " \t"]))

    @settings(max_examples=15, deadline=None)
    @given(st.lists(_urls, min_size=1, max_size=8))
    def test_canonical_host_matches_urllib_reference(urls):
        """canonical_host vs the stdlib: urlsplit's hostname is
        already lowercased, port/userinfo-stripped; the trailing-dot
        strip is the one extra RFC 6.2.3 step we apply on top. The
        WHATWG whitespace rule is applied identically on both sides
        first: urlsplit itself removes tab/newline anywhere but only
        strips LEADING spaces ('http://a ' keeps the trailing space
        in the netloc), whereas the URL spec — and _clean_ref —
        strips both ends; the parser comparison is on the cleaned
        reference."""
        import re
        from urllib.parse import urlsplit

        spark = _hyp_spark[0]
        exp = [(urlsplit(re.sub(r"[\t\n\r]", "", u).strip(" "))
                .hostname or "").rstrip(".") or None
               for u in urls]
        got = _hosts(spark, urls)
        assert got == exp

    def _psl_reference(host, rules):
        """Spec-faithful publicsuffix.org fold (no implicit *)."""
        labels = host.split(".")
        n = len(labels)

        def matches(rule_labels):
            if len(rule_labels) > n:
                return False
            for rl, hl in zip(rule_labels, labels[n - len(rule_labels):]):
                if rl != "*" and rl != hl:
                    return False
            return True

        exc = [r[1:] for r in rules if r.startswith("!")
               and matches(r[1:].split("."))]
        if exc:
            # exception: the rule itself is the registered domain
            best = max(exc, key=lambda r: len(r.split(".")))
            return best
        norm = [r for r in rules if not r.startswith("!")
                and matches(r.split("."))]
        if not norm:
            return None
        best = max(norm, key=lambda r: len(r.split(".")))
        k = len(best.split("."))          # public-suffix label count
        if k >= n:
            return None                   # host IS a public suffix
        return ".".join(labels[n - k - 1:])

    # exact / wildcard / exception — never a wildcard-exception
    # ("!*.x"): the published PSL's exception rules are concrete
    # hostnames, and registered_domains documents matching them as
    # such
    _rule = st.builds(
        lambda kind, labels: (
            {"exact": "", "exc": "!"}.get(kind, "")
            + ("*." if kind == "wild" else "") + ".".join(labels)),
        kind=st.sampled_from(["exact", "wild", "exc"]),
        labels=st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
                        min_size=1, max_size=2))
    _host = st.builds(
        ".".join,
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "x", "y"]),
                 min_size=1, max_size=4))

    @settings(max_examples=12, deadline=None)
    @given(st.lists(_host, min_size=1, max_size=6, unique=True),
           st.lists(_rule, min_size=1, max_size=6, unique=True))
    def test_registered_domains_matches_psl_reference(hosts, rules):
        """Random small hosts × random rule sets (exact, wildcard,
        exception mixed) against a spec-faithful python fold. One
        divergence from the spec is deliberate on both sides here: no
        implicit-* rule (documented in the operator)."""
        # '!' rules are only meaningful with >= 2 labels per spec
        # usage; also skip rule sets where an exception has no
        # wildcard to carve out of — the fold is still well-defined,
        # keep them.
        spark = _hyp_spark[0]
        sf = spark.createDataFrame([(r,) for r in rules],
                                   "suffix string")
        hs = spark.createDataFrame([(h,) for h in hosts], "h string")
        got = {r["host"]: r["registered_domain"]
               for r in hostgraph.registered_domains(
                   hs, "h", sf).collect()}
        exp = {h: _psl_reference(h, rules) for h in hosts}
        assert got == exp

    _hyp_spark = [None]

    @pytest.fixture(autouse=True)
    def _capture_spark(spark):
        _hyp_spark[0] = spark
        yield

except ImportError:
    pass


def test_streaming_host_graph_increments(spark, tmp_path):
    """SURVEY §7.7 composition: fold new WARC segments into a
    versioned host-graph snapshot through the streaming CDC apply —
    the incrementally-maintained form of host_rank's input. Three
    archive segments (disjoint doc ranges) are parsed batch-side,
    each segment's distinct edges become versioned upsert rows in a
    parquet change feed; apply_cdc_stream folds them micro-batch by
    micro-batch. The final committed snapshot's edge set must equal
    the one-shot host_link_graph over ALL segments together."""
    import os

    from pyspark.sql import functions as F2

    from unilever_scraping_etl_spark.sources import warc
    from unilever_scraping_etl_spark.streaming import cdc_stream

    segs = []
    for i, ids in enumerate([range(0, 12), range(12, 24),
                             range(24, 36)]):
        d = tmp_path / f"seg{i}"
        d.mkdir()
        docs = spark.createDataFrame([(x,) for x in ids],
                                     "doc_id long")
        hostgraph.fixture_linked_archive(docs, "doc_id", str(d),
                                         n_hosts=6, n_files=2)
        segs.append(str(d))

    feed = str(tmp_path / "feed")
    schema = "src_host string, dst_host string, version long, op string"
    for v, seg in enumerate(segs):
        recs = warc.read_warc(spark, seg).filter(F2.col("parse_ok"))
        edges = (hostgraph.host_link_graph(recs)
                 .withColumn("version", F2.lit(v))
                 .withColumn("op", F2.lit("U")))
        edges.coalesce(1).write.mode("append").parquet(feed)
    # pin mtimes oldest-first so micro-batch order is deterministic
    for root, _, files in os.walk(feed):
        for f in files:
            p = os.path.join(root, f)
            os.utime(p, (1_000_000, 1_000_000))

    snap_root = str(tmp_path / "graph_snapshot")
    empty = spark.createDataFrame([], schema)
    cdc_stream.init_snapshot(empty, snap_root)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    q = cdc_stream.apply_cdc_stream(
        stream, snap_root, ["src_host", "dst_host"], "version",
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    final = cdc_stream.read_snapshot(spark, snap_root)
    got = sorted((r["src_host"], r["dst_host"])
                 for r in final.collect())
    one_shot = sorted(set(
        (r["src_host"], r["dst_host"])
        for seg in segs
        for r in hostgraph.host_link_graph(
            warc.read_warc(spark, seg).filter(F2.col("parse_ok")))
        .collect()))
    assert got == one_shot
    assert cdc_stream.latest_version(snap_root) >= 1


def test_weighted_fixture_occurrence_counts(spark, tmp_path):
    """fixture_weighted_archive round trip: per-(src,dst) link
    OCCURRENCE counts from the engine extraction equal the analytic
    formula — edge a carries sum(1 + d%3) over its docs, edge b one
    per doc, self-loops and mailto: never counted."""
    from unilever_scraping_etl_spark.sources import warc

    n_docs, n_hosts = 24, 4
    docs = spark.createDataFrame([(d,) for d in range(n_docs)],
                                 "doc_id long")
    hostgraph.fixture_weighted_archive(docs, "doc_id", str(tmp_path),
                                       n_hosts=n_hosts, n_files=2)
    recs = warc.read_warc(spark, str(tmp_path)).filter(F.col("parse_ok"))
    links = hostgraph.extract_link_hosts(recs)
    got = {(r["src_host"], r["dst_host"]): r["n"]
           for r in links.filter(
               F.col("src_host").isNotNull()
               & F.col("dst_host").isNotNull()
               & (F.col("src_host") != F.col("dst_host")))
           .groupBy("src_host", "dst_host")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    exp: dict[tuple[str, str], int] = {}
    for d in range(n_docs):
        s = f"h{d % n_hosts}.corpus.local"
        a = f"h{(7 * d + 1) % n_hosts}.corpus.local"
        b = f"h{(3 * d + 2) % n_hosts}.corpus.local"
        if a != s:
            exp[(s, a)] = exp.get((s, a), 0) + 1 + d % 3
        if b != s:
            exp[(s, b)] = exp.get((s, b), 0) + 1
    assert got == exp


def test_subhost_fixture_folds_to_domain_graph(spark, tmp_path):
    """fixture_subhost_archive → host graph → PSL fold: every
    w*.h{k}.corpus.local host registers as h{k}.corpus.local under
    the 'corpus.local' rule, and the domain edge set (domain
    self-loops dropped — the d%5==4 cross-subdomain edges must die
    here) equals the analytic formula."""
    from unilever_scraping_etl_spark.sources import warc

    n_docs, nd, ns = 30, 5, 3
    docs = spark.createDataFrame([(d,) for d in range(n_docs)],
                                 "doc_id long")
    hostgraph.fixture_subhost_archive(docs, "doc_id", str(tmp_path),
                                      n_domains=nd, n_subs=ns,
                                      n_files=2)
    recs = warc.read_warc(spark, str(tmp_path)).filter(F.col("parse_ok"))
    hedges = hostgraph.host_link_graph(recs)
    hosts = (hedges.select(F.col("src_host").alias("host"))
             .union(hedges.select(F.col("dst_host").alias("host")))
             .distinct())
    sfx = spark.createDataFrame([("corpus.local",)], "suffix string")
    fold = {r["host"]: r["registered_domain"]
            for r in hostgraph.registered_domains(
                hosts, "host", sfx).collect()}
    for host, dom in fold.items():
        assert dom == ".".join(host.split(".")[-3:]), host
    got = sorted(set(
        (fold[r["src_host"]], fold[r["dst_host"]])
        for r in hedges.collect()
        if fold[r["src_host"]] != fold[r["dst_host"]]))
    exp = sorted(set(
        (f"h{d % nd}.corpus.local", f"h{t % nd}.corpus.local")
        for d in range(n_docs)
        for t in ((7 * d + 1), (3 * d + 2))
        if d % nd != t % nd))
    assert got == exp
    # the domain-self-loop case is actually present in this fixture
    assert any(d % 5 == 4 for d in range(n_docs))


def test_streaming_incremental_rerank_composition(spark, tmp_path):
    """The operational nightly loop, end to end (r12 verdict item 5):
    WARC segments fold into versioned host-graph snapshots through
    the streaming CDC apply, and each committed version is re-ranked
    at fixed K with pagerank(warm_start=<previous version's published
    ranks>). Certifies what host_rank_incremental and warm_start
    exist for: at every snapshot version, the cold and warm ranks
    match the python twin on that version's graph, and the warm ranks
    sit no farther (L1) from its fixed point than the cold ones (the
    fixed point is start-independent, so the warm start never needs
    more iterations)."""
    import os

    from pyspark.sql import functions as F2

    from unilever_scraping_etl_spark.sources import warc
    from unilever_scraping_etl_spark.streaming import cdc_stream

    segs = []
    for i, ids in enumerate([range(0, 12), range(12, 24),
                             range(24, 36)]):
        d = tmp_path / f"seg{i}"
        d.mkdir()
        docs = spark.createDataFrame([(x,) for x in ids],
                                     "doc_id long")
        hostgraph.fixture_linked_archive(docs, "doc_id", str(d),
                                         n_hosts=6, n_files=2)
        segs.append(str(d))

    feed = str(tmp_path / "feed")
    schema = "src_host string, dst_host string, version long, op string"
    for v, seg in enumerate(segs):
        recs = warc.read_warc(spark, seg).filter(F2.col("parse_ok"))
        edges = (hostgraph.host_link_graph(recs)
                 .withColumn("version", F2.lit(v))
                 .withColumn("op", F2.lit("U")))
        edges.coalesce(1).write.mode("append").parquet(feed)
    for root, _, files in os.walk(feed):
        for f in files:
            os.utime(os.path.join(root, f), (1_000_000, 1_000_000))

    snap_root = str(tmp_path / "graph_snapshot")
    cdc_stream.init_snapshot(spark.createDataFrame([], schema),
                             snap_root)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    q = cdc_stream.apply_cdc_stream(
        stream, snap_root, ["src_host", "dst_host"], "version",
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    last = cdc_stream.latest_version(snap_root)
    assert last is not None and last >= 1
    k = 3
    published = None  # the previous version's ranks, as a consumer has them
    for v in range(1, last + 1):
        snap_edges = (cdc_stream.read_snapshot(spark, snap_root, v)
                      .withColumnRenamed("src_host", "src")
                      .withColumnRenamed("dst_host", "dst")
                      .select("src", "dst"))
        pairs = [(r["src"], r["dst"]) for r in snap_edges.collect()]
        cold = graph.pagerank(snap_edges, "src", "dst", iterations=k)
        c = {r["node"]: r["rank"] for r in cold.collect()}
        exp = _reference(pairs, k)
        assert set(c) == set(exp)
        for node in exp:
            assert c[node] == pytest.approx(exp[node], abs=1e-12), v
        if published is None:
            ranks = cold
        else:
            ranks = graph.pagerank(snap_edges, "src", "dst",
                                   iterations=k, warm_start=published)
            w = {r["node"]: r["rank"] for r in ranks.collect()}
            seed = {r["node"]: r["rank"] for r in published.collect()}
            exp = _reference(pairs, k, init=seed)
            assert set(w) == set(exp)
            for node in exp:
                assert w[node] == pytest.approx(exp[node], abs=1e-12), v
            fixed = _reference(pairs, 300)
            assert _l1(w, fixed) <= _l1(c, fixed), v
        published = ranks.localCheckpoint()


def test_host_pagerank_end_to_end_small(spark, tmp_path):
    """Tiny end-to-end: archive -> host graph -> pagerank returns one
    rank per host and conserves plausibility (all ranks positive,
    node set == hosts in the graph)."""
    from unilever_scraping_etl_spark.sources import warc

    docs = spark.createDataFrame([(d,) for d in range(12)],
                                 "doc_id long")
    hostgraph.fixture_linked_archive(docs, "doc_id", str(tmp_path),
                                     n_hosts=4, n_files=2)
    recs = warc.read_warc(spark, str(tmp_path)).filter(F.col("parse_ok"))
    edges = (hostgraph.host_link_graph(recs)
             .withColumnRenamed("src_host", "src")
             .withColumnRenamed("dst_host", "dst"))
    out = graph.pagerank(edges, "src", "dst", iterations=4).collect()
    nodes = {r["node"] for r in out}
    assert nodes == {f"h{k}.corpus.local" for k in range(4)}
    assert all(r["rank"] > 0 for r in out)


# ---------------------------------------------------------------------------
# canonical_url (RFC 3986 §6 normalization for frontier dedup)
# ---------------------------------------------------------------------------


def _canon(spark, urls):
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    rows = df.select(hostgraph.canonical_url(F.col("u")).alias("c")) \
             .collect()
    return [r["c"] for r in rows]


def test_canonical_url_case_port_fragment_and_sort(spark):
    got = _canon(spark, [
        "HTTP://Shop.Example.COM:80/item/5?b=2&a=1#frag",
        "https://shop.example.com:443/a",
        "https://shop.example.com:8443/a",
        "http://shop.example.com:/a",
        "http://shop.example.com:080/a",
        "https://shop.example.com:08080/a",
        "http://shop.example.com",
        "http://u:p@shop.example.com./x",
    ])
    assert got == [
        "http://shop.example.com/item/5?a=1&b=2",
        "https://shop.example.com/a",
        "https://shop.example.com:8443/a",
        "http://shop.example.com/a",
        "http://shop.example.com/a",
        "https://shop.example.com:8080/a",
        "http://shop.example.com/",
        "http://u:p@shop.example.com/x",
    ]


def test_canonical_url_dot_segments(spark):
    got = _canon(spark, [
        "http://h/a/b/../c",
        "http://h/a/./b",
        "http://h/../a",
        "http://h/a/b/..",
        "http://h/a/b/.",
        "http://h/a//b",
        "http://h/a/..",
        "http://h/a/b/../../../c",
    ])
    assert got == [
        "http://h/a/c",
        "http://h/a/b",
        "http://h/a",
        "http://h/a/",
        "http://h/a/b/",
        "http://h/a//b",
        "http://h/",
        "http://h/c",
    ]


def test_canonical_url_query_params(spark):
    got = _canon(spark, [
        "http://h/p?utm_source=feed&a=1&b=2",
        "http://h/p?gclid=xyz",
        "http://h/p?",
        "http://h/p?&&a=1",
        "http://h/p?z=1&y=2&utm_campaign=x&fbclid=1",
        "http://h/p?a=utm_source",
    ])
    assert got == [
        "http://h/p?a=1&b=2",
        "http://h/p",
        "http://h/p",
        "http://h/p?a=1",
        "http://h/p?y=2&z=1",
        "http://h/p?a=utm_source",
    ]


def test_canonical_url_rejects_non_http_and_relative(spark):
    got = _canon(spark, [
        "ftp://h/file",
        "mailto:x@y",
        "/relative/path",
        "//proto.relative/x",
        "http:///nohost",
        "",
        "  http://h/pad\t ",
    ])
    assert got == [None, None, None, None, None, None, "http://h/pad"]


def test_canonical_url_ipv6_and_merge_equivalents(spark):
    """The frontier property: every spelling of one logical URL maps
    to ONE canonical string."""
    variants = [
        "http://h20.corpus.local/item/7?b=2&a=1",
        "HTTP://H20.corpus.local:80/item/7?a=1&b=2#x",
        "http://h20.corpus.local./x/../item/7?utm_source=f&a=1&b=2",
    ]
    got = set(_canon(spark, variants))
    assert got == {"http://h20.corpus.local/item/7?a=1&b=2"}
    v6 = _canon(spark, ["http://[2001:DB8::1]:8080/a"])
    assert v6 == ["http://[2001:db8::1]:8080/a"]


# ---------------------------------------------------------------------------
# parse_robots / robots_decisions (RFC 9309 REP)
# ---------------------------------------------------------------------------

_ROBOTS_BODY = """# crawl policy
User-agent: GPTBot
Disallow: /

User-agent: *
Disallow: /private/
Allow: /private/pub/
Disallow: /*.tmp$
Disallow: /a*b
Crawl-delay: 5
Allow:
Allow: /tie
Disallow: /tie

User-agent: SparkBot
User-agent: OtherBot
Disallow: /only/
"""


def _robots_rules(spark, body=_ROBOTS_BODY, host="h"):
    df = spark.createDataFrame([(host, body)], "host string, body string")
    return hostgraph.parse_robots(df)


def test_parse_robots_groups_agents_and_rules(spark):
    rows = _robots_rules(spark).collect()
    got = {(r["group_id"], r["agent"], r["rule"], r["path"])
           for r in rows}
    assert got == {
        (1, "gptbot", "disallow", "/"),
        (2, "*", "disallow", "/private/"),
        (2, "*", "allow", "/private/pub/"),
        (2, "*", "disallow", "/*.tmp$"),
        (2, "*", "disallow", "/a*b"),
        (2, "*", "allow", "/tie"),
        (2, "*", "disallow", "/tie"),
        (3, "sparkbot", "disallow", "/only/"),
        (3, "otherbot", "disallow", "/only/"),
    }


def _decide(spark, agent, paths, body=_ROBOTS_BODY):
    rules = _robots_rules(spark, body)
    urls = spark.createDataFrame(
        [(f"http://h{p}",) for p in paths], "url string")
    rows = hostgraph.robots_decisions(rules, urls, agent).collect()
    return {r["url"].removeprefix("http://h"): r["allowed"]
            for r in rows}


def test_robots_star_group_semantics(spark):
    got = _decide(spark, "CrawlerX", [
        "/item", "/private/x", "/private/pub/f", "/tmp/f.tmp",
        "/tmp/f.tmpx", "/axxb", "/ab", "/axx", "/tie", "/tiebreak",
    ])
    assert got == {
        "/item": True,            # no matching rule
        "/private/x": False,      # Disallow /private/
        "/private/pub/f": True,   # longer Allow wins
        "/tmp/f.tmp": False,      # /*.tmp$ end anchor
        "/tmp/f.tmpx": True,      # $ anchor must not match
        "/axxb": False,           # mid-pattern wildcard
        "/ab": False,             # * matches empty
        "/axx": True,             # pattern needs the trailing b
        "/tie": True,             # equal-length tie: allow wins
        "/tiebreak": True,        # both prefixes match; same tie
    }


def test_robots_tie_allow_wins(spark):
    body = "User-agent: *\nAllow: /p\nDisallow: /p\n"
    got = _decide(spark, "anybot", ["/p", "/px"], body)
    assert got == {"/p": True, "/px": True}


def test_robots_exact_agent_group_overrides_star(spark):
    got = _decide(spark, "sparkbot", ["/private/x", "/only/p", "/item"])
    assert got == {"/private/x": True, "/only/p": False, "/item": True}
    # case-insensitive product token
    got2 = _decide(spark, "SPARKBOT", ["/only/p"])
    assert got2 == {"/only/p": False}


def test_robots_no_rules_host_and_query_matching(spark):
    rules = _robots_rules(spark)
    urls = spark.createDataFrame(
        [("http://other/anything",), ("http://h/private/pub/?a=1",),
         ("http://h",), ("http://h?x=1",)], "url string")
    rows = hostgraph.robots_decisions(rules, urls, "crawlerx").collect()
    got = {r["url"]: r["allowed"] for r in rows}
    assert got == {
        "http://other/anything": True,   # no robots.txt for that host
        "http://h/private/pub/?a=1": True,
        "http://h": True,                # empty path -> '/'
        "http://h?x=1": True,
    }


def test_robots_bare_disallow_allows_everything(spark):
    body = "User-agent: *\nDisallow:\n"
    got = _decide(spark, "anybot", ["/x", "/"], body)
    assert got == {"/x": True, "/": True}


def test_robots_root_disallow_for_exactly_matched_agent(spark):
    got = _decide(spark, "gptbot", ["/", "/anything"])
    assert got == {"/": False, "/anything": False}


# ---------------------------------------------------------------------------
# parse_sitemaps (sitemaps.org protocol)
# ---------------------------------------------------------------------------

_SITEMAP_XML = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>http://h/item?a=1&amp;b=2</loc>
    <lastmod>2026-08-01</lastmod>
    <changefreq>DAILY</changefreq>
    <priority>0.8</priority>
  </url>
  <url><loc> http://h/plain </loc></url>
  <url><lastmod>2026-01-01</lastmod></url>
  <URL><LOC>http://h/upper</LOC></URL>
</urlset>
"""

_SITEMAP_INDEX = """<sitemapindex>
  <sitemap><loc>http://h/sitemap-1.xml</loc>
           <lastmod>2026-08-15T10:00:00Z</lastmod></sitemap>
  <sitemap><loc>http://h/sitemap-2.xml</loc></sitemap>
</sitemapindex>
"""


def test_parse_sitemaps_urlset_fields_and_entities(spark):
    df = spark.createDataFrame([("h", _SITEMAP_XML)],
                               "host string, body string")
    rows = hostgraph.parse_sitemaps(df).collect()
    got = {(r["kind"], r["loc"], r["lastmod"], r["changefreq"],
            r["priority"]) for r in rows}
    assert got == {
        ("url", "http://h/item?a=1&b=2", "2026-08-01", "daily", 0.8),
        ("url", "http://h/plain", None, None, None),
        ("url", "http://h/upper", None, None, None),
    }


def test_parse_sitemaps_index_kind(spark):
    df = spark.createDataFrame([("h", _SITEMAP_INDEX)],
                               "host string, body string")
    rows = hostgraph.parse_sitemaps(df).collect()
    got = {(r["kind"], r["loc"], r["lastmod"]) for r in rows}
    assert got == {
        ("sitemap", "http://h/sitemap-1.xml", "2026-08-15T10:00:00Z"),
        ("sitemap", "http://h/sitemap-2.xml", None),
    }


def test_parse_sitemaps_amp_double_escape(spark):
    body = "<urlset><url><loc>http://h/x?q=&amp;lt;tag&amp;gt;</loc></url></urlset>"
    df = spark.createDataFrame([("h", body)], "host string, body string")
    rows = hostgraph.parse_sitemaps(df).collect()
    assert rows[0]["loc"] == "http://h/x?q=&lt;tag&gt;"


def test_parse_robots_ignores_sitemap_lines(spark):
    """Sitemap: lines are group-independent (RFC 9309 §2.3): above,
    inside or below a UA group, in upper or lower case, they never
    leak into parse_robots' rule output."""
    body = ("Sitemap: http://h/sitemap-0.xml\n"
            "User-agent: *\n"
            "Disallow: /private/\n"
            "SITEMAP: http://h/sitemap-1.xml  # primary\n"
            "sitemap:http://h/sitemap-1.xml\n"
            "# sitemap: http://h/commented-out.xml\n")
    df = spark.createDataFrame([("h", body)], "host string, body string")
    rules = {r["path"] for r in hostgraph.parse_robots(df).collect()}
    assert rules == {"/private/"}


def test_robots_like_metacharacters_are_literal(spark):
    """REP patterns may contain % and _ — SQL LIKE metacharacters.
    The LIKE translation must escape them so they match literally,
    while * and trailing $ keep their REP meaning."""
    body = ("User-agent: *\n"
            "Disallow: /sale/100%_off\n"
            "Disallow: /w*z$\n")
    got = _decide(spark, "anybot", [
        "/sale/100%_off", "/sale/100%_off/x", "/sale/100Xoff",
        "/sale/100%Xoff", "/wz", "/weez", "/weezy",
    ], body)
    assert got == {
        "/sale/100%_off": False,      # literal % and _ match
        "/sale/100%_off/x": False,    # prefix rule
        "/sale/100Xoff": True,        # % must NOT act as wildcard
        "/sale/100%Xoff": True,       # _ must NOT act as wildcard
        "/wz": False,                 # * matches empty, $ anchors
        "/weez": False,
        "/weezy": True,               # $ anchor rejects the suffix
    }


def test_robots_ruleless_exact_group_supersedes_star(spark):
    """RFC 9309 §2.2.1 (r13 ADVICE medium): a matching exact-agent
    group supersedes '*' even when it carries NO applicable rules —
    'User-agent: SparkBot' + bare 'Disallow:' means SparkBot may
    fetch EVERYTHING, regardless of how restrictive the star group
    is. Before the fix the rule-less group vanished in parse_robots'
    inner join and the star rules wrongly applied."""
    body = ("User-agent: SparkBot\n"
            "Disallow:\n"
            "\n"
            "User-agent: *\n"
            "Disallow: /\n")
    got = _decide(spark, "sparkbot", ["/", "/x", "/private/y"], body)
    assert got == {"/": True, "/x": True, "/private/y": True}
    # any other agent still gets the star lockout
    got2 = _decide(spark, "otherbot", ["/", "/x"], body)
    assert got2 == {"/": False, "/x": False}


def test_robots_crawl_delay_only_group_supersedes_star(spark):
    """Same §2.2.1 precedence with the other rule-less shape: an
    exact group whose only member is a Crawl-delay line still EXISTS
    for selection (it just contributes no path rules), and
    robots_delays keeps reading its delay off the shared group
    parse."""
    body = ("User-agent: SparkBot\n"
            "Crawl-delay: 2\n"
            "\n"
            "User-agent: *\n"
            "Disallow: /\n")
    got = _decide(spark, "sparkbot", ["/", "/anything"], body)
    assert got == {"/": True, "/anything": True}
    df = spark.createDataFrame([("h", body)], "host string, body string")
    delays = {r["host"]: r["delay_seconds"]
              for r in hostgraph.robots_delays(df, "sparkbot").collect()}
    assert delays == {"h": 2.0}


def test_robots_longest_match_counts_octets(spark):
    """RFC 9309 §2.2.2 ranks the most-specific match by OCTETS, not
    characters (r13 VERDICT nit). '/aaaa' is 5 chars/5 octets;
    '/*éé' is 4 chars but 6 octets (é is 2 bytes in UTF-8) — on a
    URL matching both, the allow must win under octet ranking where
    character ranking would pick the disallow."""
    body = ("User-agent: *\n"
            "Disallow: /aaaa\n"
            "Allow: /*éé\n")
    got = _decide(spark, "anybot", ["/aaaaéé", "/aaaax"], body)
    assert got == {"/aaaaéé": True,   # 6-octet allow beats 5-octet
                   "/aaaax": False}   # only the disallow matches


def test_robots_decisions_passes_caller_columns(spark):
    """The decision joins back onto the caller's frontier frame, so
    scheduling columns (priority, depth, lastmod, ...) survive the
    gate (r13 ADVICE: the docstring promised passthrough but the
    implementation dropped them)."""
    rules = _robots_rules(spark)
    urls = spark.createDataFrame(
        [("http://h/item", 0.7, 2), ("http://h/private/x", 0.1, 5)],
        "url string, priority double, depth int")
    rows = hostgraph.robots_decisions(rules, urls, "crawlerx").collect()
    got = {r["url"]: (r["priority"], r["depth"], r["host"], r["allowed"])
           for r in rows}
    assert got == {
        "http://h/item": (0.7, 2, "h", True),
        "http://h/private/x": (0.1, 5, "h", False),
    }


def test_canonical_url_percent_encoding_normalization(spark):
    """RFC 3986 §6.2.2.2 (r13 VERDICT #4): unreserved triplets
    decode, surviving hex uppercases, %2E participates in the
    dot-segment fold, an obfuscated tracker param still drops, and
    two spellings of the same logical URL now collapse to ONE
    frontier entry."""
    got = _canon(spark, [
        "http://h/%41b/%7Ex",          # %41->A, %7E->~
        "http://h/a%3ab",              # reserved ':' stays, hex upper
        "http://h/%C3%A9",             # non-ASCII stays encoded
        "http://h/a/%2E%2E/b",         # decoded '..' pops the 'a'
        "http://h/x?u%74m_source=1&a=%42",   # tracker decodes+drops
        "http://h/%G1/%",              # malformed % passes verbatim
        "http://h/%2Fetc",             # %2F reserved: must NOT decode
    ])
    assert got == [
        "http://h/Ab/~x",
        "http://h/a%3Ab",
        "http://h/%C3%A9",
        "http://h/b",
        "http://h/x?a=B",
        "http://h/%G1/%",
        "http://h/%2Fetc",
    ]
    # the dedup payoff: encoded and plain spellings now collide
    a, b = _canon(spark, ["http://h/p%61th?x=%31", "http://h/path?x=1"])
    assert a == b == "http://h/path?x=1"


# ---------------------------------------------------------------------------
# canonical_url hypothesis fuzz vs a spec-mirroring python reference
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def _canonical_url_reference(url):
        """Python mirror of hostgraph.canonical_url, step for step
        (same regexes, same fold, same tie rules) — documents the
        semantics and catches engine-side drift."""
        import re
        t = re.sub(r"[\t\n\r]", "", url).strip(" ")
        m = re.match(r'^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)'
                     r'([^?#]*)(?:\?([^#]*))?', t)
        if not m:
            return None
        scheme = m.group(1).lower()
        if scheme not in ("http", "https"):
            return None
        auth, path = m.group(2), m.group(3)
        query = m.group(4) or ""
        um = re.match(r'^(.*@)', auth)
        userinfo = um.group(1) if um else ""
        hostport = re.sub(r'^.*@', '', auth)
        hm = re.match(r'^(\[[^\]]*\]|[^:]+)', hostport)
        host = re.sub(r'\.$', '', hm.group(1).lower()) if hm else ""
        if host == "":
            return None
        pm = re.search(r':(\d+)$', hostport)
        port = re.sub(r'^0+(?=\d)', '', pm.group(1)) if pm else ""
        if (port == "" or (scheme == "http" and port == "80")
                or (scheme == "https" and port == "443")):
            port = ""
        else:
            port = ":" + port

        def pct(s):
            def repl(m):
                ch = chr(int(m.group(1), 16))
                if ("A" <= ch <= "Z" or "a" <= ch <= "z"
                        or "0" <= ch <= "9" or ch in "-._~"):
                    return ch
                return "%" + m.group(1).upper()
            return re.sub(r"%([0-9A-Fa-f]{2})", repl, s)

        path, query = pct(path), pct(query)
        folded = []
        for x in path.split("/")[1:]:
            if x == ".":
                continue
            if x == "..":
                if folded:
                    folded.pop()
                continue
            folded.append(x)
        npath = "/" + "/".join(folded)
        if re.search(r'/\.\.?$', path) and npath != "/":
            npath += "/"
        drop = r'^(?:utm_[^=&]*|gclid|fbclid|msclkid|yclid)(?:=.*)?$'
        params = [p for p in query.split("&")
                  if p != "" and not re.match(drop, p)]
        qs = "&".join(sorted(params))
        return (f"{scheme}://{userinfo}{host}{port}{npath}"
                + (f"?{qs}" if qs else ""))

    _seg = st.sampled_from(["a", "b", "x.tmp", ".", "..", "", "A9-",
                            "%41b", "%2E", "%2e%2E", "%2F", "%3a",
                            "%7e", "%G1", "%", "a%zz", "%C3%A9"])
    _prm = st.sampled_from(["a=1", "b=2", "z", "", "utm_source=x",
                            "utm_campaign", "gclid=1", "gclid",
                            "a=utm_source", "B=%20", "u%74m_x=1",
                            "c=%41", "d=%3d%3D", "e=%"])
    _curls = st.builds(
        lambda pad, scheme, user, hostl, dot, port, segs, q, qps, frag:
            (f"{pad}{scheme}://{user}{'.'.join(hostl)}{dot}{port}"
             f"{'/' + '/'.join(segs) if segs else ''}"
             f"{'?' + '&'.join(qps) if q else ''}{frag}{pad}"),
        pad=st.sampled_from(["", " ", "\t", " \t"]),
        scheme=st.sampled_from(["http", "HTTP", "https", "HtTpS",
                                "ftp", "m-a.i+l"]),
        user=st.sampled_from(["", "u@", "u:p@", "U:P@x@"]),
        hostl=st.lists(st.sampled_from(["Shop", "h7", "EX-9",
                                        "[2001:DB8::1]"]),
                       min_size=0, max_size=3),
        dot=st.sampled_from(["", "."]),
        port=st.sampled_from(["", ":80", ":443", ":8080", ":",
                              ":080", ":0443", ":00", ":0"]),
        segs=st.lists(_seg, min_size=0, max_size=5),
        q=st.booleans(),
        qps=st.lists(_prm, min_size=0, max_size=4),
        frag=st.sampled_from(["", "#f", "#a?b=c"]))

    @settings(max_examples=15, deadline=None)
    @given(st.lists(_curls, min_size=1, max_size=20))
    def test_canonical_url_matches_python_reference(urls):
        spark = _hyp_spark[0]
        got = _canon(spark, urls)
        exp = [_canonical_url_reference(u) for u in urls]
        assert got == exp, [
            (u, g, e) for u, g, e in zip(urls, got, exp) if g != e]

except ImportError:
    pass


def test_parse_robots_skips_utf8_bom(spark):
    """A BOM'd first User-agent line must still open group 1 — a
    dropped opener shifts every group id and misattributes rules."""
    body = "﻿User-agent: *\nDisallow: /private/\n"
    df = spark.createDataFrame([("h", body)], "host string, body string")
    got = {(r["group_id"], r["agent"], r["rule"], r["path"])
           for r in hostgraph.parse_robots(df).collect()}
    assert got == {(1, "*", "disallow", "/private/")}


def test_parse_sitemaps_comments_and_cdata(spark):
    """Commented-out entries must not parse; CDATA locs unwrap
    verbatim (no entity decode inside CDATA)."""
    body = ("<urlset>"
            "<!-- <url><loc>http://h/ghost</loc></url> -->"
            "<url><loc><![CDATA[http://h/x?a=1&b=2]]></loc></url>"
            "<url><loc>http://h/plain</loc>"
            "<!-- lastmod pending --></url>"
            "</urlset>")
    df = spark.createDataFrame([("h", body)], "host string, body string")
    got = {(r["loc"], r["lastmod"])
           for r in hostgraph.parse_sitemaps(df).collect()}
    assert got == {("http://h/x?a=1&b=2", None),
                   ("http://h/plain", None)}


def test_sitemap_index_recursion_walk(spark):
    """The bounded discovery loop (SURVEY 7.9): robots.txt names a
    sitemap INDEX, the index names child sitemaps, children carry the
    urls. The driver-side loop is bounded by the protocol's nesting
    cap; each hop is one join against the fetched-bodies table plus
    one parse — no state beyond the frontier of unvisited sitemap
    URLs."""
    from pyspark.sql import functions as F

    robots = "User-agent: *\nDisallow: /private/\nSitemap: http://h/si.xml\n"
    bodies = {
        "http://h/si.xml": (
            "<sitemapindex>"
            "<sitemap><loc>http://h/s-a.xml</loc></sitemap>"
            "<sitemap><loc>http://h/s-b.xml</loc></sitemap>"
            "</sitemapindex>"),
        "http://h/s-a.xml": (
            "<urlset><url><loc>http://h/p1</loc></url>"
            "<url><loc>http://h/p2</loc></url></urlset>"),
        "http://h/s-b.xml": (
            "<urlset><url><loc>http://h/p3</loc></url>"
            "<sitemap><loc>http://h/si.xml</loc></sitemap>"  # cycle!
            "</urlset>"),
    }
    fetched = spark.createDataFrame(
        [("h", u, b) for u, b in bodies.items()],
        "host string, url string, body string")
    # the robots.txt hop: its Sitemap: lines seed the frontier
    seeds = [("h", line.split(":", 1)[1].strip())
             for line in robots.splitlines()
             if line.lower().startswith("sitemap:")]
    frontier = spark.createDataFrame(seeds, "host string, url string")
    seen, pages = set(), set()
    for _depth in range(5):  # sitemaps.org caps nesting
        new = [(r["host"], r["url"]) for r in frontier.collect()
               if r["url"] not in seen]
        if not new:
            break
        seen |= {u for _, u in new}
        batch = spark.createDataFrame(new, "host string, url string") \
            .join(fetched, ["host", "url"]).select("host", "body")
        parsed = hostgraph.parse_sitemaps(batch)
        pages |= {r["loc"] for r in
                  parsed.filter(F.col("kind") == "url").collect()}
        frontier = (parsed.filter(F.col("kind") == "sitemap")
                    .select("host", F.col("loc").alias("url")))
    assert pages == {"http://h/p1", "http://h/p2", "http://h/p3"}
    assert seen == set(bodies)  # the cycle back to si.xml didn't loop


def test_robots_delays_group_selection_and_hygiene(spark):
    """Crawl-delay rides the group machinery: exact group wins over
    star, merged groups take the MAX, malformed/non-positive values
    drop, and hosts without a delay are absent."""
    bodies = spark.createDataFrame([
        ("a", "User-agent: *\nCrawl-delay: 2\nDisallow: /x\n"),
        ("b", ("User-agent: SparkBot\nCrawl-delay: 0.5\n"
               "User-agent: *\nCrawl-delay: 9\n")),
        ("c", ("User-agent: sparkbot\nCrawl-delay: 1\n"
               "User-agent: SPARKBOT\nCrawl-delay: 3\n"
               "User-agent: *\nCrawl-delay: 99\n")),
        ("d", "User-agent: *\nCrawl-delay: soon\nCrawl-delay: -4\n"),
        ("e", "User-agent: *\nDisallow: /x\n"),
    ], "host string, body string")
    got = {r["host"]: r["delay_seconds"]
           for r in hostgraph.robots_delays(bodies, "SparkBot")
           .collect()}
    assert got == {"a": 2.0,   # star applies (no exact group)
                   "b": 0.5,   # exact beats star
                   "c": 3.0}   # merged exact groups: max wins
    # d: only malformed/negative values -> absent; e: none stated


def test_robots_delay_line_starts_new_group_after_it(spark):
    """A user-agent line AFTER a crawl-delay line opens a NEW group
    (crawl-delay is a group member, like a rule)."""
    body = ("User-agent: a\nCrawl-delay: 5\n"
            "User-agent: b\nDisallow: /x\n")
    df = spark.createDataFrame([("h", body)], "host string, body string")
    rules = {(r["group_id"], r["agent"], r["path"])
             for r in hostgraph.parse_robots(df).collect()}
    # agent a's group has no rules but still EXISTS (NULL placeholder
    # row — RFC 9309 group precedence counts existence, r14 fix)
    assert rules == {(1, "a", None), (2, "b", "/x")}
    da = hostgraph.robots_delays(df, "a").collect()
    db = hostgraph.robots_delays(df, "b").collect()
    assert [(r["host"], r["delay_seconds"]) for r in da] == [("h", 5.0)]
    assert db == []


# ---------------------------------------------------------------------------
# robots pipeline hypothesis fuzz vs a spec-mirroring python reference
# (r14 — the canonical_url fuzz discipline applied to RFC 9309)
# ---------------------------------------------------------------------------

def _rep_match_ref(pattern, target):
    """Python mirror of _rep_like + the LIKE match: * = any run,
    trailing $ anchors the end, otherwise prefix; everything else
    literal."""
    import re
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = "".join(".*" if ch == "*" else re.escape(ch) for ch in body)
    if anchored:
        return re.fullmatch(rx, target, flags=re.DOTALL) is not None
    return re.match(rx, target, flags=re.DOTALL) is not None


def _robots_reference_decide(body, agent, paths):
    """Python mirror of parse_robots + robots_decisions, step for
    step (same regexes, same group grammar over RECOGNIZED directives
    only, same exact-beats-star selection counting group EXISTENCE,
    same octet-length/allow-wins winner) — documents the semantics
    and catches engine-side drift."""
    import re
    body = re.sub(r"^﻿", "", body)
    parsed = []
    for raw in re.split(r"\r\n|\r|\n", body):
        line = re.sub(r"#.*$", "", raw).strip()
        if not line:
            continue
        m = re.match(r"(?i)^(user-agent|allow|disallow|crawl-delay)"
                     r"\s*:\s*(.*)$", line)
        if not m:
            continue
        parsed.append((m.group(1).lower(), m.group(2).strip()))
    groups, prev_key, cur = [], "", None
    for key, val in parsed:
        if key == "user-agent" and prev_key != "user-agent":
            cur = {"agents": set(), "rules": []}
            groups.append(cur)
        prev_key = key
        if cur is None:
            continue  # lines before any user-agent drop
        if key == "user-agent":
            cur["agents"].add(val.lower())
        elif key in ("allow", "disallow") and val != "":
            cur["rules"].append((key, val))
    t = agent.lower()
    exact = [g for g in groups if t in g["agents"]]
    sel = exact if exact else [g for g in groups if "*" in g["agents"]]
    active = {(r, p) for g in sel for (r, p) in g["rules"]}
    out = {}
    for path in paths:
        target = path.split("#")[0]
        if target == "":
            target = "/"
        if target.startswith("?"):
            target = "/" + target
        cands = [(r, p) for (r, p) in active
                 if _rep_match_ref(p, target)]
        if not cands:
            out[path] = True
        else:
            best = min(cands,
                       key=lambda rp: (-len(rp[1].encode("utf-8")),
                                       rp[0]))
            out[path] = best[0] == "allow"
    return out


try:
    from hypothesis import given as _rg, settings as _rs
    from hypothesis import strategies as _rst

    _r_agents = _rst.sampled_from(["*", "SparkBot", "OtherBot", "a"])
    _r_patterns = _rst.sampled_from([
        "/", "/a", "/a*b", "/private/", "/private/pub/", "/*.tmp$",
        "", "/100%_off", "/aé", "/*éé", "/tie", "/w*z$", "/a/b",
        "*", "/$", "/aaaa",
    ])
    _r_member = _rst.one_of(
        _rst.tuples(_rst.sampled_from(["Allow", "ALLOW", "allow"]),
                    _r_patterns),
        _rst.tuples(_rst.sampled_from(["Disallow", "disallow"]),
                    _r_patterns),
        _rst.tuples(_rst.just("Crawl-delay"),
                    _rst.sampled_from(["5", "0.5", "x"])),
    )
    _r_group = _rst.tuples(
        _rst.lists(_r_agents, min_size=1, max_size=2),
        _rst.lists(_r_member, min_size=0, max_size=3))
    _r_body = _rst.builds(
        lambda junk, groups: "\n".join(
            (["Disallow: /early", "Sitemap: http://h/s.xml"]
             if junk else [])
            + [ln for uas, members in groups for ln in
               [f"User-agent: {ua}" for ua in uas]
               + [f"{k}: {v}  # c" if k.lower().startswith("c")
                  else f"{k}:{v}" for k, v in members]
               + [""]]),
        junk=_rst.booleans(),
        groups=_rst.lists(_r_group, min_size=1, max_size=3))
    _r_paths = _rst.lists(
        _rst.sampled_from([
            "/", "/a", "/ab", "/a/b", "/private/x", "/private/pub/f",
            "/100%_off", "/100Xoff", "/aé", "/aaaaéé", "/x.tmp",
            "/x.tmpy", "/tie", "/wz", "/weezy", "", "?q=1", "#f",
            "/a?b=c",
        ]), min_size=1, max_size=6, unique=True)

    @_rs(max_examples=10, deadline=None)
    @_rg(body=_r_body, agent=_rst.sampled_from(["sparkbot", "SPARKBOT",
                                                "otherbot", "nobody"]),
         paths=_r_paths)
    def test_robots_pipeline_matches_python_reference(body, agent,
                                                      paths):
        spark = _hyp_spark[0]
        got = _decide(spark, agent, paths, body)
        exp = _robots_reference_decide(body, agent, paths)
        assert got == exp, (body, agent, paths)

except ImportError:
    pass


def _robots_reference_delay(body, agent):
    """Python mirror of robots_delays: crawl-delay is a group member,
    selection counts group EXISTENCE (exact-beats-star), merged
    chosen groups take the MAX delay, malformed/non-positive values
    drop, absent host means no stated delay (None)."""
    import re
    parsed = []
    for raw in re.split(r"\r\n|\r|\n", re.sub(r"^﻿", "", body)):
        line = re.sub(r"#.*$", "", raw).strip()
        if not line:
            continue
        m = re.match(r"(?i)^(user-agent|allow|disallow|crawl-delay)"
                     r"\s*:\s*(.*)$", line)
        if m:
            parsed.append((m.group(1).lower(), m.group(2).strip()))
    groups, prev_key, cur = [], "", None
    for key, val in parsed:
        if key == "user-agent" and prev_key != "user-agent":
            cur = {"agents": set(), "delays": []}
            groups.append(cur)
        prev_key = key
        if cur is None:
            continue
        if key == "user-agent":
            cur["agents"].add(val.lower())
        elif key == "crawl-delay":
            try:
                d = float(val)
            except ValueError:
                continue
            if d > 0 and d != float("inf") and d == d:
                cur["delays"].append(d)
    t = agent.lower()
    exact = [g for g in groups if t in g["agents"]]
    sel = exact if exact else [g for g in groups if "*" in g["agents"]]
    delays = [d for g in sel for d in g["delays"]]
    return max(delays) if delays else None


try:
    from hypothesis import given as _dg, settings as _ds

    @_ds(max_examples=10, deadline=None)
    @_dg(body=_r_body,
         agent=_rst.sampled_from(["sparkbot", "otherbot", "nobody"]))
    def test_robots_delays_match_python_reference(body, agent):
        spark = _hyp_spark[0]
        df = spark.createDataFrame([("h", body)],
                                   "host string, body string")
        rows = hostgraph.robots_delays(df, agent).collect()
        got = rows[0]["delay_seconds"] if rows else None
        assert got == _robots_reference_delay(body, agent), (body,
                                                             agent)

except ImportError:
    pass
