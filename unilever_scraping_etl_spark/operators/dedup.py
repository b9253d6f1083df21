"""Deduplication operators for the LLM-data-pipeline surface
(SURVEY.md §2.10 L1/L2; driver north star). Four families:

- exact        : hash groupBy on the dedup key (one shuffle)
- minhash LSH  : shingle → k minhashes → bands → bucket join (near-dup
                 at 100 TB without the O(n²) pair space)
- simhash      : 64-bit sign fingerprint, hamming-ball candidates
- n-gram Jaccard : exact pairwise Jaccard over token shingles, the
                 verifier for LSH candidates (and oracle-checkable)

All pure DataFrame ops — shingling/hashing with built-in functions
(xxhash64 is JVM-side and seed-stable), so everything stays in codegen
and scales by shuffle, not by Python.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, functions as F


def _shuffle_partitions(spark) -> int:
    """spark.sql.shuffle.partitions as an int, tolerating non-numeric
    values ('auto' under vendor AQE auto-optimized shuffle — r8
    ADVICE): fall back to the cluster's default parallelism rather
    than crash every spread='id' guard caller on such clusters."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def dedup_exact(df: DataFrame, key_cols: list[str],
                id_col: str) -> DataFrame:
    """L1 — exact dedup keeping the smallest id per key group.
    min() instead of dropDuplicates: dropDuplicates keeps an *arbitrary*
    row (first seen per partition), which is non-deterministic under
    shuffle; min(id) is reproducible and oracle-checkable. Same cost:
    one partial-agg shuffle."""
    return df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))


def shingles(text_col, n: int = 3) -> "F.Column":
    """Word n-gram shingles of lowercased text, distinct per doc."""
    toks = F.split(F.lower(text_col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))))


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 16, shingle_n: int = 3) -> DataFrame:
    """MinHash signature per document as a NARROW MAP — no shuffle:
    per row, array_min(transform(shingles, s -> xxhash64(s, h))) for
    each hash function h (xxhash64 is seed-stable across the cluster).
    The signature is a per-document value, so computing it must never
    cost an explode + groupBy shuffle — at 100 TB this stage pipelines
    straight out of the scan."""
    # Materialize the shingle array in its own projection: the 16 min
    # columns all reference it, and CollapseProject must not merge the
    # two selects (it would inline 16 copies of the shingling work —
    # Catalyst keeps non-cheap multi-referenced aliases separate).
    with_sh = df.select(F.col(id_col),
                        shingles(F.col(text_col), shingle_n).alias("__sh"))

    # NB: single-arg lambda factory — a `lambda s, h=h:` default-arg
    # closure has arity 2, which pyspark reads as the (element, index)
    # lambda form and silently binds the array index over the seed.
    def hashed_with_seed(h: int):
        return lambda s: F.xxhash64(s, F.lit(h))

    cols = [
        F.array_min(F.transform("__sh", hashed_with_seed(h))).alias(f"mh_{h}")
        for h in range(num_hashes)
    ]
    return with_sh.select(F.col(id_col), *cols)


def banded_pair_candidates(banded: DataFrame, id_col: str,
                           keys: list[str],
                           max_bucket_size: int | None = None,
                           payload: str | None = None,
                           spread: str | None = "id") -> DataFrame:
    """Shared candidate generator for every LSH family (minhash bands,
    simhash chunks, hyperplane buckets): an equi SELF-JOIN of the
    banded table on ``keys`` with id_a < id_b — a standard shuffle
    join, NEVER an O(n²) cross — plus the HOT-BUCKET GUARD.

    ``max_bucket_size`` bounds the worst reducer on template-heavy
    corpora: a bucket of N near-identical docs otherwise emits
    N(N-1)/2 pairs — one 10k-doc template is 50M pairs in ONE reducer,
    the quadratic blowup banding exists to avoid. Buckets larger than
    the cap are STAR-LINKED instead: every member links to the
    bucket's min id, emitting N-1 edges that preserve exactly the
    CANDIDATE-graph connectivity a downstream connected-components
    clustering needs (the clique is recovered transitively) at O(N)
    cost AND diameter 2 (a chain would hand the label-propagation loop
    a diameter-N path — its worst case); per-pair verifiers still
    apply edge-by-edge. Pair-level recall for non-hub members of a
    capped bucket is traded away knowingly — for DEDUP
    (cluster-then-keep-one) connectivity is the requirement. Note the
    connectivity guarantee is pre-verify: if the caller's verifier
    rejects the hub's edges to members that mutually pass it, those
    members disconnect in the VERIFIED output (see the caveat on
    simhash_near_pairs / embedding_lsh_pairs). The bucket-sizing window is PARTITIONED by the
    band keys (never global), so the guard itself scales.

    ``payload`` names a per-id column (e.g. the simhash fingerprint)
    to carry through as ``{payload}_a`` / ``{payload}_b`` so the
    caller's verifier needs no re-join; the star path takes the hub's
    payload from the same min-struct (struct comparison is
    lexicographic, so min-by-id picks the hub AND its payload in one
    window expression). Returns DISTINCT (id_a, id_b[, payload_a,
    payload_b]) with id_a < id_b."""
    def pair_cols(l_pfx: str, r_pfx: str):
        cols = [F.col(f"{l_pfx}.{id_col}").alias("id_a"),
                F.col(f"{r_pfx}.{id_col}").alias("id_b")]
        if payload is not None:
            cols += [F.col(f"{l_pfx}.{payload}").alias(f"{payload}_a"),
                     F.col(f"{r_pfx}.{payload}").alias(f"{payload}_b")]
        return cols

    def self_join(src: DataFrame) -> DataFrame:
        l, r = src.alias("l"), src.alias("r")
        cond = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
        cond.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        return l.join(r, cond).select(*pair_cols("l", "r"))

    if max_bucket_size is None:
        return self_join(banded).distinct()
    from pyspark.sql import Window
    wb = Window.partitionBy(*keys)
    sized = banded.withColumn("n_bucket", F.count(F.lit(1)).over(wb))
    # Pair-generation parallelism guard-within-the-guard: the sizing
    # window's exchange carries only |banded| rows (tiny bytes), so
    # AQE coalesces it to a handful of partitions — and the pair JOIN
    # fed from it then explodes up to cap²/2 output rows per bucket
    # inside those few tasks (measured: the capped candidate stage ran
    # in 3 tasks on the 10×-inflated sf0.1 embeddings corpus, 1.6×
    # SLOWER than the unguarded plan, whose stream side reads a
    # non-exchange scan and keeps full parallelism — BASELINE.md
    # round-8 guard stress). AQE coalescing is sized on exchange INPUT
    # bytes and cannot see a downstream row explosion, so pin the
    # spread explicitly: repartition with an explicit partition count
    # (REPARTITION_BY_NUM — exempt from AQE coalescing). Whether to
    # pin depends on the bucket-key cardinality, known per LSH family
    # by construction (A/B'd at the 10× scale, ibid.):
    #   spread="id" (default — safe in the coarse direction) — hash
    #     the doc id. Splits every bucket's rows across all
    #     partitions, so pair generation parallelizes WITHIN a bucket
    #     (the join localizes via broadcast/replication of the tiny
    #     banded table), and colocating all of a doc's band rows lets
    #     the partial-distinct collapse duplicate pairs before the
    #     shuffle. Needed when bucket keys are COARSE (simhash's
    #     16-bit chunk values, hyperplane's n_planes-bit buckets):
    #     there, a keys-distribution lands each whole bucket in one
    #     task and the cap²/2 pair explosion re-concentrates (2.9×
    #     slower at the 10× stress).
    #   spread=None — no pin. Correct when bucket keys are
    #     FINE-GRAINED (minhash's 64-bit xxhash64 band hashes): the
    #     per-bucket explosion is bounded by the true clique size, so
    #     the join's own keys-exchange needs no protection, and the
    #     id-pin's extra exchange costs 1.8× (ibid.). (Repartitioning
    #     by the band keys instead is a measured no-op: the sizing
    #     window already leaves the data keys-partitioned, so
    #     Catalyst elides the redundant repartition.)
    if spread not in ("id", None):
        raise ValueError(f"spread must be 'id' or None, got {spread!r}")
    small = sized.filter(F.col("n_bucket") <= max_bucket_size) \
                 .drop("n_bucket")
    if spread == "id":
        # NOTE the id-pin's parallelism win assumes the self-join
        # BROADCASTS one side (the banded table is band-count × id
        # rows of key bytes — small at every measured scale): the
        # stream side then keeps the id-distribution and pairs
        # generate across all tasks. If the banded table ever exceeds
        # the broadcast threshold, SMJ/SHJ re-exchanges BOTH sides on
        # the band keys, re-concentrating each bucket in one task and
        # demoting this repartition to a dead extra shuffle (r8
        # ADVICE); test_guard_spread_column_per_family pins the
        # BroadcastHashJoin so that regression is loud, not silent.
        n_part = _shuffle_partitions(banded.sparkSession)
        small = small.repartition(n_part, F.col(id_col))
    if payload is None:
        hub_id = F.min(id_col).over(wb)
        star_cols = [hub_id.alias("id_a"), F.col(id_col).alias("id_b")]
    else:
        hub = F.min(F.struct(F.col(id_col).alias("i"),
                             F.col(payload).alias("p"))).over(wb)
        star_cols = [hub["i"].alias("id_a"), F.col(id_col).alias("id_b"),
                     hub["p"].alias(f"{payload}_a"),
                     F.col(payload).alias(f"{payload}_b")]
    starred = (sized.filter(F.col("n_bucket") > max_bucket_size)
               .select(*star_cols)
               .filter(F.col("id_a") != F.col("id_b")))
    return self_join(small).unionByName(starred).distinct()


def minhash_candidates(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 16, bands: int = 4,
                       shingle_n: int = 3,
                       max_bucket_size: int | None = None) -> DataFrame:
    """L2 — LSH banding: split the signature into ``bands`` bands of
    r = num_hashes/bands rows; docs sharing any band-hash are candidate
    near-dup pairs. The candidate join is an equi self-join on
    (band_id, band_hash) — a standard shuffle join, NEVER an O(n²)
    cross — which is the whole point at 100 TB.

    ``max_bucket_size`` is the hot-bucket guard for duplicate-heavy
    corpora — see banded_pair_candidates, which implements the join
    and the star-link cap shared by every LSH family here."""
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    r = num_hashes // bands
    band_cols = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col(f"mh_{b * r + i}") for i in range(r)]).alias("bh"))
        for b in range(bands)
    ])
    banded = (sig.select(F.col(id_col), F.explode(band_cols).alias("band_key"))
                 .select(id_col, "band_key.band", "band_key.bh"))
    # spread=None: the band hash is 64-bit xxhash64 — fine-grained by
    # construction, so per-bucket pair counts are bounded by the true
    # clique size and no parallelism pin is needed; the id-pin's
    # extra exchange costs 1.8× here (10× guard stress, BASELINE.md).
    return banded_pair_candidates(banded, id_col, ["band", "bh"],
                                  max_bucket_size, spread=None)


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        shingle_n: int = 3, threshold: float = 0.8,
                        candidates: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity between doc pairs sharing ≥1
    shingle. With ``candidates`` (e.g. from minhash_candidates) the
    verification joins the candidate pairs back to the per-doc shingle
    sets and intersects them per pair (array_intersect — no re-join of
    the full shingle table). Without candidates, the shared-shingle
    equi-join bounds the pair space to actually-overlapping docs (still
    never a cross join). Returns (id_a, id_b, jaccard ≥ threshold).

    DESIGN POINT (pinned, r6 VERDICT item 5): the candidate-free form
    is the ORACLE COMPANION — exact, SQL-expressible, and the verifier
    behind every LSH family here — NOT the 100 TB path. A corpus-
    frequent shingle (stopword runs, boilerplate) makes the shared-
    shingle join quadratic in that shingle's document frequency, and
    low thresholds can't prune it. The production-scale paths are
    ngram_jaccard_pairs_prefix (identical output, prefix-filtered —
    use for threshold >= ~0.5) and minhash_candidates + this verifier
    (for lower thresholds). tests/test_plans_scale.py pins this
    designation."""
    if candidates is not None:
        # r16 OPTIMIZATION NOTE (measured, deliberately NOT taken):
        # restricting the verify-set derivation to candidate ids via a
        # semi-join (so the shingle map runs candidate-bounded instead
        # of corpus-wide on both join sides) measured SLOWER here at
        # sf0.1 in both variants tried — naive (keep-set recomputed
        # the candidate pipeline: 3.46→5.04 s steady) and with a lazy
        # localCheckpoint of the candidates frame (3.46→4.9 s
        # fresh-build; the materialization job + extra join plumbing
        # outweigh the ~1.4 s of shingle work saved on a 5k-doc
        # corpus). The narrow corpus-wide shingle map is simply cheap
        # relative to a checkpoint barrier at this shape. At a true
        # 100 TB corpus-to-candidate ratio the semi-join form wins;
        # revisit if the fixture corpus grows. Guide §1.1: measured
        # beats ideal.
        sets = df.select(F.col(id_col).alias("id"),
                         shingles(F.col(text_col), shingle_n).alias("sh"))
        a = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        return (candidates.join(a, "id_a").join(b, "id_b")
                .withColumn("jaccard",
                            inter.cast("double") / union.cast("double"))
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))
    sh = df.select(F.col(id_col).alias("id"),
                   F.explode(shingles(F.col(text_col), shingle_n)).alias("shingle"))
    # Per-doc set size is a narrow map over the docs (no shuffle) — the
    # shingle array is already distinct, so size(array) == |set|. Joining
    # this doc-sized table twice AFTER the pair aggregation beats carrying
    # the sizes through the heavy shared-shingle shuffle as grouping keys
    # (measured ~1.5x: the pair stream is orders of magnitude larger than
    # the doc table, and the sizes side broadcasts).
    sizes = df.select(F.col(id_col).alias("id"),
                      F.size(shingles(F.col(text_col), shingle_n)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.id") < F.col("b.id")))
              .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
              .agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("nb"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        F.col("inter").cast("double")
                        / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def ngram_jaccard_pairs_prefix(df: DataFrame, id_col: str, text_col: str,
                               shingle_n: int = 3,
                               threshold: float = 0.8) -> DataFrame:
    """Exact Jaccard >= threshold via prefix filtering (the PPJoin family,
    Xiao et al., WWW 2008 — public literature): order every doc's shingle
    set by a global canonical order (ascending document frequency, then
    shingle), and index only the first ``|d| - ceil(t*|d|) + 1`` shingles.
    Any pair with J >= t MUST collide inside these prefixes, so the
    candidate equi-join touches rare shingles only; a symmetric length
    filter (t*|a| <= |b| and t*|b| <= |a|) prunes further before the
    exact array_intersect verification. Results are IDENTICAL to
    ngram_jaccard_pairs — this is the high-threshold 100 TB path, where
    the naive shared-shingle join degenerates on stop-shingles.
    Returns (id_a, id_b, jaccard).

    Scale note: on a DUPLICATE-HEAVY corpus (N near-identical docs) the
    OUTPUT itself is the N²/2 qualifying pairs — quadratic by
    specification of exact pairwise similarity; no candidate filter can
    avoid emitting them. When the duplicate GROUPS, not the pairs, are
    the goal, use minhash_candidates(max_bucket_size=...) +
    connected_components: the star-link guard keeps dup-heavy corpora
    linear while preserving exactly the groups."""
    sh = df.select(F.col(id_col).alias("id"),
                   F.explode(shingles(F.col(text_col), shingle_n)).alias("shingle"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_cnt"))
    ordered = (sh.join(freq, "shingle")
                 .groupBy("id")
                 .agg(F.sort_array(F.collect_list(
                     F.struct("df_cnt", "shingle"))).alias("ord")))
    # r16 OPTIMIZATION NOTE (measured, then deliberately NOT taken):
    # `ordered` also holds every doc's full shingle set, so the exact
    # verification below COULD reuse it (checkpoint here, array-
    # project the sets) instead of re-deriving sets from the text via
    # ngram_jaccard_pairs(candidates=...). Measured at sf0.1 that
    # rewrite was 55-60% SLOWER across all four consumers
    # (dedup_ngram_prefix 2.18→3.42s, dedup_clusters 5.97→9.60s,
    # split_leakage_safe 5.22→8.34s, soft_dedup_weights 8.07→10.62s,
    # isolated-probe min-of-3): the text-derived sets are a NARROW
    # fused map (scan+shingle, no shuffle), while `ordered` sits
    # behind the doc-frequency join + collect_list exchange, so
    # reusing it trades two cheap columnar scans for materializing
    # and re-reading corpus-sized struct arrays — guide §1.1's
    # "ideal plan is usually slower at first" case, resolved
    # empirically in favor of the scans.
    n = F.size("ord")
    p = (n - F.ceil(F.lit(float(threshold)) * n.cast("double")).cast("int")
         + F.lit(1))
    pref = ordered.select(
        "id", n.alias("n"),
        F.posexplode(F.slice(F.transform("ord", lambda s: s["shingle"]),
                             F.lit(1), p)).alias("pos", "shingle"))
    # r17 OPTIMIZATION NOTE (measured, deliberately NOT taken): both
    # self-join sides reference `pref` and the physical plan shows the
    # doc-frequency join + collect_list subtree planned TWICE (the
    # collect_list aggregate appears twice, 12 source scans in one
    # plan), so a lazy localCheckpoint of `pref` looks like the §3.3
    # materialize-what-the-optimizer-won't-share move. Measured
    # same-session interleaved A/B at sf0.1 (min-of-4): checkpoint
    # 4.81 s / 10 jobs vs no-checkpoint 2.48 s / 8 jobs — the snapshot
    # barrier serializes the two sides' derivation (which otherwise
    # overlap across the suite's idle cores) and costs a
    # materialize+re-read of the full prefix table, losing ~2x. Same
    # verdict as the r16 verify-set/candidate-semi-join rewrites:
    # the duplicated subtree is two NARROW fused pipelines, cheaper
    # than one materialization at this shape. Revisit only with a
    # corpus where the collect_list exchange dominates end-to-end.
    a, b = pref.alias("a"), pref.alias("b")
    t = float(threshold)
    # POSITIONAL FILTER (r17 OPTIMIZATION; PPJoin's second filter, Xiao
    # et al. 2008 §3 — guide §2.3, fewer rows into the exchange): a
    # collision on the prefix shingle at 0-based positions (pa, pb)
    # bounds the pair's overlap by what REMAINS at or after it in the
    # global canonical order: O <= min(n_a - pa, n_b - pb). J >= t
    # requires O >= t/(1+t) * (n_a + n_b), so collisions whose bound
    # falls short are dropped BEFORE the distinct exchange and the
    # exact verification. Lossless: a qualifying pair's FIRST common
    # shingle (minimal in canonical order) sits inside both prefixes
    # (the standard prefix-filter guarantee) and every one of the O
    # common shingles orders at-or-after it in both sets, so THAT
    # collision row always satisfies the bound — the surviving
    # candidate set still contains every qualifying pair, and the
    # verification step is exact either way. The 1e-9 slack makes the
    # float comparison conservative (a rounding-up of t/(1+t)*(na+nb)
    # must never drop an O == bound collision); false keeps only cost
    # one extra verification. Measured at sf0.1 / t=0.5: candidate
    # pairs 309,803 -> 124,979 (2.5x), with the verified output
    # bit-identical.
    ub = F.least(F.col("a.n") - F.col("a.pos"),
                 F.col("b.n") - F.col("b.pos")).cast("double")
    need = (F.lit(t / (1.0 + t))
            * (F.col("a.n") + F.col("b.n")).cast("double") - F.lit(1e-9))
    cand = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.id") < F.col("b.id"))
                   & (F.col("b.n").cast("double") >= t * F.col("a.n"))
                   & (F.col("a.n").cast("double") >= t * F.col("b.n"))
                   & (ub >= need))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
             .distinct())
    return ngram_jaccard_pairs(df, id_col, text_col, shingle_n,
                               threshold, candidates=cand)


def editdist_pairs(df: DataFrame, id_col: str, text_col: str,
                   block_cols: list[str], max_dist: int,
                   length_band: bool = True) -> DataFrame:
    """Edit-distance near-dup pairs under key blocking, with a
    LENGTH-BAND sub-block that is output-identical to plain blocking:
    levenshtein(a, b) <= d implies abs(len(a) - len(b)) <= d, so with
    bands of width d+1 a qualifying pair's bands differ by at most 1 —
    the left side keeps its own band and the right side replicates to
    its band ± 1, turning each (block) join cell into (block, band)
    cells. A hot block of length-HETEROGENEOUS strings (the common
    case for product names, titles, addresses) splits across bands
    instead of going quadratic in one reducer; a hot block of
    same-length strings is irreducibly quadratic for EXACT edit
    distance — route such corpora to ngram_jaccard_pairs_prefix.

    The verify uses Spark's thresholded levenshtein (early-exits the
    DP once the running distance exceeds ``max_dist`` — O(d * min_len)
    instead of O(len_a * len_b) per pair). Returns
    (id_a, id_b, dist <= max_dist).

    ``block_cols=[]`` is rejected when ``length_band`` is also off:
    with no equi key at all the join degenerates to the corpus-wide
    nested-loop cross this function exists to avoid (length bands
    alone still give an equi key, so that combination is allowed)."""
    if not block_cols and not length_band:
        raise ValueError(
            "editdist_pairs with block_cols=[] and length_band=False has "
            "no equi join key — the plan would be an all-pairs cross "
            "join; pass at least one block column or leave length_band "
            "on")
    w = max_dist + 1
    a = df.select(F.col(id_col).alias("id_a"),
                  F.col(text_col).alias("txt_a"),
                  *[F.col(c).alias(f"blk_{c}") for c in block_cols])
    b = df.select(F.col(id_col).alias("id_b"),
                  F.col(text_col).alias("txt_b"),
                  *[F.col(c).alias(f"blk_{c}") for c in block_cols])
    if length_band:
        band_a = F.floor(F.length("txt_a") / w)
        band_b = F.floor(F.length("txt_b") / w)
        a = a.withColumn("band", band_a)
        b = (b.withColumn(
                "band",
                F.explode(F.array(band_b - 1, band_b, band_b + 1))))
    cond = [a[f"blk_{c}"] == b[f"blk_{c}"] for c in block_cols]
    if length_band:
        cond.append(a["band"] == b["band"])
    cond.append(a["id_a"] < b["id_b"])
    joined = a.join(b, cond)
    dist = F.levenshtein(F.col("txt_a"), F.col("txt_b"), max_dist)
    return (joined
            .select("id_a", "id_b", dist.alias("dist"))
            .filter(F.col("dist") >= 0)  # thresholded form returns -1 above
            .select("id_a", "id_b", F.col("dist").cast("int").alias("dist")))


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash: per token take xxhash64, then per bit position sum
    +1/-1 across token occurrences; the sign of each sum is that bit of
    the fingerprint. A per-document value, so computed as a NARROW MAP —
    no explode, no shuffle: hash the token array once per row, then per
    bit count set occurrences with a higher-order filter (bit set iff
    2*count_set > n_tokens)."""
    hashes = F.transform(F.split(F.lower(F.col(text_col)), " "),
                         lambda t: F.xxhash64(t))
    n = F.size(hashes)

    def bit_set(mask):  # single-arg lambda factory (see minhash note)
        return lambda h: h.bitwiseAND(mask) != 0

    fp = None
    for i in range(64):
        mask = F.shiftleft(F.lit(1).cast("long"), i)
        cnt = F.size(F.filter(hashes, bit_set(mask)))
        bit = F.when(cnt * 2 > n, mask).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return df.select(F.col(id_col), fp.alias("simhash"))


#: Executor-persistent token-hash memo for simhash64_arrow. Natural-language
#: corpora reuse a small vocabulary, so across Arrow batches nearly every
#: token is a cache hit and blake2b runs ~once per DISTINCT token per
#: executor, not once per occurrence. Bounded (cleared at _TOKEN_CACHE_MAX)
#: so a pathological high-cardinality corpus can't grow it without limit.
_TOKEN_HASH_CACHE: dict = {}
_TOKEN_CACHE_MAX = 4_000_000


def simhash64_arrow(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SimHash-64 as an Arrow-batched pandas UDF: token hashes via
    blake2b-8 (deterministic across runs/machines — no PYTHONHASHSEED
    dependence), memoized per distinct token, with the per-bit tally done
    as ONE numpy unpackbits + reduceat pass over the whole Arrow batch
    (segment boundaries = document token offsets) instead of a Python
    loop per document. Same narrow-map plan shape as simhash64; the
    round-1 per-document variant was Python-CPU-bound (~6.7 s at sf0.1),
    this batch form cuts the Python work to cache-miss hashing only. The
    fingerprint DEFINITION is unchanged from round 1 (same token hash)
    but differs from simhash64 (different token hash) — both are valid
    SimHashes; pick one per corpus."""
    import hashlib

    import numpy as np

    @F.pandas_udf("long")
    def fp(texts: pd.Series) -> pd.Series:
        if len(texts) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        tok_lists = [(t or "").lower().split(" ") for t in texts]
        lens = np.fromiter((len(tl) for tl in tok_lists), dtype=np.int64,
                           count=len(tok_lists))  # >= 1: split() -> [""]
        cache = _TOKEN_HASH_CACHE
        if len(cache) > _TOKEN_CACHE_MAX:
            cache.clear()
        flat = [tok for tl in tok_lists for tok in tl]
        for tok in flat:
            if tok not in cache:
                cache[tok] = int.from_bytes(
                    hashlib.blake2b(tok.encode(),
                                    digest_size=8).digest(), "little")
        hs = np.fromiter((cache[tok] for tok in flat), dtype=np.uint64,
                         count=len(flat))
        # Per-document bit tally: unpackbits on the little-endian byte
        # view gives a (tokens, 64) 1-byte/bit matrix; reduceat with an
        # int64 accumulator sums each document's segment in C. Chunked
        # to ~32k tokens so the temporaries stay ~2 MB and get REUSED by
        # the allocator — one huge batch-wide matrix would be re-mmapped
        # per call, and first-touch page faults dominate (measured 4.6 s
        # vs 0.3 s for the identical work on this kernel).
        offsets = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        shifts = np.arange(64, dtype=np.uint64)
        out = np.empty(len(texts), dtype=np.int64)
        token_budget = 32768
        lo = 0
        while lo < len(lens):
            hi = int(np.searchsorted(offsets, offsets[lo] + token_budget,
                                     side="right"))
            hi = max(hi, lo + 1)
            seg = hs[offsets[lo]:offsets[hi - 1] + lens[hi - 1]]
            bits = np.unpackbits(seg.view(np.uint8),
                                 bitorder="little").reshape(-1, 64)
            cnt = np.add.reduceat(bits, offsets[lo:hi] - offsets[lo],
                                  axis=0, dtype=np.int64)
            fp64 = (((cnt * 2 > lens[lo:hi, None]).astype(np.uint64)
                     << shifts).sum(axis=1, dtype=np.uint64))
            out[lo:hi] = fp64.view(np.int64)
            lo = hi
        return pd.Series(out)

    return df.select(F.col(id_col), fp(text_col).alias("simhash"))


def simhash_candidates(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3, use_arrow: bool = True,
                       max_bucket_size: int | None = None) -> DataFrame:
    """SimHash candidate pairs BEFORE the hamming verify: band the
    64-bit fingerprint into ``max_hamming + 1`` chunks (pigeonhole:
    with h differing bits and h+1 chunks, at least one chunk is equal
    on both sides), then the shared banded equi self-join with the
    optional hot-bucket star-link guard (banded_pair_candidates — the
    guard preserves candidate-graph CONNECTIVITY, property-tested).
    The chunk count is DERIVED from max_hamming so recall is complete
    at any threshold — a fixed 4-chunk split is only complete for
    hamming <= 3. Returns (id_a, id_b, simhash_a, simhash_b) so the
    verifier needs no re-join of the fingerprint table."""
    mk = simhash64_arrow if use_arrow else simhash64
    fps = mk(df, id_col, text_col)
    n_chunks = max_hamming + 1
    if not 1 <= max_hamming < 64:
        raise ValueError("max_hamming must be in [1, 63] for 64-bit simhash")
    width = 64 // n_chunks
    bounds = [c * width for c in range(n_chunks)] + [64]

    def _ck(lo: int, hi: int):
        # Bits [lo, hi) of the fingerprint. hi - lo < 64 always holds
        # here (n_chunks >= 2), so the mask fits a signed long.
        return (F.shiftright("simhash", lo)
                 .bitwiseAND(F.lit((1 << (hi - lo)) - 1).cast("long")))

    chunk = F.array(*[
        F.struct(F.lit(c).alias("chunk"),
                 _ck(bounds[c], bounds[c + 1]).alias("ck"))
        for c in range(n_chunks)
    ])
    banded = fps.select(id_col, "simhash", F.explode(chunk).alias("b")).select(
        id_col, "simhash", "b.chunk", "b.ck")
    return banded_pair_candidates(banded, id_col, ["chunk", "ck"],
                                  max_bucket_size, payload="simhash")


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3,
                       use_arrow: bool = True,
                       max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash: simhash_candidates (pigeonhole chunk
    banding, optional hot-bucket guard) verified edge-by-edge with
    bit_count(xor) <= max_hamming. Bucketed join keeps the pair space
    linear-ish at scale; with ``max_bucket_size`` set, an oversized
    chunk bucket (template-heavy corpus) is star-linked instead of
    exploded quadratically — star edges go through the SAME hamming
    verify, so the output contract (every emitted pair is within
    max_hamming) holds unconditionally; what is traded is pair-level
    recall inside capped buckets, exactly as in minhash_candidates.

    POST-VERIFY caveat (r7 ADVICE): connectivity preservation is a
    property of the CANDIDATE graph (that is what the per-family
    property tests pin). Because star edges all route through the
    bucket's min-id hub, a capped bucket whose hub FAILS the hamming
    verify against members that are mutually within max_hamming loses
    those members' connection entirely — the verified-output cluster
    can SPLIT there, not merely lose redundant edges. Chunk-banding
    makes this rare (every member of a chunk bucket already agrees
    with the hub on a full fingerprint chunk), but it is possible; at
    a cluster-split-intolerant call site, raise max_bucket_size or
    verify hub candidates before capping."""
    cand = simhash_candidates(df, id_col, text_col, max_hamming,
                              use_arrow, max_bucket_size)
    # No trailing distinct: the candidates are DISTINCT by contract
    # (banded_pair_candidates) and hamming is a function of the carried
    # fingerprints, so a second dedup would only re-shuffle the pair
    # set for nothing at scale.
    return (cand
            .select("id_a", "id_b",
                    F.bit_count(F.col("simhash_a")
                                .bitwiseXOR(F.col("simhash_b")))
                     .alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def embedding_near_pairs(emb: DataFrame, id_col: str, vec_col: str,
                         threshold: float = 0.95,
                         block_col: str | None = None,
                         round_digits: int = 4) -> DataFrame:
    """Embedding-cosine near-dup pairs via an expression-level pair join.
    Oracle-identical float semantics (sequential fold dot product), but
    O(pairs * dim) inside codegen — prefer embedding_near_pairs_grid for
    bulk work. Pass ``block_col`` (e.g. an LSH bucket from
    similarity.hyperplane_bucket) to turn the cross into a blocked
    equi-join at production scale."""
    from ..functions.vectors import dot, norm
    # Per-row norm hoisted out of the pair expression (bit-identical to
    # vectors.cosine — same norm formula, evaluated once per ROW in an
    # earlier Project instead of twice per PAIR): cuts the per-pair
    # work from three O(dim) array folds to the dot alone.
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
            norm(F.col(vec_col)).alias("n")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    x = emb.select(*cols)
    a, b = x.alias("a"), x.alias("b")
    cond = [F.col("a.id") < F.col("b.id")]
    if block_col:
        cond.append(F.col("a.blk") == F.col("b.blk"))
    # Round BEFORE thresholding: makes the pair set stable under float
    # accumulation-order differences (and oracle-comparable).
    return (a.join(b, cond)
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     F.round(dot(F.col("a.v"), F.col("b.v"))
                             / (F.col("a.n") * F.col("b.n")),
                             round_digits).alias("cos"))
             .filter(F.col("cos") >= threshold))


def hyperplane_lsh_candidates(emb: DataFrame, id_col: str, vec_col: str,
                              n_bands: int = 8, n_planes: int = 6,
                              dim: int = 64,
                              max_bucket_size: int | None = None
                              ) -> DataFrame:
    """Candidate pairs for banded random-hyperplane LSH, BEFORE the
    exact-cosine verify: one Arrow-batched GEMM computes all
    n_bands x n_planes projections per batch (hyperplane_band_buckets),
    then the shared banded equi self-join on (band, bucket) with the
    optional hot-bucket star-link guard (banded_pair_candidates).
    Returns DISTINCT (id_a, id_b) with id_a < id_b."""
    from .similarity import hyperplane_band_buckets

    buckets = hyperplane_band_buckets(n_bands, n_planes, dim=dim)
    banded = (emb.select(F.col(id_col),
                         F.posexplode(buckets(F.col(vec_col)))
                          .alias("band", "bkt")))
    return banded_pair_candidates(banded, id_col, ["band", "bkt"],
                                  max_bucket_size)


def embedding_lsh_pairs(emb: DataFrame, id_col: str, vec_col: str,
                        threshold: float = 0.4, n_bands: int = 8,
                        n_planes: int = 6, dim: int = 64,
                        round_digits: int = 4,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Embedding near-dup pairs via BANDED random-hyperplane LSH —
    the same OR-amplification shape as minhash_candidates: each band is
    an independent ``n_planes``-plane bucket id, docs sharing ANY
    band's bucket become candidates (equi self-join on (band, bucket) —
    never a cross), then candidates are verified against the exact
    rounded cosine so the output has NO false positives; only recall is
    approximate.

    All n_bands*n_planes projections are computed in ONE Arrow-batched
    GEMM per batch (hyperplane_band_buckets — same deterministic
    cos-pattern weights as the expression-level hyperplane_bucket), so
    the bucket step costs one BLAS call per batch instead of ~6k
    sequential expression ops per row. The exact-cosine verify is
    likewise an Arrow-batched numpy kernel (vectors.cosine_blocks'
    stacking, normalization and rounding around a row-wise dot, the
    same kernel as embedding_near_pairs_grid, rounded BEFORE
    thresholding) — on a clustered corpus the candidate set is a large
    fraction of all pairs, and interpreted higher-order-function
    cosines over it dominate the whole query.

    Tuning is the standard LSH dial: more planes per band -> smaller
    buckets (candidate space ~ n_bands * N^2 / 2^n_planes per uniform
    corpus) but lower per-band hit rate; more bands -> higher recall at
    linear candidate cost. A pair at angle theta survives a band with
    p = (1 - theta/pi)^n_planes and is recalled with
    1 - (1-p)^n_bands. The bucket computation is a narrow map; the
    shuffles are the band equi-join, the candidate distinct, the two
    vector-attach joins, and one verify-balancing repartition.

    ``max_bucket_size`` is the hot-bucket star-link guard
    (banded_pair_candidates); star edges go through the SAME exact
    verify, so precision stays 1.0 — only pair recall inside capped
    buckets is traded, and CANDIDATE-graph connectivity is preserved
    (property-tested). POST-VERIFY caveat (r7 ADVICE): if a capped
    bucket's min-id hub fails the cosine verify against members that
    are mutually above threshold, those members lose their connection
    entirely — verified-output clusters can SPLIT, not just shed
    redundant edges (LSH buckets admit hash-collision members whose
    true cosine is below threshold, so a below-threshold hub is
    possible). At a split-intolerant call site, raise max_bucket_size
    or verify hub candidates before capping."""
    import numpy as np
    from pyspark.sql import types as T

    from ..functions.vectors import _round_half_up, _stack, _unit_rows

    cand = hyperplane_lsh_candidates(emb, id_col, vec_col, n_bands,
                                     n_planes, dim, max_bucket_size)
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # Verify-stage balance (r6 VERDICT item 4): after the second
    # vector-attach join the stream is partitioned by id_b, so a hub
    # document appearing in many candidate pairs hands ONE partition a
    # disproportionate Arrow verify batch on a dense corpus.
    # Repartitioning on the (id_a, id_b) PAIR — unique after the
    # distinct — spreads the verify uniformly regardless of per-id
    # skew, at the cost of one shuffle of the paired stream.
    paired = (cand
              .join(v.withColumnRenamed("id", "id_a")
                     .withColumnRenamed("v", "va"), "id_a")
              .join(v.withColumnRenamed("id", "id_b")
                     .withColumnRenamed("v", "vb"), "id_b")
              .repartition(F.col("id_a"), F.col("id_b")))

    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])

    def verify(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            # Row-wise form of vectors.cosine_blocks: the same stacking,
            # normalization and rounding as embedding_near_pairs_grid,
            # the exact kernel this output must be a subset of.
            cos = _round_half_up(
                np.einsum("ij,ij->i", _unit_rows(_stack(pdf["va"])),
                          _unit_rows(_stack(pdf["vb"]))), round_digits)
            keep = cos >= threshold
            yield pd.DataFrame({
                "id_a": pdf["id_a"].to_numpy()[keep].astype("int64"),
                "id_b": pdf["id_b"].to_numpy()[keep].astype("int64"),
                "cos": cos[keep],
            })

    return paired.mapInPandas(verify, out_schema)


_LAST_CC_ROUNDS: int | None = None
"""Diagnostic: rounds the last connected_components call used to
converge (set on success; None before the first call). A measurement
hook for the rounds-vs-diameter record in BASELINE.md and the
convergence tests — not part of the operator contract."""


_CC_LOCAL_EDGES_DEFAULT = 1_000_000
"""Default edge-count bound for the single-task union-find fast path
(see connected_components). Overridable per call (``local_edges``);
0 disables."""


def connected_components(edges: DataFrame, src: str, dst: str,
                         max_iterations: int = 30,
                         algorithm: str = "pointer_jump",
                         jumps: int = 1,
                         local_edges: int | None = None) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation: every node starts labeled with
    min(own id, min neighbor id) — a free one-hop head start, since
    enumerating the nodes costs the same aggregation; each round a
    node takes the min of its label and its neighbors' labels;
    converged when no label changes. Returns (node, component)
    with component = min node id in the component.

    ``algorithm`` selects the round structure (r7 VERDICT item 5):

    - ``"pointer_jump"`` (default): the hop + pointer-jump loop below —
      O(log d) rounds (measured: ceil(log2 d) + ~2 on worst-case chain
      graphs, BASELINE.md), each round one edge-join shuffle plus one
      |nodes|-sized label self-join. ``max_iterations=30`` therefore
      covers diameter ~2^27 — beyond any dedup pair graph — and
      non-convergence raises rather than returning wrong labels.
    - ``"star"``: alternating large-star/small-star edge contraction
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC 2014 — public algorithm): large-star hangs every
      larger-than-self neighbor under the neighborhood minimum,
      small-star re-parents the smaller neighbors; the edge set
      converges to one star per component whose center is the
      component minimum. Rounds shrink the EDGE LIST itself (not a
      label table), so a pathological long-diameter graph that
      exhausts the pointer-jump budget can be rerun on this variant;
      its per-round windows partition by node id, so a hub's
      neighborhood lands in one partition for one round and is then
      flattened — the hub-shrinking behavior is the algorithm's point.
      Measured trade (BASELINE.md round-9 stress): on bushy LSH pair
      graphs star converges in fewer rounds (1 vs 2 at the 10× corpus,
      25% faster end-to-end, identical labels); on worst-case chains
      it pays 1.4–1.8× wall at identical log2(d) round counts (the
      full edge rewrite + convergence aggregates cost more per round
      than one join + checksum).

    This is the clustering step a dedup pipeline needs AFTER pair
    detection: near-dup PAIRS (minhash/simhash/Jaccard) form a graph
    whose components are the duplicate groups, from which one canonical
    document per group survives. (The reference has no analog — its
    dedup surface is implicit in the (name, platform, createdate)
    snapshot key, SURVEY.md §1.1.)

    Scale: each round is ONE job — a message-passing shuffle join
    (edges ⋈ labels on the neighbor key) unioned with the nodes' own
    labels into a single partial-agg min, then a POINTER-JUMPING
    shortcut (label <- label's label: a self-join of the label table,
    which is |nodes| rows — far smaller than the edge join) so label
    paths halve every round and convergence takes O(log d) rounds
    instead of d (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014 — same round bound as large-star/small-star
    with a simpler per-round shape; r4 verdict flagged diameter-bound
    rounds as the 100 TB risk). ``jumps`` applies the shortcut that
    many times per round — on LABEL-CHAIN-bound graphs (long paths
    with monotone ids) paths shrink 2^jumps x per round, so rounds
    fall to ~log_{2^jumps}(d): measured 8 -> 5 -> 4 rounds on the
    256-chain for jumps 1/2/3. The default stays 1 because real dedup
    pair graphs are HOP-bound, not chain-bound (r16 OPTIMIZATION,
    measured + simulated on the sf0.1 embedding pair graph: 10 rounds
    regardless of jumps — labels point at nearby LOCAL minima whose
    own labels are self-referential until the true minimum arrives
    hop by hop, so extra jumps buy nothing and each costs a
    |nodes|-row self-join per round). For a long-diameter graph,
    prefer ``algorithm="star"`` first; raise ``jumps`` only when
    measurement shows label chains are the binding constraint. The jump preserves correctness: a
    node's label is always the id of a node in the SAME component
    (edges never cross components, initial labels are own ids), so
    label(label(n)) is too, and min-labels only decrease. A converged
    (hop+jump)-round implies a converged hop-round, whose fixed point
    is label constancy on every edge = exact components. Each round
    ends in a LAZY localCheckpoint and one combined (sum, count)
    action that both materializes it and detects convergence: labels
    only ever decrease, so an unchanged exact sum over a constant node
    set ⇔ no label changed. The sum runs in DECIMAL(38,0) so it cannot
    overflow at any node-count x id-magnitude.
    """
    global _LAST_CC_ROUNDS
    if algorithm not in ("pointer_jump", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}: expected "
                         f"'pointer_jump' or 'star'")
    if jumps < 1:
        raise ValueError("jumps must be >= 1")
    # Materialize the DIRECTED edge list BEFORE symmetrizing: without
    # it, the union's two branches both reference the upstream pair
    # pipeline (minhash + verify, or the GEMM grid) — the most
    # expensive subtree in every registered CC query — and computing
    # it once is left to exchange reuse, which AQE is free to decline.
    # Checkpointing |E| rows first makes single-computation a
    # GUARANTEE (measured neutral locally where reuse already fired;
    # the guarantee is what matters on a 100 TB pair plan).
    directed = edges.select(F.col(src).cast("long").alias("a"),
                            F.col(dst).cast("long").alias("b"))
    directed = directed.localCheckpoint()
    # SMALL-GRAPH FAST PATH (r17 OPTIMIZATION, guide §1.2 step 1 /
    # §2.4): every distributed round below is a full shuffle + stage
    # barrier over the cluster, and on the pair graphs the registered
    # dedup queries actually produce (hundreds to thousands of edges
    # after verification — the corpus is near-dup-sparse by
    # construction of the thresholds) the loop is pure scheduling
    # overhead: measured at sf0.1, the 256-edge ngram pair graph paid
    # ~2 s / ~8 jobs for 2 pointer rounds plus checkpoints. When the
    # VERIFIED edge list (already materialized above — the count is a
    # metadata-cheap job over the checkpointed RDD, never a plan
    # re-execution) fits one task, an exact single-task union-find in
    # the Arrow lane replaces the loop: same (node, component =
    # min id) table BY CONSTRUCTION (union-by-min-root keeps every
    # root the minimum of its set — see _local_components), zero
    # shuffles, one job. The bound is data-derived (edge count), not
    # core-count-derived, so it behaves identically at any
    # parallelism; at 100 TB a pair graph past the bound takes the
    # distributed loop unchanged. ~1M edges is ~1-2 s and ~100 MB in
    # one Python worker — far under one distributed round's barrier
    # cost at that scale. ``local_edges=0`` disables; tests that pin
    # distributed round counts use that.
    limit = _CC_LOCAL_EDGES_DEFAULT if local_edges is None else local_edges
    if limit and directed.count() <= limit:
        _LAST_CC_ROUNDS = 0
        return _local_components(directed)
    if algorithm == "star":
        return _star_components(directed, max_iterations)
    sym = directed.union(directed.select(F.col("b").alias("a"),
                                         F.col("a").alias("b"))).distinct()
    sym = sym.localCheckpoint()  # reused every round — cut the upstream plan
    # One-hop head start for FREE: the node list needs a groupBy("a")
    # anyway (sym is symmetric, so every node appears as "a"), and
    # aggregating min(neighbor) in the same pass starts every label at
    # min(node, min neighbor) — one full propagation round ahead of
    # the identity init at identical shuffle cost. Correctness is the
    # same monotonic argument: the init label is the min over a set of
    # same-component node ids, so it never crosses components and
    # never undershoots the component minimum.
    labels = (sym.groupBy("a")
              .agg(F.min("b").alias("min_nb"))
              .select(F.col("a").alias("node"),
                      F.least("a", "min_nb").alias("component")))
    prev_sum, converged = None, False
    for round_i in range(max_iterations):
        msgs = (sym.join(labels, sym["b"] == labels["node"])
                .select(sym["a"].alias("node"), "component"))
        hopped = (labels.unionByName(msgs)
                  .groupBy("node")
                  .agg(F.min("component").alias("component")))
        # pointer jump: component <- label(component). Every component
        # value is a node id present in `hopped` (labels are node ids
        # from the same closed node set), so the left join misses only
        # when component == node already (self-label) — coalesce keeps
        # it. least() guards the (impossible by monotonicity, cheap to
        # pin) case of a jump ever increasing a label. Applied ``jumps``
        # times per round (r16 optimization): each application composes
        # the label table with itself, so label paths shrink by
        # 2^jumps per round and convergence takes ~log_{2^jumps}(d)
        # EDGE-JOIN rounds instead of log2(d) — each extra jump is one
        # |nodes|-row self-join, far cheaper than the |edges|-row hop
        # shuffle (and, locally, than a full round's job barrage) it
        # replaces. Correctness is round-count-independent: every jump
        # preserves "label = id of a node in the same component" and
        # labels only decrease, so the fixed point (and the sum-based
        # convergence test below) is the same for any jumps >= 1.
        new_labels = hopped
        for _ in range(jumps):
            jmp = new_labels.select(F.col("node").alias("jnode"),
                                    F.col("component").alias("jcomp"))
            new_labels = (new_labels.join(
                              jmp,
                              new_labels["component"] == jmp["jnode"],
                              "left")
                          .select(new_labels["node"],
                                  F.least(
                                      new_labels["component"],
                                      F.coalesce(jmp["jcomp"],
                                                 new_labels["component"]))
                                   .alias("component")))
        new_labels = new_labels.localCheckpoint(eager=False)
        cur = tuple(new_labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")),
            F.count(F.lit(1))).collect()[0])
        labels = new_labels
        if cur == prev_sum:
            converged = True
            break
        prev_sum = cur
    if not converged:
        # Unconverged labels are WRONG (a long-diameter chain merges
        # components only one hop per round); silent truncation would
        # yield incorrect duplicate clusters at scale with no signal.
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{max_iterations} iterations; raise max_iterations or "
            f"rerun with algorithm='star' (large-star/small-star) for "
            f"long-diameter graphs")
    _LAST_CC_ROUNDS = round_i + 1
    return labels


def _local_components(directed: DataFrame) -> DataFrame:
    """Exact connected components of a SMALL edge list as one
    union-find task (see connected_components' fast-path note). The
    checkpointed (a, b) long frame is coalesced to one partition and
    streamed through mapInPandas — the engine's Arrow lane, no driver
    collect; the union-find is index-compressed numpy-backed with
    path-halving.

    Union-by-min-root makes the final root the component MINIMUM: by
    induction every root is <= all members of its set (true at init
    where each node is its own root; a union re-roots both sets at
    min(root_a, root_b), which is <= every member of either), and the
    component minimum is a member, so root == min — exactly the
    pointer-jump/star label contract, independent of edge order.
    Self-loops and duplicate edges are no-ops by construction."""
    import numpy as np

    def uf(batches):
        import pandas as pd
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            yield pd.DataFrame({"node": pd.Series([], dtype="int64"),
                                "component": pd.Series([], dtype="int64")})
            return
        a = np.concatenate([p["a"].to_numpy() for p in parts])
        b = np.concatenate([p["b"].to_numpy() for p in parts])
        # Compact ids to 0..n-1; np.unique sorts, so index order IS id
        # order and union-by-min-index == union-by-min-id.
        nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        ai, bi = inv[:len(a)], inv[len(a):]
        parent = list(range(len(nodes)))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for x, y in zip(ai.tolist(), bi.tolist()):
            rx, ry = find(x), find(y)
            if rx != ry:
                if rx < ry:
                    parent[ry] = rx
                else:
                    parent[rx] = ry
        comp = nodes[np.fromiter((find(i) for i in range(len(nodes))),
                                 dtype="int64", count=len(nodes))]
        yield pd.DataFrame({"node": nodes, "component": comp})

    return directed.coalesce(1).mapInPandas(uf, "node long, component long")


def _star_components(directed: DataFrame, max_iterations: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    SoCC 2014) over a checkpointed directed edge list with long-typed
    columns (a, b). See connected_components(algorithm="star").

    Each round rewrites the EDGE SET:

    - large-star, per node u over its full (symmetrized) neighborhood:
      m = min({u} ∪ Γ(u)); emit (v, m) for every neighbor v > u. The
      output is canonically oriented (v > u ≥ m, and v == m is
      impossible), so every edge is (child, parent) with child > parent.
    - small-star, per node u over its SMALLER neighbors (exactly the
      b-side of the oriented edges): m = min Γ⁻(u); emit (u, m) and
      (v, m) for every smaller neighbor v != m.

    Both operations preserve the graph's connected components; the
    fixed point is a union of stars, one per component, centered at
    the component minimum — which gives an EXACT convergence test with
    no label checksum: the edge set is converged iff no parent ever
    appears as a child AND no child carries two distinct parents
    (a few tiny aggregates per round, checked on the per-round
    localCheckpoint that also cuts the growing lineage). Both
    conjuncts are required: small_star's reparent branch emits
    (b, m_a) from EVERY partition a where b is a non-minimal smaller
    neighbor, so one child can end the round with two different
    parents; if both parents are roots, "no parent is a child" alone
    would stop early with the component split in two (and the child
    emitted twice, violating the one-row-per-node contract). The next
    large-star round sees the multi-parent child's full neighborhood
    and merges the roots, so requiring single-parenthood is exactly
    the missing fixed-point condition.
    Returns the same (node, component) contract as the pointer-jump
    form, including self-labeled star centers and nodes whose only
    edge was a self-loop (reattached from the original node set)."""
    from pyspark.sql import Window

    wa = Window.partitionBy("a")

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("b").alias("a"),
                               F.col("a").alias("b")))
        m = F.least(F.col("a"), F.min("b").over(wa))
        return (sym.withColumn("m", m)
                .filter(F.col("b") > F.col("a"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .distinct())

    def small_star(e: DataFrame) -> DataFrame:
        withm = e.withColumn("m", F.min("b").over(wa))
        reparent = (withm.filter(F.col("b") != F.col("m"))
                    .select(F.col("b").alias("a"), F.col("m").alias("b")))
        own = withm.select("a", F.col("m").alias("b"))
        return reparent.union(own).distinct()

    edges = directed.filter(F.col("a") != F.col("b"))
    converged = False
    for round_i in range(max_iterations):
        edges = small_star(large_star(edges)).localCheckpoint()
        # Exact star test: converged iff no parent is also a child AND
        # every child has exactly one distinct parent (see docstring —
        # the first conjunct alone stops early on two-lobe graphs where
        # a shared child holds edges to two root parents).
        parent_is_child = (edges.select("b").join(
            edges.select(F.col("a").alias("b")), "b", "left_semi")
            .limit(1).count())
        if parent_is_child == 0:
            multi_parent = (edges.groupBy("a")
                            .agg(F.count_distinct("b").alias("np"))
                            .filter(F.col("np") > 1).limit(1).count())
            if multi_parent == 0:
                converged = True
                break
    if not converged:
        raise RuntimeError(
            f"connected_components(algorithm='star') did not converge "
            f"within {max_iterations} iterations; raise max_iterations")
    global _LAST_CC_ROUNDS
    _LAST_CC_ROUNDS = round_i + 1
    # Reattach every node from the ORIGINAL edge list: star centers
    # appear only as parents, and self-loop-only nodes carry no edge
    # through the contraction at all — both self-label.
    nodes = (directed.select(F.col("a").alias("node"))
             .union(directed.select(F.col("b").alias("node"))).distinct())
    mapping = edges.select(F.col("a").alias("node"),
                           F.col("b").alias("mapped"))
    return (nodes.join(mapping, "node", "left")
            .select("node", F.coalesce("mapped", "node").alias("component")))


def embedding_near_pairs_grid(emb: DataFrame, id_col: str, vec_col: str,
                              threshold: float = 0.95, n_blocks: int = 4,
                              round_digits: int = 4) -> DataFrame:
    """Embedding-cosine near-pairs as a DISTRIBUTED block-grid GEMM —
    the numpy-kernel form of embedding_near_pairs, with no driver-side
    collect and no corpus broadcast. The corpus is hashed into
    ``n_blocks`` blocks; every unordered block pair (ba <= bb) becomes
    one cogroup task whose two pandas frames are the two blocks, scored
    with vectors.cosine_blocks. Each row is shuffled to ~n_blocks grid
    cells, so shuffle volume is O(N * n_blocks) — size n_blocks so one
    block (N/n_blocks rows x dim floats) fits executor memory; the pair
    space never materializes outside a task, and inside one it is
    bounded to vectors.COSINE_BLOCK_ROWS left rows at a time. Output
    does not depend on ``n_blocks`` (same kernel, same rounding,
    id_a < id_b; test-pinned).
    """
    import numpy as np
    from pyspark.sql import types as T

    from ..functions import vectors

    spark = emb.sparkSession
    grid = spark.createDataFrame(
        [(a, b) for a in range(n_blocks) for b in range(a, n_blocks)],
        "ba int, bb int")
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    left = (emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .withColumn("ba", blk).join(F.broadcast(grid), "ba"))
    right = (emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
             .withColumn("bb", blk).join(F.broadcast(grid), "bb"))

    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])

    block = vectors.COSINE_BLOCK_ROWS

    def score(key, lpdf, rpdf):
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        ids_l = lpdf["id"].to_numpy()
        ids_r = rpdf["id"].to_numpy()
        frames = []
        for lo, sim in vectors.cosine_blocks(lpdf["v"], rpdf["v"],
                                             round_digits, block):
            ia, ib = np.nonzero(sim >= threshold)
            la, rb = ids_l[lo + ia], ids_r[ib]
            if key[0] == key[1]:
                # diagonal cell: both frames are the same block — keeping
                # id_a < id_b drops self-pairs and each pair's mirror dup
                keep = la < rb
                la, rb, sims = la[keep], rb[keep], sim[ia[keep], ib[keep]]
            else:
                # off-diagonal: blocks are disjoint, every pair appears in
                # exactly this one cell — orient it, never drop it
                la, rb, sims = (np.minimum(la, rb), np.maximum(la, rb),
                                sim[ia, ib])
            frames.append(pd.DataFrame({
                "id_a": la.astype("int64"),
                "id_b": rb.astype("int64"),
                "cos": sims,
            }))
        return pd.concat(frames)

    return (left.groupby("ba", "bb")
            .cogroup(right.groupby("ba", "bb"))
            .applyInPandas(score, out_schema))
