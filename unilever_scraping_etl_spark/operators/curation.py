"""Training-corpus curation operators from the published LLM-data
literature (SURVEY.md §2.10 L4 extension): DSIR importance resampling,
CCNet-style LM-perplexity bucketing, and SemDeDup cluster-bounded
semantic dedup.

The reference repo (SCRAPER:231-277) stops at field extraction; these
operators are the selection stage a 100 TB corpus pipeline runs AFTER
extraction and dedup, each re-expressed as pure JVM-side DataFrame
compositions (no Python row path anywhere):

- ``dsir_hashed_ngram_weights`` / ``gumbel_topk`` — Xie et al., "Data
  Selection for Language Models via Importance Resampling" (NeurIPS
  2023): hashed uni+bigram bag-of-words distributions for a small
  target corpus p and the raw pool q, per-document importance
  log-weight sum(log p_b/q_b), then Gumbel-top-k resampling.
- ``bigram_lm_bits`` / ``tercile_buckets`` — Wenzek et al., "CCNet:
  Extracting High Quality Monolingual Datasets from Web Crawl Data"
  (LREC 2020): score every document with a language model trained on
  a clean reference subset, then split each language into
  head/middle/tail perplexity terciles. The LM here is an add-alpha
  bigram model (the house's oracle-exact stand-in for CCNet's
  KenLM 5-gram — same dataflow: train counts, broadcast the model,
  one scoring scan, tercile cut).
- ``semdedup`` — Abbas et al., "SemDeDup: Data-efficient learning at
  web-scale through semantic deduplication" (2023): cluster the
  embedding space, compare pairs ONLY within a cluster, and remove
  every member of a duplicate pair except the one farthest from the
  cluster centroid.

Determinism contract (the driver hash-compares against DuckDB):
every pseudo-random draw is the house md5 hash-uniform of a stable
id (``split_train_test`` / ``weighted_sample`` discipline — no
rand()), float aggregates are rounded after summation, and rankings
order by rounded keys with id tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors
from ._contracts import require_free_columns

_DSIR_RESERVED = ("__t", "__tgt", "__term", "__b", "__ct", "__cr", "__lr")


def _hash_bucket(term: Column, n_buckets: int) -> Column:
    """md5-based hashed-feature bucket in [0, n_buckets): the first 8
    hex digits of md5 as a 32-bit integer, mod the bucket count — the
    same engine-portable hash the md5 split/sample family uses (NOT
    Spark's xxhash64, which DuckDB cannot reproduce)."""
    return (F.conv(F.substring(F.md5(term), 1, 8), 16, 10)
             .cast("bigint") % F.lit(n_buckets))


def _hash_uniform(id_col: str) -> Column:
    """Hash-uniform u in (0, 1] from a stable unique id — md5 first 8
    hex digits over 2^32, exact in any engine (power-of-two divisor).
    One definition shared by the Gumbel resampler here and (by
    formula) sampling._ares_key."""
    return ((F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
                    16, 10).cast("bigint") + 1) / F.lit(4294967296.0))


def _terms(docs: DataFrame, id_col: str, text_col: str,
           carry: list[str]) -> DataFrame:
    """Whitespace uni+bigram term stream: one row per term occurrence,
    carrying ``carry`` columns. Bigrams join adjacent tokens with a
    single space (element_at is 1-based, mirroring the oracle's
    1-based list indexing); documents with fewer than two tokens
    contribute no bigrams (sequence(1, 0) would count DOWN in Spark,
    so the short-doc case is guarded explicitly)."""
    toks = docs.select(id_col, *carry,
                       F.split(F.lower(F.col(text_col)), " ").alias("__t"))
    uni = toks.select(id_col, *carry, F.explode("__t").alias("__term"))
    bi = (toks.where(F.size("__t") >= 2)
              .select(id_col, *carry,
                      F.explode(F.expr(
                          "transform(sequence(1, size(__t) - 1), "
                          "i -> concat(element_at(__t, i), ' ', "
                          "element_at(__t, i + 1)))")).alias("__term")))
    return uni.unionByName(bi)


def dsir_hashed_ngram_weights(docs: DataFrame, id_col: str, text_col: str,
                              target_col: str, n_buckets: int = 1024,
                              alpha: float = 1.0,
                              round_ratio: int = 12,
                              round_weight: int = 6) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023) for every
    NON-target document: ``(id_col, dsir_logweight)``.

    Terms are whitespace uni+bigrams hashed into ``n_buckets``
    buckets; the target distribution p comes from rows where
    ``target_col`` is true, the raw distribution q from the candidate
    rows themselves, both add-``alpha`` smoothed over the FIXED
    bucket count. A document's log-weight is the sum over its term
    occurrences of log(p_b / q_b) — the bag-of-hashed-ngrams
    importance weight of the paper, eq. (3).

    100 TB posture: exactly two corpus scans. Scan 1 builds BOTH
    hashed distributions in one partial-agg shuffle keyed by bucket
    (state is n_buckets rows, independent of corpus size); the
    per-bucket log-ratio table is n_buckets-bounded BY CONSTRUCTION
    and broadcast. Scan 2 re-explodes the candidates, hash-joins the
    broadcast ratio, and folds per-document sums in a doc-keyed
    partial agg. No driver collect, no Python row path; bucket
    totals are exact integer-valued doubles, so their summation
    order cannot perturb the smoothed ratios.
    """
    require_free_columns("dsir_hashed_ngram_weights", docs.columns,
                         _DSIR_RESERVED)
    require_free_columns("dsir_hashed_ngram_weights", docs.columns,
                         ("dsir_logweight",), kind="output")
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    terms = (_terms(docs.withColumnRenamed(target_col, "__tgt")
                    if target_col != "__tgt" else docs,
                    id_col, text_col, ["__tgt"])
             .select(id_col, "__tgt",
                     _hash_bucket(F.col("__term"), n_buckets).alias("__b")))
    counts = terms.groupBy("__b").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0))
         .cast("double").alias("__ct"),
        F.sum(F.when(~F.col("__tgt"), 1).otherwise(0))
         .cast("double").alias("__cr"))
    # Window over the WHOLE counts frame: bounded by n_buckets by
    # construction (1024 rows here), so the single-partition window
    # is a constant-size reduction, not a corpus-sized one.
    w = Window.partitionBy()
    a, ab = float(alpha), float(alpha) * n_buckets
    ratio = counts.select(
        "__b",
        F.round(F.log(F.col("__ct") + a)
                - F.log(F.sum("__ct").over(w) + ab)
                - F.log(F.col("__cr") + a)
                + F.log(F.sum("__cr").over(w) + ab),
                round_ratio).alias("__lr"))
    return (terms.where(~F.col("__tgt"))
                 .join(F.broadcast(ratio), "__b")
                 .groupBy(id_col)
                 .agg(F.round(F.sum("__lr"), round_weight)
                       .alias("dsir_logweight")))


def gumbel_topk(df: DataFrame, id_col: str, logweight_col: str, k: int,
                round_digits: int = 6) -> DataFrame:
    """Deterministic Gumbel-top-k resampling (the DSIR paper's
    sampler, §2.2): key = logweight + Gumbel(0,1), take the k largest.
    The Gumbel draw is -ln(-ln(u)) of the house hash-uniform of
    ``id_col`` — a pure function of the data, reproducible across
    engines. Adds ``sel_key`` (rounded, ln's cross-engine ulp is
    absorbed) and ``sample_rank`` (1..k, id tiebreak).

    Scale note: Spark's InferWindowGroupLimit does NOT fire for an
    empty partitionSpec (measured — a global row_number window here
    would shuffle EVERY candidate into one reducer), so the top-k is
    orderBy+limit — TakeOrderedAndProject, a per-partition partial
    top-k merged at k rows — and only the k survivors pay the
    rank window.
    """
    require_free_columns("gumbel_topk", df.columns,
                         ("sel_key", "sample_rank"), kind="output")
    if k < 1:
        raise ValueError("k must be >= 1")
    u = _hash_uniform(id_col)
    keyed = df.withColumn(
        "sel_key",
        F.round(F.col(logweight_col) - F.log(-F.log(u)), round_digits))
    top = keyed.orderBy(F.col("sel_key").desc(), F.col(id_col)).limit(k)
    w = (Window.partitionBy()
               .orderBy(F.col("sel_key").desc(), F.col(id_col)))
    return top.withColumn("sample_rank", F.row_number().over(w))


_LM_RESERVED = ("__t", "__term", "__w1", "__w2", "__c2", "__c1", "__v",
                "__train")


def bigram_lm_bits(docs: DataFrame, id_col: str, text_col: str,
                   group_col: str, train_col: str,
                   alpha: float = 0.5) -> DataFrame:
    """CCNet-style LM scoring (Wenzek et al. 2020): per-``group_col``
    add-``alpha`` bigram LM trained on rows where ``train_col`` is
    true, then EVERY document with at least one bigram is scored with
    mean bits per token: avg over its bigrams of
    -ln((c2 + a) / (c1 + a*V)) / ln 2, where c2/c1 are the trained
    bigram/context counts (0 when unseen — add-alpha keeps the
    probability finite) and V the trained unigram vocabulary size.
    Returns ``(id_col, group_col, bits_per_token)``.

    100 TB posture: the trained model is vocabulary-bounded (c2 is
    observed-bigram-TYPES rows, independent of corpus row count;
    c1 DERIVES from c2 by a second partial agg — the tfidf lesson,
    no second corpus pass for contexts), so the scoring scan is one
    explode + equi-joins against model tables AQE sizes (broadcast
    under threshold, plain shuffle hash join above it — either
    scales) + one doc-keyed partial agg. No Python row path.
    """
    require_free_columns("bigram_lm_bits", docs.columns, _LM_RESERVED)
    require_free_columns("bigram_lm_bits", docs.columns,
                         ("bits_per_token",), kind="output")
    toks = docs.select(id_col, group_col,
                       F.col(train_col).alias("__train"),
                       F.split(F.lower(F.col(text_col)), " ").alias("__t"))
    big = (toks.where(F.size("__t") >= 2)
               .select(id_col, group_col, "__train",
                       F.explode(F.expr(
                           "transform(sequence(1, size(__t) - 1), "
                           "i -> struct(element_at(__t, i) AS w1, "
                           "element_at(__t, i + 1) AS w2))")).alias("__bg"))
               .select(id_col, group_col, "__train",
                       F.col("__bg.w1").alias("__w1"),
                       F.col("__bg.w2").alias("__w2")))
    c2 = (big.where(F.col("__train"))
             .groupBy(group_col, "__w1", "__w2")
             .agg(F.count(F.lit(1)).cast("double").alias("__c2")))
    c1 = c2.groupBy(group_col, "__w1").agg(F.sum("__c2").alias("__c1"))
    vocab = (toks.where(F.col("__train"))
                 .select(group_col, F.explode("__t").alias("__term"))
                 .distinct()
                 .groupBy(group_col)
                 .agg(F.count(F.lit(1)).cast("double").alias("__v")))
    a = float(alpha)
    p = ((F.coalesce(F.col("__c2"), F.lit(0.0)) + a)
         / (F.coalesce(F.col("__c1"), F.lit(0.0)) + a * F.col("__v")))
    return (big.join(c2, [group_col, "__w1", "__w2"], "left")
               .join(c1, [group_col, "__w1"], "left")
               .join(vocab, group_col)
               .groupBy(id_col, group_col)
               .agg(F.round(F.avg((-F.log(p)) / F.log(F.lit(2.0))), 6)
                     .alias("bits_per_token")))


def tercile_buckets(scored: DataFrame, group_col: str, score_col: str,
                    labels: tuple[str, str, str] = ("head", "middle",
                                                    "tail"),
                    out_col: str = "ppl_bucket") -> DataFrame:
    """CCNet's head/middle/tail split: per-group exact tercile
    thresholds (linear-interpolation percentile over the ROUNDED
    scores — the quality_filter_percentile discipline; swap to
    approx_percentile at page scale, same plan shape) broadcast back
    onto the scored frame. Rows at or below the 1/3 cut are ``head``
    (LOW perplexity = most in-domain), at or below 2/3 ``middle``,
    else ``tail``. The threshold frame is group-count-bounded, so the
    join is a broadcast; no per-group global sort / single-reducer
    window anywhere."""
    require_free_columns("tercile_buckets", scored.columns,
                         ("__t1", "__t2", out_col), kind="output")
    cuts = scored.groupBy(group_col).agg(
        F.percentile(score_col, 1.0 / 3).alias("__t1"),
        F.percentile(score_col, 2.0 / 3).alias("__t2"))
    return (scored.join(F.broadcast(cuts), group_col)
                  .withColumn(out_col,
                              F.when(F.col(score_col) <= F.col("__t1"),
                                     labels[0])
                               .when(F.col(score_col) <= F.col("__t2"),
                                     labels[1])
                               .otherwise(labels[2]))
                  .drop("__t1", "__t2"))


_SEM_RESERVED = ("__e", "__n", "__sid", "__se", "__sn", "__csim",
                 "__rn")


def semdedup(emb: DataFrame, id_col: str, vec_col: str,
             n_seeds: int = 8, threshold: float = 0.4,
             seeds: DataFrame | None = None,
             round_centroid: int = 6, round_pair: int = 4,
             checkpoint: bool = True,
             pairs: str = "gemm") -> DataFrame:
    """SemDeDup (Abbas et al. 2023): assign every vector to its most
    similar cluster seed, compare pairs ONLY within a cluster, and
    mark as ``removed`` every member of a duplicate pair (rounded
    cosine >= ``threshold``) EXCEPT the one farthest from the seed —
    the paper's keep-low-centroid-similarity rule, which retains the
    most diverse exemplar of each semantic duplicate group. Returns
    one row per input vector: ``(id_col, cluster_id, centroid_sim,
    removed)``.

    Seeds default to the ``n_seeds`` smallest ids — a deterministic,
    oracle-checkable stand-in for the paper's k-means centroids (pass
    ``seeds`` (id, vec) to plug trained centroids in; the published
    semantics lives in the cluster-bounded prune, not the centroid
    fit). Ties in the assignment argmax break toward the smaller
    seed id on the ROUNDED similarity; the removal rule breaks
    centroid-sim ties toward keeping the smaller id.

    100 TB posture: the seed frame is n_seeds rows BY CONSTRUCTION —
    the assignment crossJoin is a broadcast nested loop over a
    k-row build side (k scales with corpus size / target cluster
    size in real use, k = corpus/centroid fit, never corpus-sized).
    The pair comparison runs ONLY within a cluster — SemDeDup's
    entire point is that clusters bound the quadratic term; a
    pathologically hot cluster should lower target cluster size
    (more seeds). ``pairs`` selects its kernel (r16 OPTIMIZATION):

    - ``"gemm"`` (default): one Arrow-batched task per cluster
      (grouped applyInPandas) whose numpy GEMM (vectors.cosine_blocks)
      scores the cluster and emits each pair's loser directly — the
      paper's own within-cluster matrix product, and the engine's
      established BLAS lane (dedup.embedding_near_pairs_grid runs the
      same kernel against the same sequential-fold oracle). Measured
      at sf0.1 (2000 x 64, 8 clusters): the pair stage fell 3.5 s ->
      0.35 s — the expression form's ~250k interpreted
      higher-order-function dot products (HOFs never
      whole-stage-codegen) were the whole cost. The loser set
      is unique per cluster by construction, so the cross-pair
      ``distinct`` exchange disappears too.
    - ``"expr"``: the previous pure-expression equi-join kernel
      (JVM-only row path; keep for plan-shape comparisons or
      clusters too large for one task, where the caller should
      REALLY be raising n_seeds).

    Cosines divide the raw dot by the norm product in both kernels
    (the oracle's exact op tree); the GEMM accumulates the dot in
    fp64 BLAS order, which the round-4 threshold absorbs on every
    measured corpus (same exposure as the grid-GEMM dedup queries,
    oracle-green at both scales). No driver collect anywhere. The
    assigned frame feeds multiple consumers and Spark does not
    reuse the exchange across them (measured: 3x the N*k assignment
    subtree, 8 source scans in one plan), so by default it is
    localCheckpointed once — the graph family's iteration
    discipline; ``checkpoint=False`` opts out (plan-shape tests, or
    callers managing their own persistence).
    """
    require_free_columns("semdedup", emb.columns, _SEM_RESERVED)
    require_free_columns("semdedup", emb.columns,
                         ("cluster_id", "centroid_sim", "removed"),
                         kind="output")
    if n_seeds < 1:
        raise ValueError("n_seeds must be >= 1")
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if pairs not in ("gemm", "expr"):
        raise ValueError(f"pairs must be 'gemm' or 'expr', got {pairs!r}")
    # Hoist each vector's L2 norm into a per-row column computed ONCE:
    # cosine(a, b) = dot(a, b) / (norm(a) * norm(b)), and the norm
    # factors depend only on their own row — recomputing them per
    # crossed/paired row (the naive vectors.cosine form) costs 2 extra
    # O(dim) array folds per pair, i.e. 3x the FLOPs of the dot alone.
    # The hoisted product is the SAME expression tree (norm evaluated
    # by the identical formula, just in an earlier Project), so every
    # rounded cosine is bit-identical to the unhoisted form.
    v = emb.select(F.col(id_col), F.col(vec_col).alias("__e"),
                   vectors.norm(F.col(vec_col)).alias("__n"))
    if seeds is None:
        # Deterministic: the n_seeds smallest ids. orderBy+limit plans
        # as TakeOrderedAndProject — a bounded k-row reduction.
        seeds = v.orderBy(id_col).limit(n_seeds)
        seeds = seeds.select(F.col(id_col).alias("__sid"),
                             F.col("__e").alias("__se"),
                             F.col("__n").alias("__sn"))
    else:
        sid, svec = seeds.columns[0], seeds.columns[1]
        seeds = seeds.select(F.col(sid).alias("__sid"),
                             F.col(svec).alias("__se"),
                             vectors.norm(F.col(svec)).alias("__sn"))
    # n_seeds-row build side: bounded-by-construction broadcast.
    sim = (v.crossJoin(F.broadcast(seeds))
            .select(id_col, "__sid",
                    F.round(vectors.dot(F.col("__e"), F.col("__se"))
                            / (F.col("__n") * F.col("__sn")),
                            round_centroid).alias("__csim")))
    # Assignment argmax as a PARTIAL AGG, not a per-id window: the
    # window form shuffles every one of the N*k crossed rows before
    # reducing (measured 18x slower at 200k x 2048 seeds); min_by
    # over (-sim, seed_id) combines map-side, so only N rows shuffle.
    # The struct ordering reproduces the spec exactly: max rounded
    # similarity, ties broken toward the smaller seed id.
    asg = (sim.groupBy(id_col)
              .agg(F.min_by("__sid",
                            F.struct((-F.col("__csim")).alias("__ns"),
                                     F.col("__sid").alias("__tb")))
                    .alias("cluster_id"),
                   F.max("__csim").alias("centroid_sim")))
    av = asg.join(v, id_col)
    if checkpoint:
        av = av.localCheckpoint()
        asg = av.select(id_col, "cluster_id", "centroid_sim")
    if pairs == "gemm":
        removed_ids = _semdedup_prune_gemm(av, id_col, float(threshold),
                                           round_pair)
    else:
        a, b = av.alias("a"), av.alias("b")
        # Hoisted-norm pair cosine (bit-identical to vectors.cosine:
        # the dot is symmetric in its zip order and the norm product
        # commutes).
        pair_cos = (F.round(vectors.dot(F.col("a.__e"), F.col("b.__e"))
                            / (F.col("a.__n") * F.col("b.__n")),
                            round_pair))
        # Each unordered pair is joined ONCE (id_a < id_b) — half the
        # pair rows and half the pair cosines of the bidirectional
        # form. Every qualifying pair removes exactly its LOSER: the
        # member CLOSER to the centroid (keep-far rule), ties broken
        # toward keeping the smaller id (so the loser of a tie is the
        # larger id = b). The removed-id set is identical to the
        # bidirectional form's, which marked `a` whenever its partner
        # won.
        loser = F.when(F.col("a.centroid_sim") > F.col("b.centroid_sim"),
                       F.col(f"a.{id_col}")).otherwise(F.col(f"b.{id_col}"))
        removed_ids = (a.join(b,
                              (F.col("a.cluster_id")
                               == F.col("b.cluster_id"))
                              & (F.col(f"a.{id_col}")
                                 < F.col(f"b.{id_col}")),
                              "inner")
                       .where(pair_cos >= F.lit(float(threshold)))
                       .select(loser.alias(id_col))
                       .distinct())
    removed_ids = removed_ids.withColumn("removed", F.lit(True))
    return (asg.join(removed_ids, id_col, "left")
               .select(id_col, "cluster_id", "centroid_sim",
                       F.coalesce(F.col("removed"), F.lit(False))
                        .alias("removed")))


def _semdedup_prune_gemm(av: DataFrame, id_col: str, threshold: float,
                         round_pair: int) -> DataFrame:
    """The within-cluster duplicate-pair loser set as one numpy GEMM
    per cluster (grouped applyInPandas — the Arrow lane the plan
    linter admits; never row-at-a-time Python). Input ``av`` carries
    ``(id_col, cluster_id, centroid_sim, __e)``; output is one row per
    REMOVED id, already unique (clusters partition the ids and each
    kernel emits np.unique losers, so no cross-task distinct is
    needed). Semantics mirror the expression kernel exactly: rows sort
    by id inside the kernel, so for every in-cluster pair (i < j by
    id) with round(dot/(n_i*n_j), round_pair) >= threshold the loser
    is i when centroid_sim_i > centroid_sim_j else j (keep-far rule,
    ties keep the smaller id). Scoring is vectors.cosine_blocks with
    the carried norms, rounded by the oracle's rule — the float-path
    differences vs the expression kernel are the GEMM's dot
    accumulation order, absorbed by round_pair on every measured
    corpus, and F.round's shortest-decimal ties (see
    vectors._round_half_up). Degenerate inputs (r16 ADVICE): a NULL
    vector null-propagates in the expression kernel (its pairs never
    qualify), so this kernel drops such rows from the pair scan —
    they stay non-removed upstream. A ZERO-NORM vector is a loud
    DIVIDE_BY_ZERO in the shared assignment stage under ANSI mode
    (Spark 4's default — both kernels fail identically before any
    pair runs); under non-ANSI sessions Spark's Divide returns NULL
    instead, the expression kernel again never qualifies the pair,
    and this kernel's isfinite term mirrors that (numpy yields
    NaN/Inf where Spark yields NULL).

    Memory per task: the cluster's rows plus ONE B x K block of the
    pair matrix (B = vectors.COSINE_BLOCK_ROWS, read when the plan is
    built; clusters at or below B pay a single K x K GEMM). A
    pathologically hot cluster is thus a bounded sequence of GEMM
    blocks instead of one O(K^2) allocation (r16 VERDICT item 2) —
    though the paper's own remedy (raise n_seeds so clusters bound the
    quadratic term) remains the real fix; the applyInPandas lane
    still materializes the cluster's ROWS in one task by construction."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    id_field = av.select(id_col).schema[0]
    out_schema = T.StructType([id_field])
    block = vectors.COSINE_BLOCK_ROWS

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        # NULL vectors null-propagate like the expression kernel: a
        # pair with a NULL side has NULL cosine, which never passes
        # the threshold filter — equivalent to dropping the row here.
        pdf = pdf[pdf["__e"].notna() & pdf["__n"].notna()]
        if len(pdf) < 2:
            return pd.DataFrame({id_col: pdf[id_col][:0]})
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        cs = pdf["centroid_sim"].to_numpy()
        e = pdf["__e"]
        # __n is the JVM-side sequential-fold norm carried on the row —
        # reusing it (rather than renorming here) keeps the cosine's op
        # tree identical to the expression kernel's dot/(n_i*n_j)
        # except for the GEMM's dot accumulation order.
        n = pdf["__n"].to_numpy()
        loser_parts = []
        for lo, cos in vectors.cosine_blocks(e, e, round_pair, block,
                                             norms=(n, n)):
            # isfinite mirrors non-ANSI Spark's NULL on zero-divisor
            # (never qualifies); under ANSI the assignment stage has
            # already raised before any zero norm reaches this kernel.
            qual = (cos >= threshold) & np.isfinite(cos)
            # upper triangle of the FULL matrix, expressed block-
            # locally: global row index lo+bi must be < column index.
            bi, jj = np.nonzero(qual)
            keep = (bi + lo) < jj
            bi, jj = bi[keep], jj[keep]
            ii = bi + lo
            loser_parts.append(np.where(cs[ii] > cs[jj], ids[ii], ids[jj]))
        return pd.DataFrame({id_col: np.unique(np.concatenate(loser_parts))})

    return (av.select("cluster_id", id_col, "centroid_sim", "__e", "__n")
            .groupBy("cluster_id")
            .applyInPandas(lambda _k, pdf: prune(pdf), out_schema))


_WF_RESERVED = ("__r", "__pc", "__pw", "__wsum")


def budget_waterfill(counts: DataFrame, key_col: str, weight_col: str,
                     cap_col: str, budget: float | Column,
                     round_digits: int = 6) -> DataFrame:
    """Epoch-capped token-budget allocation (Muennighoff et al.,
    "Scaling Data-Constrained Language Models", NeurIPS 2023): give
    each source its mixture-weight share of the total token budget,
    but never more than its repetition cap (the paper's ~4-epoch
    ceiling, past which repeated data stops helping). Overflow from
    capped sources redistributes among the uncapped ones in weight
    proportion — the classic water-filling allocation, solved in
    CLOSED FORM, no iteration:

    sort by ratio r_i = cap_i / w_i ascending; walking that order, a
    source caps iff the fill level computed with every earlier source
    capped still exceeds its ratio (a cumulative-AND flag — once one
    source stays under, every later one does too, because r is
    ascending and the level stops moving); the final level is
    lam = (budget - sum(cap over capped)) / sum(w over uncapped) and
    every uncapped source gets lam * w_i. If budget >= sum(cap), every
    source caps and lam is never consulted.

    Adds ``alloc`` (rounded) and ``capped`` to the input rows.
    ``budget`` may be a python float or a Column (e.g. a value
    crossJoined from a 1-row broadcast aggregate frame, so the budget
    can DERIVE from corpus counts without any driver-side action).

    Determinism contract: with integer-valued weights/caps/budget
    every comparison here is between exactly-rounded IEEE quotients of
    exact integers, so the capped/uncapped partition is bit-identical
    across engines; only the final lam * w product is rounded.

    100 TB posture: ``counts`` is one row per SOURCE — bounded by the
    mixture's source count (dozens), not the corpus — so the
    unpartitioned windows are the house bounded-input pattern
    (temperature_mix's discipline) and the whole allocator costs
    nothing next to the count scan that feeds it.
    """
    require_free_columns("budget_waterfill", counts.columns, _WF_RESERVED)
    require_free_columns("budget_waterfill", counts.columns,
                         ("alloc", "capped"), kind="output")
    if isinstance(budget, Column):
        b = budget
    else:
        if budget <= 0:
            raise ValueError("budget must be > 0")
        b = F.lit(float(budget))
    order = Window.partitionBy().orderBy(F.col("__r"), F.col(key_col))
    prefix_excl = order.rowsBetween(Window.unboundedPreceding, -1)
    prefix_incl = order.rowsBetween(Window.unboundedPreceding,
                                    Window.currentRow)
    w_all = Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                             Window.unboundedFollowing)
    d = (counts
         .withColumn("__r", F.col(cap_col) / F.col(weight_col))
         .withColumn("__pc", F.coalesce(F.sum(cap_col).over(prefix_excl),
                                        F.lit(0.0)))
         .withColumn("__pw", F.coalesce(F.sum(weight_col)
                                         .over(prefix_excl), F.lit(0.0)))
         .withColumn("__wsum", F.sum(weight_col).over(w_all)))
    # fill level if every source before this one (in r order) is capped
    lam_before = (b - F.col("__pc")) / (F.col("__wsum") - F.col("__pw"))
    d = d.withColumn(
        "capped",
        F.min(F.when(lam_before > F.col("__r"), 1).otherwise(0))
         .over(prefix_incl) == 1)
    lam = ((b - F.coalesce(
                F.sum(F.when(F.col("capped"), F.col(cap_col))).over(w_all),
                F.lit(0.0)))
           / F.sum(F.when(~F.col("capped"), F.col(weight_col)))
              .over(w_all))
    return (d.withColumn(
                "alloc",
                F.when(F.col("capped"),
                       F.round(F.col(cap_col), round_digits))
                 .otherwise(F.round(lam * F.col(weight_col),
                                    round_digits)))
             .drop("__r", "__pc", "__pw", "__wsum"))
