"""Cross-encoder-style reranking over first-stage retrieval output
(SURVEY.md §2.10 L3 extension; r7 VERDICT item 7's first named
addition).

Two-stage retrieval is the standard LLM-data shape: a cheap, scalable
first stage (``similarity.brute_force_topk`` / ``ivf_topk`` — vector
cosine over a bi-encoder embedding) over-fetches ``k`` candidates per
query, then an EXPENSIVE pairwise scorer that sees both texts at once
(a cross-encoder) re-scores only those Q×k rows and the top ``m``
survive. The cross-encoder is quadratic-cost and cannot be
pre-computed per document — exactly why it must never see the full
corpus and why the candidate set is the unit of work here.

Spark-first layout (all sizes are the 100 TB posture):
- candidates are Q×k rows — bounded by construction, never the
  corpus; both payload joins are plain equi-joins (broadcast when the
  payload table is small, shuffle otherwise — Catalyst's choice).
- the scorer (token-set F1) runs as pure built-in column expressions
  — no Python boundary at all.
- re-ranking is a row_number window PARTITIONED by query (group size
  <= k, bounded — WindowGroupLimit-eligible, never global).

No transformer runtime exists in this container, so the scorer is an
honest deterministic lexical cross-scorer: whitespace-token F1 between
query and document text, a real reranking signal that sees both texts,
not a dummy. Reference parity: the reference repo has no retrieval stage
(scrap_tokopedia.py is scrape-only); this operator serves the
LLM-data-pipeline brief, not a reference feature.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _token_set(col: Column) -> Column:
    """The scorer's tokenization: lowercase, split on whitespace runs,
    drop empty tokens (leading/trailing whitespace and repeated
    separators), distinct — the array form of
    ``set(text.lower().split())``. NULL -> empty array."""
    return F.array_distinct(F.filter(
        F.split(F.lower(F.coalesce(col, F.lit(""))), r"\s+"),
        lambda t: t != F.lit("")))


def rerank_topk(candidates: DataFrame, queries: DataFrame,
                corpus: DataFrame, m: int,
                query_id: str = "query_id",
                neighbor_id: str = "neighbor_id",
                query_payload: str = "text",
                corpus_payload: str = "text",
                queries_id: str | None = None,
                corpus_id: str | None = None,
                round_digits: int | None = 6) -> DataFrame:
    """Re-score ``candidates`` (query_id, neighbor_id[, ...]) with the
    token-set F1 cross-scorer over the joined payloads and keep the top
    ``m`` per query. Returns (query_id, neighbor_id, score, rank)
    with rank 1..m per query, ties broken by neighbor_id — fully
    deterministic.

    ``round_digits`` rounds the score BEFORE ranking so the ranking is
    stable under float noise across plans (same discipline as
    brute_force_topk). Payload joins: queries on ``query_id`` and
    corpus on ``neighbor_id`` (``queries_id``/``corpus_id`` name the
    payload tables' id columns when they differ). A hot document
    shared by many queries skews the corpus join's key at most by Q
    (candidates are Q×k by construction); AQE's skew join handles the
    residue.

    The F1 is evaluated as built-in array expressions — zero Python in
    the row path. Its score is bit-identical to the per-row
    ``set(text.lower().split())`` F1 (pinned by test) and to the
    registered oracles' DuckDB expression."""
    qid = queries_id if queries_id is not None else query_id
    qp = queries.select(F.col(qid).alias("__qid"),
                        F.col(query_payload).alias("__qp"))
    cid = corpus_id if corpus_id is not None else neighbor_id
    cp = corpus.select(F.col(cid).alias("__nid"),
                       F.col(corpus_payload).alias("__np"))
    paired = (candidates
              .join(qp, F.col(query_id) == F.col("__qid"), "inner")
              .join(cp, F.col(neighbor_id) == F.col("__nid"), "inner"))
    # Token-set F1 as BUILT-IN column expressions: p = i/|d|,
    # r = i/|q|, ((2.0*p)*r)/(p+r), int sizes widened to double by the
    # divide — the registered oracles' DuckDB expression, bit for bit.
    # NULL payload -> empty set -> 0.0. Each non-cheap array expression
    # lands in its OWN projection (CollapseProject keeps multi-use
    # non-cheap exprs separate), so the token sets and the intersection
    # are each computed ONCE per row — the score arithmetic below runs
    # on plain attribute references.
    paired = paired.withColumn(
        "__qt", _token_set(F.col("__qp"))).withColumn(
        "__dt", _token_set(F.col("__np")))
    paired = (paired
              .withColumn("__ni", F.size(F.array_intersect(
                  F.col("__qt"), F.col("__dt"))))
              .withColumn("__nq", F.size(F.col("__qt")))
              .withColumn("__nd", F.size(F.col("__dt"))))
    p = F.col("__ni") / F.col("__nd")
    r = F.col("__ni") / F.col("__nq")
    score = (F.when((F.col("__nq") == 0) | (F.col("__nd") == 0)
                    | (F.col("__ni") == 0), F.lit(0.0))
             .otherwise(F.lit(2.0) * p * r / (p + r)))
    scored = paired.withColumn("score", score)
    if round_digits is not None:
        scored = scored.withColumn("score", F.round("score", round_digits))
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(),
                                             F.col(neighbor_id))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= m)
                  .select(F.col(query_id), F.col(neighbor_id),
                          "score", "rank"))


def retrieve_and_rerank(queries: DataFrame, corpus: DataFrame,
                        k: int, m: int,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        text_df: DataFrame | None = None,
                        text_id: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """The composed two-stage pipeline: stage 1
    ``similarity.brute_force_topk`` over-fetches ``k`` cosine
    candidates per query (swap in ``ivf_topk``/``brute_force_topk_grid``
    at scale — same candidate schema), stage 2 ``rerank_topk`` keeps
    the top ``m`` by cross-score. ``text_df`` carries the payloads
    (id, text); when the embedding and document tables are separate
    (as in the test corpus: embeddings.vec_id ↔ documents.doc_id) pass
    the documents table here; when ``text_df`` is None the corpus
    itself carries the payloads and its ``id_col`` keys the payload
    join (NOT ``text_id`` — the corpus typically has no doc_id column;
    r8 ADVICE). k > m is the point: the cheap stage over-fetches so
    the expensive stage can repair its ranking."""
    from . import similarity

    if m > k:
        raise ValueError(f"m ({m}) must be <= first-stage k ({k})")
    cand = similarity.brute_force_topk(queries, corpus, k,
                                       id_col=id_col, vec_col=vec_col)
    payloads = text_df if text_df is not None else corpus
    pid = text_id if text_df is not None else id_col
    return rerank_topk(cand, payloads, payloads, m,
                       query_payload=text_col, corpus_payload=text_col,
                       queries_id=pid, corpus_id=pid)
