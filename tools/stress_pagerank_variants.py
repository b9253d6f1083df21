"""Round-13 stress: the pagerank variants (weighted, personalized)
and HITS at the r12 warm-start A/B scale — 200k nodes / ~1M edges on
local[32] — so BASELINE.md records measured walls for every iterative
ranking path, not just the plain one.

Graph: deterministic xxhash64 edge list with a preferential low-id
skew on the destination side (dst ∝ u² — the web shape from the r12
A/B: a heavy authority head, long flat tail). Weights 1..5 derive
from the edge id; the personalization seed is the 100 lowest node
ids (the "trusted hosts" — they sit in the authority head, the
realistic curation case).

Every variant runs the fixed-iteration loop for K iterations (default
5, the K the registered PageRank queries run; ``--k=N`` overrides).

Usage: python tools/stress_pagerank_variants.py [nodes] [edges]
    [--k=N] [--plain-only]
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from unilever_scraping_etl_spark.operators import graph  # noqa: E402
from unilever_scraping_etl_spark.session import get_session  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    m = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    k = 5
    for a in sys.argv[1:]:
        if a.startswith("--k="):
            k = int(a.split("=", 1)[1])
    spark = get_session()
    u = F.pmod(F.xxhash64(F.col("id") + m), 1_000_000) / 1_000_000.0
    edges = (spark.range(m).select(
        F.pmod(F.xxhash64(F.col("id")), n).alias("src"),
        F.floor(F.pow(u, 2.0) * n).cast("long").alias("dst"),
        (F.pmod(F.xxhash64(F.col("id") + 2 * m), 5) + 1)
        .cast("double").alias("w"))
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint())
    print(f"graph: {edges.count()} edges, target {n} nodes")

    def run(label, **kw):
        t = time.perf_counter()
        out = graph.pagerank(edges, "src", "dst", iterations=k, **kw)
        nodes = out.count()
        wall = time.perf_counter() - t
        print(f"{label}: {k} iters, {wall:.1f} s "
              f"({wall / k:.2f} s/iter), {nodes} nodes", flush=True)
        return out

    run("plain          ")
    if "--plain-only" in sys.argv:
        return
    run("weighted       ", weight_col="w")
    seed = spark.range(100).select(F.col("id").alias("node"),
                                   F.lit(1.0).alias("wt"))
    run("personalized   ", personalize=seed)
    run("pers+weighted  ", personalize=seed, weight_col="w")

    t = time.perf_counter()
    hits_out = graph.hits(edges, "src", "dst", iterations=5)
    nn = hits_out.count()
    print(f"hits K=5       : {time.perf_counter() - t:.1f} s, "
          f"{nn} nodes", flush=True)


if __name__ == "__main__":
    main()
