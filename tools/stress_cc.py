"""Connected-components stress at page scale — the distributed
large-star/small-star loop past the union-find fast path's edge bound,
and the fast path itself at its upper bound.

Graph: the standing deterministic xxhash64 web-skew edge list
(dst ∝ u² — heavy authority head) of tools/stress_graph_structure,
whose giant component plus long tail is the realistic dedup-pair
shape at crawl scale.

Usage: python tools/stress_cc.py [nodes] [edges] [--ops=dist,local]

At the default 2M/10M the edge count reads past the 1M fast-path
bound, so ``dist`` exercises the DISTRIBUTED loop the fast path must
never shadow; ``local`` additionally subsamples the edge list to
exactly the bound and runs the single-task union-find vs the
distributed loop on the SAME subgraph (label checksums compared),
reaching the loop by setting ``dedup._CC_LOCAL_EDGES_DEFAULT`` to 0.
Each leg prints the bound and the round budget ``_CC_MAX_ROUNDS`` it
ran with."""

from __future__ import annotations

import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from unilever_scraping_etl_spark.operators import dedup  # noqa: E402
from unilever_scraping_etl_spark.session import get_session  # noqa: E402


def checksum(labels):
    return tuple(labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)")),
        F.count(F.lit(1)),
        F.count_distinct("component")).first())


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    ops = {"dist", "local"}
    for a in sys.argv[1:]:
        if a.startswith("--ops="):
            ops = set(a.split("=", 1)[1].split(","))
    n = int(args[0]) if len(args) > 0 else 2_000_000
    m = int(args[1]) if len(args) > 1 else 10_000_000
    spark = get_session()
    u = F.pmod(F.xxhash64(F.col("id") + m), 1_000_000) / 1_000_000.0
    edges = (spark.range(m).select(
        F.pmod(F.xxhash64(F.col("id")), n).alias("src"),
        F.floor(F.pow(u, 2.0) * n).cast("long").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint())
    print(f"graph: {edges.count()} edges, target {n} nodes", flush=True)

    if "dist" in ops:
        print(f"[dist] _CC_LOCAL_EDGES_DEFAULT "
              f"{dedup._CC_LOCAL_EDGES_DEFAULT}, _CC_MAX_ROUNDS "
              f"{dedup._CC_MAX_ROUNDS}")
        t = time.perf_counter()
        sums = checksum(dedup.connected_components(edges, "src", "dst"))
        print(f"distributed           : {time.perf_counter() - t:.1f} s, "
              f"rounds={dedup._LAST_CC_ROUNDS}, (sum,n,comps)={sums}",
              flush=True)

    if "local" in ops:
        bound = dedup._CC_LOCAL_EDGES_DEFAULT
        sub = edges.limit(bound).localCheckpoint()
        print(f"[local] subgraph at fast-path bound {bound}: "
              f"{sub.count()} edges; distributed leg at "
              f"_CC_LOCAL_EDGES_DEFAULT 0, _CC_MAX_ROUNDS "
              f"{dedup._CC_MAX_ROUNDS}")
        t = time.perf_counter()
        loc = checksum(dedup.connected_components(sub, "src", "dst"))
        tl = time.perf_counter() - t
        assert dedup._LAST_CC_ROUNDS == 0
        dedup._CC_LOCAL_EDGES_DEFAULT = 0
        t = time.perf_counter()
        dist = checksum(dedup.connected_components(sub, "src", "dst"))
        td = time.perf_counter() - t
        dedup._CC_LOCAL_EDGES_DEFAULT = bound
        print(f"local union-find      : {tl:.1f} s vs distributed "
              f"(bound 0) {td:.1f} s (rounds={dedup._LAST_CC_ROUNDS}); "
              f"checksums {'EQUAL' if loc == dist else 'MISMATCH'} {loc}",
              flush=True)
        if loc != dist:
            raise SystemExit(1)


if __name__ == "__main__":
    main()
