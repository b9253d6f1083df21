"""Round-16 stress: seed-set reachability and the bow-tie composition
(the r15 additions — the one structural family without a BASELINE.md
stress row) at the standing structural-stress scales (200k nodes/~1M
edges and 2M/10M on local[32]).

Graph: the same deterministic xxhash64 edge list with the web-shaped
preferential low-id destination skew as tools/stress_graph_structure
(dst ∝ u² — heavy authority head, long flat tail). That skew is the
interesting case for BFS closures: the head acts as a conductor (most
nodes reach it in a hop or two and it fans out to most of the graph),
so rounds-to-fixpoint stays near the effective diameter — the property
the operator's 100 TB posture claims (rounds = BFS depth, NOT the
condensation depth that makes peeling-style SCC loops unbounded).

Measured per direction from the deterministic max-total-degree pivot
(host_bowtie's pivot rule): wall, reached-set size, rounds to the
verified fixed point (graph._LAST_REACH_ROUNDS), plus the Broder
class counts from intersecting the two closures.

Usage: python tools/stress_reachability.py [nodes] [edges]
                                           [--no-broadcast]

``--no-broadcast`` sets ``graph._BROADCAST_NODE_CAP`` to -1, which
turns the bounded-probe gate OFF (the >1M page-scale plan shape —
shuffle semi-joins, AQE decides) so gated-on vs gated-off can be A/B'd
at 200k; at 2M nodes the probe reads past the default 1M cap and the
two settings coincide by design. The header prints the cap the run
used.
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from unilever_scraping_etl_spark.operators import graph  # noqa: E402
from unilever_scraping_etl_spark.session import get_session  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--no-broadcast" in sys.argv:
        graph._BROADCAST_NODE_CAP = -1
    n = int(args[0]) if len(args) > 0 else 200_000
    m = int(args[1]) if len(args) > 1 else 1_000_000
    spark = get_session()
    print(f"broadcast gate: node probe <= _BROADCAST_NODE_CAP "
          f"{graph._BROADCAST_NODE_CAP}")
    u = F.pmod(F.xxhash64(F.col("id") + m), 1_000_000) / 1_000_000.0
    edges = (spark.range(m).select(
        F.pmod(F.xxhash64(F.col("id")), n).alias("src"),
        F.floor(F.pow(u, 2.0) * n).cast("long").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint())
    print(f"graph: {edges.count()} edges, target {n} nodes")

    deg = (edges.select(F.col("src").alias("node"))
           .unionAll(edges.select(F.col("dst").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("d")))
    pivot = (deg.orderBy(F.col("d").desc(), "node").limit(1)
             .select("node").localCheckpoint())
    print(f"pivot: node {pivot.first()[0]}")

    reaches = {}
    for direction in ("forward", "backward"):
        t = time.perf_counter()
        r = graph.reachability(edges, "src", "dst", pivot,
                               direction=direction, rounds=64,
                               until_stable=True, on_cap="warn")
        cnt = r.count()
        print(f"reachability {direction:<8}: "
              f"{time.perf_counter() - t:.1f} s, {cnt} nodes, "
              f"{graph._LAST_REACH_ROUNDS} rounds "
              f"(converged={graph._LAST_REACH_CONVERGED})", flush=True)
        reaches[direction] = r.localCheckpoint()

    t = time.perf_counter()
    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node")))
             .distinct())
    fw = reaches["forward"].withColumn("__f", F.lit(True))
    bw = reaches["backward"].withColumn("__b", F.lit(True))
    cls = (nodes.join(fw, "node", "left").join(bw, "node", "left")
           .select(F.when(F.col("__f").isNotNull()
                          & F.col("__b").isNotNull(), "core")
                   .when(F.col("__b").isNotNull(), "in")
                   .when(F.col("__f").isNotNull(), "out")
                   .otherwise("other").alias("cls"))
           .groupBy("cls").count().orderBy("cls"))
    parts = {r["cls"]: r["count"] for r in cls.collect()}
    print(f"bow-tie classify      : {time.perf_counter() - t:.1f} s, "
          f"{parts}", flush=True)


if __name__ == "__main__":
    main()
