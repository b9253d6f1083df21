"""Round-13/14 stress: the structural graph operators — label
propagation, co-citation, triangle count, k-core, HITS, full core
decomposition — at the r12/r13 ranking-stress scale (200k nodes /
~1M edges on local[32]), so BASELINE.md records measured walls for
the structural family next to the iterative-ranking one.

Graph: the same deterministic xxhash64 edge list with the web-shaped
preferential low-id destination skew as tools/stress_pagerank_variants
(dst ∝ u² — heavy authority head, long flat tail). That skew is the
hard case for all of them: LPA floods toward the head labels, the head
nodes dominate co-citation pair generation (exactly what
max_linker_degree caps), and the head forms the deep cores.

Usage: python tools/stress_graph_structure.py [nodes] [edges]
                                              [--no-broadcast]
                                              [--ops=lpa,cocitation,...]
                                              [--k=N]

``--no-broadcast`` sets ``graph._BROADCAST_NODE_CAP`` to -1, which
turns the r14 bounded-probe gate OFF for the whole family — the >1M
page-scale plan shape (shuffle joins, AQE decides) — so the gated-on
vs gated-off cost can be A/B'd at a scale where both are feasible (at
200k the default gate keeps the broadcast, which is the point of the
probe). The header prints the cap the run used.

``--ops`` (names: lpa, cocitation, triangles, kcore, hits, coreness,
salsa) runs a subset — the r14 2M-scale runs measured single legs
with reduced iteration counts rather than the whole family at the
200k defaults. ``--k`` overrides the iteration count of the iterative
trio (lpa/hits/salsa; default 5).

Every leg runs in its own Spark job group and prints its job count,
and the until_stable legs their rounds, so jobs per iteration can be
compared across trees. The header prints the edge count the lane
probe of k_core/core_number/hits/salsa reads against
``graph._LOCAL_EDGE_CAP`` and the lane that count selects: a stress
run below the cap measures the numpy driver lane, not the
distributed one."""

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
    ops = {"lpa", "cocitation", "triangles", "kcore", "hits",
           "coreness", "salsa"}
    k_iter = 5
    for a in sys.argv[1:]:
        if a.startswith("--ops="):
            ops = set(a.split("=", 1)[1].split(","))
        elif a.startswith("--k="):
            k_iter = int(a.split("=", 1)[1])
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
    cap = graph._LOCAL_EDGE_CAP
    probed = edges.limit(cap + 1).count()
    print(f"lane probe: {probed} edges read against _LOCAL_EDGE_CAP "
          f"{cap} -> {'driver' if probed <= cap else 'distributed'} "
          f"lane for kcore/coreness/hits/salsa")
    sc = spark.sparkContext

    def leg_jobs(leg: str) -> str:
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(leg))
        sc.setJobGroup("", "")
        return f"{n_jobs} jobs"

    def leg(name: str) -> str:
        sc.setJobGroup(name, name)
        return name

    if "lpa" in ops:
        t, g = time.perf_counter(), leg("lpa")
        lpa = graph.label_propagation(edges, "src", "dst",
                                      iterations=k_iter)
        comms = lpa.select("community").distinct().count()
        print(f"label_propagation K={k_iter} : "
              f"{time.perf_counter() - t:.1f} s, "
              f"{comms} communities, {leg_jobs(g)}", flush=True)

    if "cocitation" in ops:
        t, g = time.perf_counter(), leg("cocitation")
        cc = graph.cocitation(edges, "src", "dst", min_common=3,
                              max_linker_degree=64)
        pairs = cc.count()
        print(f"cocitation cap=64     : "
              f"{time.perf_counter() - t:.1f} s, "
              f"{pairs} pairs (min_common=3), {leg_jobs(g)}",
              flush=True)

    if "triangles" in ops:
        t, g = time.perf_counter(), leg("triangles")
        tc = graph.triangle_count(edges, "src", "dst")
        tri = tc.agg(F.sum("triangles")).first()[0]
        print(f"triangle_count        : "
              f"{time.perf_counter() - t:.1f} s, "
              f"{tri} corner-counts, {leg_jobs(g)}", flush=True)

    if "kcore" in ops:
        for k in (4, 16):
            t, g = time.perf_counter(), leg(f"kcore{k}")
            core = graph.k_core(edges, "src", "dst", k=k, rounds=64,
                                until_stable=True)
            nodes = core.count()
            print(f"k_core k={k:<2} stable   : "
                  f"{time.perf_counter() - t:.1f} s, "
                  f"{nodes} nodes in core, "
                  f"{graph._LAST_KCORE_ROUNDS} rounds, {leg_jobs(g)}",
                  flush=True)

    if "hits" in ops:
        t, g = time.perf_counter(), leg("hits")
        h = graph.hits(edges, "src", "dst", iterations=k_iter)
        nh = h.count()
        print(f"hits K={k_iter}              : "
              f"{time.perf_counter() - t:.1f} s, "
              f"{nh} nodes, {leg_jobs(g)}", flush=True)

    if "coreness" in ops:
        t, g = time.perf_counter(), leg("coreness")
        cn = graph.core_number(edges, "src", "dst", rounds=64,
                               until_stable=True)
        mx = cn.agg(F.max("core")).first()[0]
        print(f"core_number stable    : "
              f"{time.perf_counter() - t:.1f} s, "
              f"max core {mx}, {graph._LAST_CORE_ROUNDS} rounds, "
              f"{leg_jobs(g)}", flush=True)

    if "salsa" in ops:
        t, g = time.perf_counter(), leg("salsa")
        sa = graph.salsa(edges, "src", "dst", iterations=k_iter)
        ns = sa.count()
        print(f"salsa K={k_iter}             : "
              f"{time.perf_counter() - t:.1f} s, "
              f"{ns} nodes, {leg_jobs(g)}", flush=True)


if __name__ == "__main__":
    main()
