"""Connected-components stress at page scale — the distributed
large-star/small-star loop past the driver lane's edge bound, and the
driver lane against the distributed loop at and above that bound.

Graph: the standing deterministic xxhash64 web-skew edge list
(dst ∝ u² — heavy authority head) of tools/stress_graph_structure,
whose giant component plus long tail is the realistic dedup-pair
shape at crawl scale.

Usage: python tools/stress_cc.py [nodes] [edges] [--ops=dist,local]
                                 [--local-edges=N1,N2,...]

At the default 2M/10M the edge count reads past the 1M bound, so
``dist`` exercises the DISTRIBUTED loop the driver lane must never
shadow. ``local`` subsamples the edge list to each ``--local-edges``
size (default: the bound) in ascending order and runs, on the SAME
subgraph, the driver lane (``dedup._CC_LOCAL_EDGES_DEFAULT`` set to
the size) and the distributed loop (bound set to 0), comparing label
checksums. Each driver-lane line reports this process's resident set
before the leg (``VmRSS``) and its peak after it (``VmHWM``, from
``/proc/self/status``); the difference over the edge count is the
lane's driver-side bytes per edge. ``VmHWM`` is a high-water mark, so
sizes run in ascending order and a leg whose peak stays under an
earlier one says so. Each leg prints the round budget
``_CC_MAX_ROUNDS`` it ran with."""

from __future__ import annotations

import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from unilever_scraping_etl_spark.operators import dedup  # noqa: E402
from unilever_scraping_etl_spark.session import get_session  # noqa: E402


def vm_kib(field: str) -> int:
    """This process's ``field`` (``VmRSS``, ``VmHWM``) in KiB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def checksum(labels):
    return tuple(labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)")),
        F.count(F.lit(1)),
        F.count_distinct("component")).first())


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    ops = {"dist", "local"}
    sizes = [dedup._CC_LOCAL_EDGES_DEFAULT]
    for a in sys.argv[1:]:
        if a.startswith("--ops="):
            ops = set(a.split("=", 1)[1].split(","))
        elif a.startswith("--local-edges="):
            sizes = sorted(int(x) for x in a.split("=", 1)[1].split(","))
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
        for size in sizes:
            sub = edges.limit(size).localCheckpoint()
            m_sub = sub.count()
            print(f"[local] subgraph of {m_sub} edges; driver lane "
                  f"at _CC_LOCAL_EDGES_DEFAULT {size}, distributed leg at "
                  f"0, _CC_MAX_ROUNDS {dedup._CC_MAX_ROUNDS}", flush=True)
            rss0, hwm0 = vm_kib("VmRSS"), vm_kib("VmHWM")
            dedup._CC_LOCAL_EDGES_DEFAULT = size
            t = time.perf_counter()
            loc = checksum(dedup.connected_components(sub, "src", "dst"))
            tl = time.perf_counter() - t
            assert dedup._LAST_CC_ROUNDS == 0
            hwm = vm_kib("VmHWM")
            dedup._CC_LOCAL_EDGES_DEFAULT = 0
            t = time.perf_counter()
            dist = checksum(dedup.connected_components(sub, "src", "dst"))
            td = time.perf_counter() - t
            dedup._CC_LOCAL_EDGES_DEFAULT = bound
            peak = (f"{hwm / 1024:.0f} MiB" if hwm > hwm0
                    else f"not above the earlier {hwm0 / 1024:.0f} MiB")
            print(f"driver lane           : {tl:.1f} s, driver VmRSS "
                  f"{rss0 / 1024:.0f} MiB before, VmHWM {peak} after "
                  f"({(hwm - rss0) * 1024 / m_sub:.0f} B/edge) vs "
                  f"distributed {td:.1f} s (rounds={dedup._LAST_CC_ROUNDS}); "
                  f"checksums {'EQUAL' if loc == dist else 'MISMATCH'} {loc}",
                  flush=True)
            if loc != dist:
                raise SystemExit(1)


if __name__ == "__main__":
    main()
