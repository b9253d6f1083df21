"""Optimization-round probe: isolate registered queries, time them with
the bench's exact methodology (warmed session, noop sink), dump
``.explain("formatted")`` for the plan record, and count per run the
Spark jobs each query launches and the codegen classes it compiles.
Jobs are split into build jobs, launched while the plan is constructed
(schema inference, eager checkpoints, convergence probes: the
per-iteration overhead signal at local scale), and action jobs,
launched by the noop write. Nonzero compiles on a warm run mean code
the compiled-code cache could not serve.

Usage:
    python tools/opt_probe.py [--sf DIR] [--runs N] [--plans SUFFIX] q1 q2 ...

With --plans SUFFIX, writes plans/r16/<query>_<SUFFIX>.txt for each
query (the optimization-round deliverable).
"""

import argparse
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="write plans/<round>/<q>_<SUFFIX>.txt per query")
    ap.add_argument("--round", default="r17",
                    help="plans/ subdirectory for --plans output")
    args = ap.parse_args()

    import pandas as pd
    from pyspark.sql import functions as F

    from unilever_scraping_etl_spark.plans.registry import QUERIES
    from unilever_scraping_etl_spark.session import classes_compiled, get_session

    spark = get_session("opt_probe")
    sc = spark.sparkContext

    # Same warmup as bench.py: JVM, parquet footers, Python lanes.
    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s
    spark.range(10).select(_warm("id")).count()
    ten = spark.range(10).withColumn("g", F.col("id") % 2)
    ten.mapInPandas(lambda it: it, "id long, g long").count()
    ten.groupBy("g").applyInPandas(lambda pdf: pdf, "id long, g long").count()

    plan_dir = (pathlib.Path(__file__).resolve().parent.parent
                / "plans" / args.round)
    if args.plans:
        plan_dir.mkdir(parents=True, exist_ok=True)

    def group_jobs(group: str) -> int:
        # The status tracker is fed by the async listener bus: drain it
        # first so every job launched so far is counted.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for name in args.queries:
        spec = QUERIES[name]
        times = []
        n_build_jobs = []
        n_action_jobs = []
        n_compiled = []
        for run_i in range(args.runs):
            group = f"{name}-run{run_i}"
            sc.setJobGroup(group, name)
            sc.setJobDescription(f"{name} run {run_i}")
            c0 = classes_compiled(spark)
            t0 = time.perf_counter()
            df = spec.spark(spark, args.sf)
            t_build = time.perf_counter() - t0
            n_build_jobs.append(group_jobs(group))
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(t_build + time.perf_counter() - t1)
            n_action_jobs.append(group_jobs(group) - n_build_jobs[-1])
            n_compiled.append(classes_compiled(spark) - c0)
            sc.setJobGroup("", "")
            if run_i == 0:
                build_s = t_build
        if args.plans:
            df = spec.spark(spark, args.sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
            (plan_dir / f"{name}_{args.plans}.txt").write_text(plan)
        print(f"{name:36s} min={min(times):7.3f}s  runs={[round(t,3) for t in times]}"
              f"  build(run0)={build_s:6.3f}s  build_jobs/run={n_build_jobs}"
              f"  action_jobs/run={n_action_jobs}"
              f"  compiled/run={n_compiled}")


if __name__ == "__main__":
    main()
