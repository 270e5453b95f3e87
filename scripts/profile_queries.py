"""Per-query profiling for the optimization rounds: best-of-2 noop
timing (bench.py methodology), Spark JOB COUNT per query (job-launch
overhead is the dominant cost for several sub-second-data queries at
sf0.1), classes COMPILED per attempt (CodegenMetrics count delta: a
warm attempt that still compiles is missing the generated-class cache),
and optional .explain("formatted") dumps.

Usage:
  python scripts/profile_queries.py                          # headline set
  python scripts/profile_queries.py q1 q2 ...                # subset
  PROFILE_PLAN_DIR=plans/r11 PROFILE_PLAN_SUFFIX=_before \\
      python scripts/profile_queries.py                      # + plan dumps

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32) — same contract as bench.py.
Prints one JSON line per query:
{"name", "best_sec", "runs", "n_jobs", "n_compiles"} — ``n_compiles``
has one entry per attempt, aligned with ``runs``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plan_dir = os.environ.get("PROFILE_PLAN_DIR", "")
    plan_suffix = os.environ.get("PROFILE_PLAN_SUFFIX", "")
    from bench import HEADLINE

    from data_lake_construction_and_querying_with_pyspark_spark import get_spark
    from data_lake_construction_and_querying_with_pyspark_spark.registry import all_queries

    spark = get_spark(app_name="lake_profile")
    qs = all_queries()
    names = sys.argv[1:] or [n for n in HEADLINE if n in qs]

    def run(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    # Warmup identical to bench.py
    for t in ["region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings"]:
        run(spark.read.parquet(f"{sf_dir}/{t}.parquet"))
    from pyspark.sql import functions as F

    run(spark.read.parquet(f"{sf_dir}/orders.parquet").groupBy("o_orderstatus").agg(F.count(F.lit(1))))

    def settle() -> None:
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        time.sleep(0.3)

    tracker = spark.sparkContext.statusTracker()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    out = []
    for name in names:
        if name not in qs:
            print(json.dumps({"name": name, "error": "not registered"}))
            continue
        if plan_dir:
            os.makedirs(plan_dir, exist_ok=True)
            settle()
            df = qs[name](spark, sf_dir)
            plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            with open(os.path.join(plan_dir, f"{name}{plan_suffix}.txt"), "w") as f:
                f.write(plan)
        runs = []
        n_jobs = None
        n_compiles = []
        for attempt in range(2):
            settle()
            group = f"profile:{name}:{attempt}"
            spark.sparkContext.setJobGroup(group, name)
            c0 = codegen.METRIC_COMPILATION_TIME().getCount()
            t0 = time.time()
            run(qs[name](spark, sf_dir))
            runs.append(round(time.time() - t0, 3))
            n_jobs = len(tracker.getJobIdsForGroup(group))
            n_compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - c0)
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        rec = {"name": name, "best_sec": min(runs), "runs": runs, "n_jobs": n_jobs, "n_compiles": n_compiles}
        out.append(rec)
        print(json.dumps(rec), flush=True)
    total = round(sum(r["best_sec"] for r in out), 3)
    print(json.dumps({"name": "__total__", "best_sec": total, "n": len(out)}))


if __name__ == "__main__":
    main()
