"""SparkSession factory with scale-aware defaults.

The reference pins ``spark.sql.shuffle.partitions=200`` and enables Arrow
(reference ``scripts/aws-hackathon-glue-data-lake-querying-pyspark.py:34-38``).
We keep the intent (tuned shuffle parallelism + Arrow) but make it adaptive:
AQE coalesces shuffle partitions at runtime so the static number only sets
an upper bound, and skew-join handling is on so hot keys re-split at the
1000-executor scale this engine targets.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for correctness-at-scale, not just local speed:
#  - AQE on: runtime partition coalescing + skew-join splitting means the
#    same plan works at sf0.001 and at 100 TB.
#  - UTC session timezone: deterministic timestamp semantics (and matches
#    the DuckDB oracle, which is UTC-naive).
#  - Arrow on: every pandas_udf / applyInPandas moves batches, not rows.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Plan every exchange at 512 reducers and let AQE coalesce DOWN to
    # the advisory size at runtime: AQE can merge small partitions but
    # never split an unskewed oversized one, so the static number must
    # be the CEILING for the largest shuffle the session will run, not
    # the thread count. This is what removes the manual reducer knob
    # the 1M-doc scale probe needed (SCALE_PROBE_SHUFFLE=128 — the
    # exploded shingle index spilled at 32 reducers; VERDICT r3
    # finding #3): the same session now lands within noise of the
    # hand-pinned run with no knob, while small-SF queries still
    # coalesce to ~parallelism (docs/SCALING.md "AQE, no manual knob").
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
    # Companion flag: without it, persist()ed plans pin their output
    # partitioning and AQE may not coalesce the 512-bucket shuffles
    # feeding a cache (observed: 512-task stages on sf0.01 after
    # raising initialPartitionNum — pure scheduling overhead).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # AQE coalescing floor (r11): with parallelismFirst (default true)
    # AQE targets cluster parallelism when merging small partitions,
    # but never coalesces below minPartitionSize — and the 1 MB default
    # collapses KB-scale shuffles (tiny dims, vocabulary tables, the
    # sf-bench corpora) to ONE partition, serializing every downstream
    # fold/join stage on a 32-core session. 64 KB keeps such shuffles
    # parallel; at production scale post-shuffle partitions are
    # hundreds of MB, so the floor never binds and plans are unchanged.
    # Interleaved A/B on the heaviest bench query (3 paired reps):
    # 64 KB faster every rep (16.8→8.4, 8.1→7.0, 7.1→6.5 s).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64KB",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # At 100 TB, file-split sizing is the scan-parallelism knob.
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB
    # The driver's events table carries INT64 TIMESTAMP(NANOS) which
    # Spark's parquet reader rejects; read as long and convert in the
    # events reader (ns values are exact multiples of 1000 here).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Python Data Source filter pushdown (off by default in Spark 4.1):
    # lets the acid_table format's pushFilters() turn df.filter(...)
    # into log-level file skipping (sources/acid_source.py).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Generated-class cache (whole-stage code, projections, predicates,
    # orderings), LRU per JVM, keyed by the generated source. Spark's
    # default of 100 entries is smaller than one round of the
    # interactive workload (perfbench ``interactive_sql``: 11 queries
    # at sf0.1 compile ~140 classes), so each query's classes were
    # evicted before it ran again and every warm round recompiled
    # 72-86 of them; at 1000 a warm round compiles 4-6 (the templates'
    # new literals). 1000 is ~7x that working set, yet still bounds the
    # cache in a long-lived session: one pass over every registered
    # entry at sf0.001 compiles ~1,800 distinct classes. Measured on 4
    # cores, local[4]: interactive_sql unit_s fell in 10 of 10
    # interleaved pairs (medians 5.18 -> 4.17 s); in local mode the
    # saving shows as executor run time, because task-side projections
    # compile inside tasks. Static conf: it applies only when get_spark
    # creates the session; a session that already exists keeps its own
    # value, and extra_conf overrides it like any default.
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.ui.enabled": "false",
}


def local_master_string() -> str:
    """``local[$SPARK_GRAFT_CPUS]``, plus task retries when
    ``SPARK_GRAFT_TASK_RETRIES`` is set: ``local[N,R]``.

    Local mode IGNORES ``spark.task.maxFailures`` — the local scheduler
    hard-codes maxFailures from the MASTER STRING (1 unless the
    ``local[N,R]`` form is used), so passing the conf via
    PYSPARK_SUBMIT_ARGS silently does nothing. Measured r11: a single
    wedged python worker (JVM and worker both asleep on the Arrow
    socket) killed 40 minutes into an 80M rung aborted the whole job
    with "failed 1 times". Multi-hour rung runs set
    SPARK_GRAFT_TASK_RETRIES=4; the default stays bare ``local[N]`` so
    tests keep fail-fast semantics. Cluster masters are unaffected —
    there ``spark.task.maxFailures`` (default 4) applies normally."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    retries = os.environ.get("SPARK_GRAFT_TASK_RETRIES", "").strip()
    return f"local[{cpus},{int(retries)}]" if retries else f"local[{cpus}]"


def get_spark(
    app_name: str = "data_lake_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally (see
    :func:`local_master_string` for the task-retry form); on a real
    cluster the caller passes ``None`` with a cluster master already set in
    the environment and we leave it alone.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or local_master_string())
    n_shuffle = shuffle_partitions if shuffle_partitions is not None else int(cpus)
    builder = builder.config("spark.sql.shuffle.partitions", str(n_shuffle))
    if master is None or master.startswith("local"):
        builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
