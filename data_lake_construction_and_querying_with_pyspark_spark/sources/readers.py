"""Lake sources — format-dispatched reads (SURVEY.md §2.1 S1-S4).

The reference reads CSV with header + ``,`` separator and NO schema
inference — every column lands as string (reference
``scripts/aws-hackathon-glue-data-lake-querying-pyspark.py:59-66``) —
and Parquet with footer types (``:67-71``); any other format is an error
path (``:72-77``). We reproduce those exact semantics with native
``spark.read`` (no DynamicFrame — it added nothing, SURVEY.md §1.1),
and extend the registry with JSON and ORC.

Scale notes: parquet scans get predicate pushdown + column pruning from
Catalyst for free; ``spark.sql.files.maxPartitionBytes`` (session.py)
controls scan parallelism at 100 TB. For CSV at scale, pass an explicit
all-string StructType (never ``inferSchema`` — that is a full extra pass
over 100 TB of text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv_allstring(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    columns: list[str] | None = None,
) -> DataFrame:
    """CSV scan with reference semantics: header row, no inference.

    If ``columns`` is given, build an explicit all-string schema (single
    pass at scale); otherwise let Spark take the header row as names
    (still all-string, matching the reference's ``withHeader`` read).
    """
    reader = spark.read.option("header", True).option("sep", sep)
    if columns is not None:
        schema = T.StructType([T.StructField(c, T.StringType(), True) for c in columns])
        reader = reader.schema(schema)
    return reader.csv(path)


def read_csv_with_corrupt_capture(
    spark: SparkSession,
    path: str,
    columns: list[str],
    sep: str = ",",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """All-string CSV scan that quarantines malformed rows instead of
    silently dropping or failing on them: PERMISSIVE mode parks the raw
    line of any row with the wrong field count in ``corrupt_col``
    (NULL for clean rows). The construction pipeline can then split
    clean/quarantine frames — at lake scale you write the quarantine
    partition out for triage rather than aborting a 100 TB ingest."""
    schema = T.StructType(
        [T.StructField(c, T.StringType(), True) for c in columns]
        + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    return (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(schema)
        .csv(path)
    )


def split_corrupt(df: DataFrame, corrupt_col: str = "_corrupt_record"):
    """(clean_df_without_marker, quarantine_df) from a corrupt-capture
    scan. Caching first is the documented Spark requirement: the
    corrupt column is only populated during parsing, and an uncached
    double-scan may race the filter against re-parsing."""
    from pyspark.sql import functions as F

    df = df.cache()
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = df.filter(F.col(corrupt_col).isNotNull())
    return clean, quarantine


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan — footer schema, pushdown-capable."""
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Events scan: parquet with INT64 TIMESTAMP(NANOS) ``ts``.

    Spark's parquet reader rejects nanosecond timestamps outright
    (PARQUET_TYPE_ILLEGAL); with ``spark.sql.legacy.parquet.nanosAsLong``
    the column lands as epoch-nanos long, which we convert to a proper
    timestamp. The conf is runtime-settable, so we set it here rather
    than relying on a session-builder default — the reader must be
    self-sufficient under ANY caller-provided SparkSession, not just
    ones built by :func:`..session.get_spark`. The driver's generator
    emits exact microsecond multiples, so the ns→µs division is
    lossless.
    """
    from pyspark.sql import functions as F

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # unknown conf on some future Spark: fall through to plain read
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        # Integer division: `/` on longs goes through double, and epoch
        # nanos (~1.7e18) exceed double's 53-bit mantissa → ±1 µs error.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Multimodal raw-asset scan: (path, modificationTime, length, content).

    ``binaryFile`` is the Spark-native way to bring image/audio/video
    bytes into a DataFrame as an opaque ``binary`` column (SURVEY.md §7
    Phase 3c).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


_READERS = {
    "csv": read_csv_allstring,
    "parquet": read_parquet,
    "json": read_json,
    "orc": read_orc,
}


def read_lake(spark: SparkSession, path: str, fmt: str, **kwargs) -> DataFrame:
    """Format-dispatched scan (reference S3 dispatch, SURVEY.md §2.1).

    Unsupported formats raise ValueError — the engine equivalent of the
    reference's SNS-notify + sys.exit error path
    (``scripts/...pyspark.py:72-77``).
    """
    try:
        reader = _READERS[fmt]
    except KeyError:
        raise ValueError(
            f"Unsupported file type: {fmt!r}; expected one of {sorted(_READERS)}"
        ) from None
    return reader(spark, path, **kwargs)


# (appId, sf_dir, name) -> analyzed DataFrame. This memoizes the PLAN
# OBJECT, never data: a DataFrame is an immutable logical plan + schema,
# so handing the same instance to every query builder is exactly what a
# catalog-backed `spark.table(name)` would do (schema known once, no
# per-query parquet-footer read). Measured r12: each `spark.read.parquet`
# costs ~20-50 ms of driver time (py4j + footer + analysis) and the
# 23-query bench constructs ~60 table scans per pass — ~2 s of pure
# plan-construction overhead inside the timed region (guide §7.3
# "planning time itself can become the bottleneck"). Every action on the
# returned frame still scans parquet; nothing about RESULTS is cached.
# Keyed on applicationId so a restarted session can't resurrect stale
# JVM references.
_TABLE_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver test table (events gets its ns-timestamp fix).

    The analyzed plan is memoized per (session, sf_dir, table) — see
    ``_TABLE_PLAN_CACHE``; the parquet data is re-scanned by every
    action as always."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_PLAN_CACHE.get(key)
    if df is None:
        path = f"{sf_dir}/{name}.parquet"
        df = read_events(spark, path) if name == "events" else spark.read.parquet(path)
        _TABLE_PLAN_CACHE[key] = df
    return df


def fan_out_small_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition ``df`` by ``keys`` to ``defaultParallelism``
    when the files behind it cannot fill every core (optimization
    guide §2.5 "input skew: one huge unsplittable file → repartition
    immediately after the read"), so the CPU-heavy per-row work that
    follows (tokenization, fold dot products, decimal casts) runs on
    every core instead of one task. Parquet row groups are the minimum
    scan split: a 1-row-group file is unsplittable no matter what
    ``maxPartitionBytes`` says.

    The rule, read from Spark's own file index: fan out when the frame
    reads fewer files than ``defaultParallelism`` AND fewer bytes than
    ``defaultParallelism × spark.sql.files.maxPartitionBytes`` (the
    session's parsed value, so ``'128MB'`` means 128 MiB). Either
    condition alone gives the scan at least one split per core, so at
    lake scale this is a NO-OP: no added exchange, the 100 TB plan and
    its scan-side pushdown untouched. The files are only stat'ed when
    the count is already below parallelism. Unions and projections of
    a scan are judged by the files they read; a frame with no
    file-backed leaf (``createDataFrame``, ``range``) is returned
    unchanged.

    Hash (not round-robin) partitioning on a stable key: keyless
    ``repartition(n)`` pays a local sort of its input
    (``sortBeforeRepartition``, guide §2.5) and that sort lands in the
    single scan task this helper exists to relieve; hashing a stable
    high-cardinality key is deterministic, sort-free, and retry-safe.
    Values are unaffected: every registered operator is
    partitioning-independent per the registry's determinism contract."""
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if n_files == 0 or n_files >= parallelism:
        return df
    split_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if input_bytes(df) >= parallelism * split_bytes:
        return df
    from pyspark.sql import functions as F

    return df.repartition(parallelism, *[F.col(k) for k in keys])


def load_star_schema(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver test table from ``sf_dir`` as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each test table as a temp view for spark.sql querying."""
    for name, df in load_star_schema(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def input_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of the files backing a scan — the cheap
    (metadata-only) size signal operators use to derive shuffle
    parallelism for exchanges whose in-memory width AQE cannot see.
    AQE's partition coalescing targets COMPRESSED shuffle bytes; an
    exploded posting list compresses ~10× (repeated n-gram strings),
    so advisory-size coalescing can merge its reducers down to a
    partition count whose uncompressed sort spills — the r3 1M-rung
    pathology. Deriving the reducer count from source bytes up front
    keeps rows-per-reducer bounded at any corpus size with no manual
    knob (see ``dedup.span_shuffle_partitions``)."""
    spark = df.sparkSession
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in df.inputFiles():
        p = jvm.org.apache.hadoop.fs.Path(f)
        fs = p.getFileSystem(conf)
        total += fs.getFileStatus(p).getLen()
    return total
