"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; on a real cluster
the same settings apply minus the master/driver-memory overrides. AQE is on
so skewed shuffle partitions get split and tiny ones coalesced at runtime —
this is the 100 TB posture: we declare plans, AQE re-plans with real stats.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# The directory holding the ``milvus_spark`` package, put on the Python
# workers' path so they import the engine whatever their cwd.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def default_driver_memory() -> str:
    """Half the host's memory, at most 48g. A heap allowed past physical
    memory keeps growing under a fast allocation rate until the kernel's
    OOM killer takes the JVM (seen on a 16 GB host with 48g: 15.7 GB
    resident, mid-suite)."""
    gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 30
    return f"{max(1, min(48, gib // 2))}g"


def get_spark(app: str = "milvus-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """The engine's session.

    Python workers run under the engine's own daemon,
    ``milvus_spark.pyworker``, which they import through ``PACKAGE_ROOT``
    on their ``PYTHONPATH`` whatever their cwd. Stock pyspark workers
    re-parse pyspark.zip's central directory at the start of every task
    (``importlib.invalidate_caches`` reaches every cached zipimporter).
    That cost about 200 ms of worker CPU per task on Python 3.11 (no-op
    ``mapInPandas``, 4-core ``local[4]``) and was most of a short serving
    request's CPU. The daemon re-reads an archive only when its (mtime,
    size, inode) stamp changed, so ``addPyFile`` semantics are kept: a
    new zip gets a new importer, and a zip replaced in place is read
    again.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # preferSortMergeJoin=false was BUILT, MEASURED and REJECTED in r12:
        # no bench-row plan contains a join the flag would flip (verified by
        # capturing all 38 plans under both settings — byte-identical after
        # id normalization; the self-joins fail Spark's muchSmaller guard,
        # everything else already broadcasts), and the interleaved A/B that
        # initially read 1.24-1.49x "wins" inverted when the variant order
        # was reversed — paired back-to-back alternation gives the SECOND
        # pass a systematic advantage. See OPTIMIZATION_r12.md.
        # events.parquet stores TIMESTAMP(NANOS); Spark reads them as long
        # (legacy flag) and load_table normalizes back to TimestampType.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the engine's own Python-worker daemon: see the docstring
        .config("spark.python.daemon.module", "milvus_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf: str, name: str):
    """Read one driver-generated table. Plain parquet scan → full pushdown.

    ``events.ts`` is TIMESTAMP(NANOS) in the file; with the nanosAsLong
    legacy flag Spark surfaces it as a long of epoch-nanos, which we convert
    to a microsecond TimestampType (matching DuckDB's read truncated to µs).
    """
    from pyspark.sql import functions as F

    # Self-sufficient on ANY session (e.g. a harness-created one): the flag is
    # runtime-settable, so set it here rather than relying on builder config.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf, f"{name}.parquet"))
    if name == "events":
        ts_dt = dict(df.dtypes).get("ts")
        if ts_dt == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_dt == "timestamp_ntz":
            # NANOS read as NTZ micros: same wall clock as DuckDB's read;
            # cast through the session tz so event-time ops (watermarks,
            # windows, unix_micros) get a plain TIMESTAMP.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf: str) -> dict:
    return {t: load_table(spark, sf, t) for t in TABLES}


@contextmanager
def state_sized_shuffle(spark: SparkSession, n: int = 8):
    """Pin ``spark.sql.shuffle.partitions`` for a stateful-streaming query.

    A streaming aggregation materializes one state-store instance per
    shuffle partition PER MICRO-BATCH (checkpoint delta + snapshot files
    each); sizing that to the batch scan-volume heuristic multiplies pure
    fixed overhead. State partitioning should track STATE cardinality
    (number of live keys/windows), not input bytes — the reference
    similarly sizes its streaming-node flush workers by segment count, not
    corpus size. The streaming query pins the value into its checkpoint at
    start; the session setting is restored on exit so batch plans keep the
    data-sized default."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
