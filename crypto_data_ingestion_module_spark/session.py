"""SparkSession construction and testdata loading.

The engine targets a large multi-executor cluster; locally it runs on
``local[$SPARK_GRAFT_CPUS]``.  All scale-sensitive knobs live here so a
cluster deployment only overrides this one module.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables the driver materializes at /root/testdata/sf*/ (TESTDATA.md).
TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Build-time configs (must be set before the JVM starts).
BUILD_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # local[N] has one JVM; give it room.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # r17 NOTE — preferSortMergeJoin=false was TRIED (guide §3.1/§9) and
    # REVERTED on measurement: an interleaved SHJ-vs-SMJ probe at sf0.1
    # read SMJ equal-or-faster on every join-heavy row (1.01–1.10×), and
    # at the seeded sf1 the SHJ state regressed ann_lsh_topk 13.4→19.1 s
    # with heavy variance (hash-build memory pressure where SMJ streams).
    # Spark's default (prefer sort-merge, AQE may still rewrite to SHJ
    # where safe) stands.  Env hook kept for cluster experiments.
    "spark.sql.join.preferSortMergeJoin": os.environ.get(
        "SPARK_GRAFT_PREFER_SMJ", "true"
    ),
    "spark.ui.enabled": "false",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # The generated-class cache defaults to 100 entries; a workload with
    # ~70 registered queries × several codegen stages each thrashes it,
    # so every re-run pays full janino recompilation (measured: simhash
    # fingerprints 2.1 s cold vs 0.4 s on a cache hit).  Static conf —
    # takes effect only when this builder creates the JVM.
    "spark.sql.codegen.cache.maxEntries": "4096",
}

#: Runtime-settable configs — safe to apply to a session we did not build
#: (e.g. the driver's).  Correctness-critical: the DuckDB oracle reads
#: parquet timestamps as naive-UTC, so the Spark session MUST be UTC.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Parquet TIMESTAMP(NANOS) (pandas/pyarrow default) is otherwise
    # unreadable by Spark; read as long and convert in load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(app_name: str = "crypto-spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or fetch) the session with the engine's default tuning."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in BUILD_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    configure(spark)
    return spark


@functools.cache
def _package_zip() -> str:
    """This package's sources as a zip, built once per process in a
    temp dir of its own that is removed at exit.  The dir is private
    to the process: under a name shared across processes, one process's
    exit would delete the zip another still serves to its executors."""
    import atexit
    import shutil
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    tmp = tempfile.mkdtemp(prefix="sgraft_pkg_")
    atexit.register(shutil.rmtree, tmp, True)
    zpath = os.path.join(tmp, f"{pkg_name}.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, pkg_dir)
                    zf.write(full, os.path.join(pkg_name, rel))
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Closures in mapInPandas/pandas_udf kernels reference module-level
    functions; workers unpickle them by importing the module, which only
    works if the package is on the *worker's* PYTHONPATH.  Shipping a zip
    (:func:`_package_zip`) via ``addPyFile`` covers any launch directory
    locally and is exactly what a real cluster deployment needs.
    """
    sc = spark.sparkContext
    if getattr(sc, "_cdim_pkg_shipped", False):
        return
    try:
        sc.addPyFile(_package_zip())
    except Exception:  # pragma: no cover - e.g. Connect sessions
        pass
    sc._cdim_pkg_shipped = True


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally-provided session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on a locked session
            pass
    _ship_package(spark)
    return spark


_NANO_TS_CACHE: dict[str, tuple[str, ...]] = {}


def _nano_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) (footer inspection,
    driver-side, cached).  Spark reads them as LongType under
    ``nanosAsLong``; we convert back to TimestampType at µs precision."""
    if path not in _NANO_TS_CACHE:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        _NANO_TS_CACHE[path] = tuple(
            f.name for f in schema if str(f.type).startswith("timestamp[ns")
        )
    return _NANO_TS_CACHE[path]


def _cast_ntz_to_timestamp(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to TIMESTAMP (session-UTC).

    Parquet ``timestamp[us]`` *without* a timezone (the driver's current
    testdata encoding — round 1 was ns, round 2 moved to us) is read by
    Spark 4 as TIMESTAMP_NTZ, which ``unix_millis`` and friends reject.
    With the session pinned to UTC the cast is value-preserving and
    matches the DuckDB oracle's naive-UTC read of the same file.
    """
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for col in ntz:
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Schema-on-read parquet scan of one driver table.

    Nanosecond-timestamp columns (pyarrow default) come back as long
    nanos under ``nanosAsLong``; convert to TimestampType here so every
    downstream operator sees real timestamps.  Microsecond NTZ columns
    are cast to TIMESTAMP (see _cast_ntz_to_timestamp).
    """
    configure(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for col in _nano_ts_columns(path):
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return _cast_ntz_to_timestamp(df)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def scan_time_range(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_col: str,
    lo_ms: int,
    hi_ms: int,
) -> DataFrame:
    """Time-range scan with guaranteed parquet pushdown.

    For TIMESTAMP(NANOS) columns the normal path filters on
    ``timestamp_micros(raw div 1000)`` — an expression parquet cannot
    push, so every row group is read.  Here the predicate is applied in
    the RAW domain (long nanos) before conversion, so it reaches
    ``PushedFilters`` and row groups outside the range are skipped —
    the difference between scanning a day and scanning 100 TB.
    """
    configure(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    nano_cols = _nano_ts_columns(path)
    if ts_col in nano_cols:
        df = df.filter(
            (F.col(ts_col) >= F.lit(lo_ms * 1_000_000))
            & (F.col(ts_col) < F.lit(hi_ms * 1_000_000))
        )
        for col in nano_cols:
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    else:
        from pyspark.sql.types import TimestampNTZType

        ntz_cols = {
            f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)
        }
        if ts_col in ntz_cols:
            # Filter in the RAW NTZ domain (plain column vs NTZ literal)
            # so the predicate reaches PushedFilters; the cast happens
            # after, exactly as in the nanos branch.  Session is UTC, so
            # epoch-ms -> naive-UTC literal is value-exact.
            import datetime as _dt

            lo = _dt.datetime.utcfromtimestamp(lo_ms / 1000.0).isoformat(sep=" ")
            hi = _dt.datetime.utcfromtimestamp(hi_ms / 1000.0).isoformat(sep=" ")
            df = df.filter(
                (F.col(ts_col) >= F.expr(f"TIMESTAMP_NTZ '{lo}'"))
                & (F.col(ts_col) < F.expr(f"TIMESTAMP_NTZ '{hi}'"))
            )
        for col in nano_cols:
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        df = _cast_ntz_to_timestamp(df)
        if ts_col not in ntz_cols:
            df = df.filter(
                (F.col(ts_col) >= F.timestamp_millis(F.lit(lo_ms)))
                & (F.col(ts_col) < F.timestamp_millis(F.lit(hi_ms)))
            )
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: Sequence[str] = TABLES
) -> None:
    """Expose the testdata tables as temp views so ``spark.sql`` is a
    first-class query surface over the same data every DataFrame query
    reads — including the nanosecond-timestamp handling of
    :func:`load_table` (a raw ``CREATE TEMP VIEW ... USING parquet``
    would read the events nano column as LONG).  After this, any ANSI
    query a DuckDB-oracle string expresses (modulo dialect functions)
    runs verbatim through Catalyst."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
