"""SparkSession factory with scale-appropriate defaults.

Defaults target the driver's local[32] test rig but are chosen to be the
same knobs you would set on a 1000-executor cluster: AQE on (runtime
coalescing + skew-join splitting), Arrow transfer on for the pandas-UDF
paths, and shuffle partitions sized to the parallelism rather than the
Spark default of 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# the directory holding this package, put on the Python workers' path
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)


def get_spark(
    app_name: str = "lanterndb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or return the active) local session with the defaults in
    the module docstring; ``extra_conf`` entries override them.

    Python workers fork from :mod:`lanterndb_spark.pydaemon` instead of
    ``pyspark.daemon``. PySpark's worker calls
    ``importlib.invalidate_caches()`` on every task, and on CPython 3.11
    that re-reads the central directory of every cached zip archive on
    the path (``pyspark.zip`` a dozen times, the Spark core jar twice):
    130-330 ms per task, more than an identity ``mapInPandas`` over 200
    rows costs in total. The daemon skips re-reads of unchanged
    archives. It is started as ``python -m lanterndb_spark.pydaemon``, so
    the workers must be able to import this package, as the library's
    UDFs, pickled by reference, need anyway: ``spark.executorEnv.
    PYTHONPATH`` holds the directory this package sits in, whatever the
    driver's working directory (a caller overriding it must keep the
    package importable). Pass ``extra_conf={"spark.python.daemon.
    module": "pyspark.daemon"}`` to get the stock daemon back."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus if cpus else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # historical testdata stored TIMESTAMP(NANOS) (no Spark type; read
        # as long). Current testdata is TIMESTAMP(MICROS) no-tz, which this
        # flag does not affect — kept so either vintage loads.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # one BLAS thread per python worker: local[32] already runs 32
        # workers — nested OpenBLAS threads oversubscribe the cores and
        # thrash caches during numpy-heavy stages (hnsw build, k-means)
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        # workers fork from a daemon that stops the per-task zip
        # directory re-reads (see pydaemon.py and the docstring); the
        # daemon, like the library's by-reference UDFs, imports this
        # package in the workers whatever the driver's working directory
        .config("spark.python.daemon.module", "lanterndb_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ts_parquet_type(path: str, col: str = "ts"):
    """Inspect a parquet file/directory schema for ``col``'s physical type:
    returns ``(unit, tz)`` where unit is a timestamp unit ("s"/"ms"/"us"/
    "ns") or "int64" for a genuine integer column. Both the batch loader
    and the streaming source use THIS single sniff, so an int64-encoded
    ``ts`` gets the same interpretation (epoch micros) on both paths —
    guessing from the Spark-side type alone cannot distinguish
    nanos-annotated-timestamp-as-long from a true bigint."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    sample = path
    if not path.endswith(".parquet"):
        hits = sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if not hits:
            raise FileNotFoundError(f"no parquet files under {path}")
        sample = hits[0]
    t = pq.read_schema(sample).field(col).type
    if pa.types.is_timestamp(t):
        return t.unit, t.tz
    return "int64", None


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver's parquet tables as a dict of DataFrames and register
    them as temp views (so ``spark.sql`` works over the same names DuckDB
    uses in the oracle)."""
    names = names or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    # set here too (not only in get_spark) so a caller-provided session —
    # e.g. the driver's — can read a legacy nanos-timestamp events table,
    # and so the NTZ->LTZ normalization below interprets wall clocks in
    # UTC exactly like DuckDB's naive timestamps (a non-UTC caller session
    # would otherwise shift every epoch output)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            ts_unit = (
                ts_parquet_type(path)[0]
                if any(f.name == "ts" for f in df.schema.fields)
                else None
            )
            df = normalize_timestamps(df, ts_unit=ts_unit)
            df.createOrReplaceTempView(n)
            out[n] = df
    return out


def normalize_timestamps(df, ts_unit: str | None = None):
    """Normalize every timestamp-ish column to TIMESTAMP (LTZ).

    The driver's parquet has stored ``ts`` two ways across rounds:
    TIMESTAMP(NANOS) (read as bigint under ``nanosAsLong``) and
    TIMESTAMP(MICROS) no-tz (read as TIMESTAMP_NTZ). Downstream operators
    do epoch arithmetic via ``cast(double)``, which NTZ forbids — so cast
    NTZ to LTZ here. Session tz is UTC, so the wall-clock values match
    DuckDB's naive timestamps exactly; and NTZ->LTZ->toPandas is a
    wall-clock identity under ANY session tz, so oracle hashes are stable.

    ``ts_unit``: the parquet-level type of a bigint-read ``ts`` column as
    returned by :func:`ts_parquet_type` — "ns" for nanos-annotated
    timestamps (divide to micros), "int64" for a genuine integer column
    (epoch micros by convention, matching streaming.events.stream_events).
    When None (ad-hoc frame, no file to sniff) a bigint ``ts`` is assumed
    nanos — the only bigint encoding the driver testdata has ever used.
    """
    from pyspark.sql.types import TimestampNTZType

    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            if ts_unit == "int64":
                # a true integer column: epoch micros by convention (the
                # same convention stream_events applies)
                df = df.withColumn("ts", F.timestamp_micros("ts"))
            else:
                # legacy nanos-as-long: integer div — float division would
                # lose precision at ~1e18 ns; truncate to us like DuckDB
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def ensure_ltz(df, *cols):
    """Cast the named columns to TIMESTAMP (LTZ) when they are NTZ.

    Entry-point guard for operators that do epoch arithmetic on
    user-supplied frames that may not have gone through
    :func:`normalize_timestamps`."""
    from pyspark.sql.types import TimestampNTZType

    for c in cols:
        if isinstance(df.schema[c].dataType, TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
