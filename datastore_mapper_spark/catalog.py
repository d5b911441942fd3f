"""Schema-on-read table catalog.

The reference's data model is schemaless Datastore entities loaded into
typed Go structs (Kind -> struct via datastore tags; SURVEY.md §1.1).
Our equivalent: parquet files loaded into typed DataFrames and
registered as temp views — explicit normalization instead of schema
inference where the physical type needs fixing.

The one real normalization: ``events.ts`` is ``timestamp[ns]`` parquet.
Depending on the Spark build/confs it reads as either a raw nanosecond
long (``nanosAsLong``) or natively as ``TIMESTAMP_NTZ`` (newer 4.x
behavior, where the legacy conf is a no-op).  :func:`with_ts_us` adapts
to whichever type actually arrives and derives the engine-facing
microsecond ``TIMESTAMP`` column ``ts_us`` — floor-truncation of the
sub-microsecond digits either way, matching the DuckDB oracle's
``ts::TIMESTAMP`` cast bit-for-bit under the UTC session timezone
(SURVEY.md §7.3-H1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from .session import configure

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

#: (session, sf_dir) -> {table: DataFrame}; DataFrames are lazy plans so
#: caching them costs nothing and saves per-query re-analysis when the
#: driver invokes ~60 queries against the same session + sf_dir.  Keyed
#: by the session, not its application id: ``newSession()`` shares the
#: id but has its own temp views, and a frame belongs to one session.
_cache: dict[tuple[SparkSession, str], dict[str, DataFrame]] = {}
#: which sf_dir's views are CURRENTLY registered, per session
_views_current: dict[SparkSession, str] = {}


def with_ts_us(df: DataFrame) -> DataFrame:
    """Add the engine-facing µs ``TIMESTAMP`` column ``ts_us`` to events.

    Type-adaptive (environment-drift guard): branches on how this Spark
    build actually read the ``timestamp[ns]`` parquet column.

    - ``LongType`` (legacy ``nanosAsLong`` path): integer-divide to µs —
      float division would lose sub-µs precision (longs > 2^53).
    - ``TIMESTAMP_NTZ`` (native nanos read, truncated to µs by Spark):
      cast to session-tz ``TIMESTAMP``.  Session tz is UTC, so the
      wall-clock interpretation matches the long path exactly.  We must
      NOT leave it NTZ: downstream ``unix_micros()`` / watermarks need
      ``TIMESTAMP``.

    Any other dtype fails loudly with the diagnosis instead of 201
    queries dying with the same opaque stack trace.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts_us", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, (TimestampNTZType, TimestampType)):
        return df.withColumn("ts_us", F.col("ts").cast("timestamp"))
    raise TypeError(
        f"events.ts read as unexpected type {dt}; expected a nanosecond "
        "LongType (spark.sql.legacy.parquet.nanosAsLong=true) or "
        "TIMESTAMP_NTZ (native nanos read). The Spark parquet reader's "
        "behavior for timestamp[ns] changed — extend "
        "datastore_mapper_spark.catalog.with_ts_us for this environment."
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all fixture tables from ``sf_dir``, normalized, views registered.

    ``events`` gains a ``ts_us`` TimestampType column (µs, UTC) next to
    the raw nanosecond long ``ts``.
    """
    configure(spark)
    key = (spark, os.path.abspath(sf_dir))
    if key in _cache:
        # temp views are registered GLOBALLY by table name: a later
        # load of a DIFFERENT sf_dir in the same session overwrote
        # them, so a cache hit must still re-point the views or every
        # spark.sql("... FROM orders") caller silently reads the
        # other scale factor (surfaced round 15 by a test mixing SFs
        # in the shared session)
        if _views_current.get(spark) != key[1]:
            for name, df in _cache[key].items():
                df.createOrReplaceTempView(name)
            _views_current[spark] = key[1]
        return _cache[key]

    tables: dict[str, DataFrame] = {}
    for name in TABLES:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events":
            df = with_ts_us(df)
        df.createOrReplaceTempView(name)
        tables[name] = df
    _cache[key] = tables
    _views_current[spark] = key[1]
    return tables


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_tables(spark, sf_dir)[name]
