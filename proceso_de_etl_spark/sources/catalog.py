"""Catalog over the synthetic testdata star schema.

Tables live as one parquet file per table under an sf-dir
(``/root/testdata/sf0.01`` etc.). ``load_table`` returns a lazily
planned DataFrame — Catalyst prunes columns and pushes filters into
the parquet scan, so callers never pre-materialize.

Schema cache: a bare ``spark.read.parquet(path)`` runs a one-task
schema-inference job before the DataFrame exists, so every plan paid
one Spark job per table it loads. ``load_table`` infers a path's
schema once and reads it again with ``spark.read.schema(cached)``,
which plans without a job. The cache is keyed by path and holds one
``StructType`` per path, stamped with the session's application id,
the timestamp confs that shape the inferred schema, and the path's
Hadoop ``FileStatus`` modification time and length: a rewritten file
or directory, a new session or a toggled conf re-infers. Only the
schema is cached, never the DataFrame, so every call still returns a
fresh relation with new attribute ids (self-joins rely on that).
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

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

# confs that change what schema inference returns for the same file
_SCHEMA_CONFS = ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.inferTimestampNTZ.enabled")

# path -> (stamp, inferred schema); see the module docstring
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _ensure_session_confs(spark: SparkSession) -> None:
    """Defensive: the engine's queries may be called with a session
    the HOST built (e.g. the graft driver), which won't carry our
    factory configs. Two are load-bearing for correctness and are
    runtime-settable, so pin them here:
    - nanosAsLong: events.parquet generations that store
      TIMESTAMP(NANOS) throw PARQUET_TYPE_ILLEGAL without it;
    - inferTimestampNTZ off: generations that store naive
      TIMESTAMP(MICROS) must read as a UTC instant, not NTZ, so
      instant functions (unix_micros, window) resolve;
    - UTC session timezone: timestamp values must agree with
      UTC-naive ANSI engines (the DuckDB oracle)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # conf locked down — proceed with whatever the host set


def _schema_stamp(spark: SparkSession, path: str) -> tuple | None:
    """What a cached schema of ``path`` is valid for: application id,
    schema confs, modification time and length. None when the path is
    missing, which bypasses the cache."""
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        status = jpath.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(jpath)
    except Py4JJavaError:  # FileNotFoundException, or a malformed path
        return None
    return (
        spark.sparkContext.applicationId,
        tuple(spark.conf.get(k) for k in _SCHEMA_CONFS),
        status.getModificationTime(),
        status.getLen(),
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    stamp = _schema_stamp(spark, path)
    if stamp is None:
        # missing path: the plain read raises Spark's AnalysisException
        return spark.read.parquet(path)
    cached = _SCHEMAS.get(path)
    if cached is not None and cached[0] == stamp:
        return spark.read.schema(cached[1]).parquet(path)
    # the stamp predates the inference, so a concurrent rewrite can
    # only store a stale stamp (a later miss), never a stale schema
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _ensure_session_confs(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # ts on disk varies by testdata generation: TIMESTAMP(NANOS)
        # (reads as epoch-nanos long under nanosAsLong) or naive
        # TIMESTAMP(MICROS) (reads as NTZ if a locked-down host
        # session kept NTZ inference on). Normalize both to a
        # Spark-native UTC instant; the naive values are UTC by the
        # generator's convention, so the NTZ→instant cast under the
        # pinned UTC session timezone is value-preserving.
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_catalog(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so plans can be written in SQL."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
