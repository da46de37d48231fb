"""Table registry over the driver's parquet test data.

Plays the role of the reference's schema introspection surface
(`fetch_tables` / `fetch_schema`, clickhouse-arrow/src/arrow/schema.rs)
for the local parquet catalog: every known table registers as a temp
view so both the DataFrame API and `spark.sql` see the same catalog.

Scans stay declarative (`spark.read.parquet`) so Catalyst gets predicate
pushdown, column pruning and partition pruning for free.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet timestamp[ns] — Spark reads them as long
    (spark.sql.legacy.parquet.nanosAsLong); we restore timestamp semantics
    at µs precision, the documented DateTime64(9)->Spark loss
    (SURVEY §1.3)."""
    import pyarrow as pa

    if os.path.isdir(path):
        # Spark-written table: a directory of part files sharing one
        # schema — read any part's footer
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        if not parts:
            return []
        path = os.path.join(path, parts[0])
    schema = pq.read_schema(path)
    # Only physically-INT64 ns columns need the nanosAsLong DIV-1000
    # restore. Legacy INT96 timestamps ALSO surface as timestamp[ns] in
    # the arrow schema, but Spark reads those as TIMESTAMP directly —
    # treating them as long would DIV a timestamp and fail analysis.
    leaves = pq.ParquetFile(path).schema
    int64_leaves = {
        leaves.column(i).name
        for i in range(len(leaves))
        if leaves.column(i).physical_type == "INT64"
    }
    return [
        name
        for name, typ in zip(schema.names, schema.types)
        if typ == pa.timestamp("ns") and name in int64_leaves
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one table, with ns-timestamp normalization."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Parquet timestamp[us] without isAdjustedToUTC otherwise infers as
    # TIMESTAMP_NTZ (Spark 4 default), which breaks epoch casts and
    # streaming watermarks downstream; reading as TIMESTAMP keeps the
    # engine's DateTime semantics (session tz UTC) AND parquet filter
    # pushdown on the column (a post-read cast would block it).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(path)
    for col in _nanos_ts_columns(path):
        # integer division keeps full precision (ns value ~1.7e18 exceeds
        # double's 2^53 mantissa — never divide as float here)
        df = df.withColumn(col, F.expr(f"timestamp_micros(`{col}` DIV 1000)"))
    return df


#: session conf key holding the sf_dir whose tables are registered:
#: every corpus query build calls register_tables, and re-reading 10
#: parquet footers + re-creating 10 temp views per QUERY was the
#: dominant per-query driver overhead (~0.7s/query at sf0.1 — more than
#: executing most queries). Temp views belong to one SparkSession, and
#: so does its runtime conf: registration is idempotent per
#: (session, sf_dir) and safe to skip, and a newSession() registers
#: its own.
_REGISTERED_CONF = "spark.clickhouse_arrow_spark._registered_sf_dir"


def register_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TABLES,
    force: bool = False,
) -> dict[str, DataFrame]:
    """Register every table under `sf_dir` as a temp view; returns the
    DataFrames keyed by name. Missing files are skipped (some sf dirs may
    lack optional tables).

    Idempotent per (session, sf_dir): repeat calls return the existing
    views without touching the filesystem. `force=True` re-registers
    (e.g. after `use_bucketed_tables` repointed the views and the
    caller wants the plain parquet layout back)."""
    if (
        not force
        and tables == TABLES
        and spark.conf.get(_REGISTERED_CONF, "") == sf_dir
    ):
        return {
            name: spark.table(name)
            for name in tables
            if os.path.exists(os.path.join(sf_dir, f"{name}.parquet"))
        }
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    if tables == TABLES:
        spark.conf.set(_REGISTERED_CONF, sf_dir)
    return out
