"""Typed catalog over the driver's parquet fixture tables.

Replaces the reference's double type-inference (pandas from JSON, then
SQLAlchemy ``to_sql`` DDL inference — ``reference_data_etl.py:58,67``) with
fixed schemas and a single, explicit epoch→timestamp conversion at load time
(the reference converts per-record in Python, ``aggregates_etl.py:25-36,139``).

Fixed schemas: :func:`read_parquet` infers a table file's schema once per
file identity (absolute path plus ``st_mtime_ns``/``st_size``/``st_ino``)
and hands it to every later read. Inference is a one-task Spark job that
reads a footer, about 95 ms wall against 12 ms for a read with a known
schema; a rewritten file has a new identity and is inferred again. Only
the schema is kept: every read still lists the files (so appended files
are seen) and returns a fresh relation with fresh attribute ids.

Timestamp handling (driver fixture quirks):

- ``events.ts`` has shipped in two encodings across driver generations:
  TIMESTAMP(NANOS, isAdjustedToUTC=false) — which Spark's vectorized reader
  only accepts under ``spark.sql.legacy.parquet.nanosAsLong=true``, surfacing
  as epoch-nanos bigint — and plain TIMESTAMP(MICROS). The loader normalizes
  both to the same canonical pair: ``ts`` TIMESTAMP_NTZ at microsecond
  precision plus ``ts_ns`` epoch-nanos bigint (a total-order tiebreak for
  window/asof operators). Integer arithmetic throughout (``DIV`` /
  ``timestampdiff``) — floating-point division would lose precision above
  2^53 ns.
- ``orders.o_orderdate`` / ``lineitem.l_shipdate`` are TIMESTAMP(MILLIS,
  isAdjustedToUTC=false) and read natively as TIMESTAMP_NTZ, which matches
  DuckDB's naive-timestamp view of the same files.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from polygon_algotrading_env_spark.session import ensure_runtime_confs

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

# TIMESTAMP_NTZ epoch origin; adding an exact microsecond count to it is
# timezone-independent (unlike timestamp_micros(), whose display binds to the
# session zone).
_NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _file_key(path: str) -> tuple:
    """Identity of a table file or directory: its absolute path and, when
    it exists, ``(st_mtime_ns, st_size, st_ino)``. A file rewritten at the
    same path gets a new key."""
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
    except OSError:
        return (path, None)
    return (path, st.st_mtime_ns, st.st_size, st.st_ino)


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table from parquet FOOTERS — a
    driver-side metadata read (no Spark job, no data scan), cached per
    file identity (:func:`_file_key`). This is the size signal the
    adaptive zoning gate (operators/zonedroll.zoning_mode) reads: on a
    real lake the same number comes from table statistics / manifest
    metadata."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _file_key(path)
    cached = _TABLE_ROWS_CACHE.get(key)
    if cached is not None:
        return cached
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        total = pq.ParquetFile(path).metadata.num_rows
    else:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
    _TABLE_ROWS_CACHE[key] = total
    return total


_TABLE_ROWS_CACHE: dict[tuple, int] = {}
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per file
    identity (:func:`_file_key`); later reads pass it explicitly and start
    no Spark job."""
    key = _file_key(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key[1] is not None:
        _SCHEMA_CACHE[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with engine-canonical types."""
    ensure_runtime_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) surfaced as epoch-nanos under nanosAsLong.
            df = df.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts",
                F.expr(
                    f"timestampadd(MICROSECOND, ts_ns DIV 1000, {_NTZ_EPOCH})"
                ),
            )
        else:
            # TIMESTAMP(MICROS) reads natively; derive the exact-nanos
            # tiebreak column from it (sub-microsecond digits are zero).
            df = df.withColumn(
                "ts_ns",
                F.expr(f"timestampdiff(MICROSECOND, {_NTZ_EPOCH}, ts)")
                * F.lit(1000),
            )
        df = df.select(
            "event_id", "ts", "user_id", "event_type", "value", "props", "ts_ns"
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql`` use."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


#: Schema contracts for every fixture table (operators/profile.py):
#: the required column→type pairs a healthy lake exposes after
#: load_table normalization. ``validate_catalog`` asserts all of them
#: in one call — the pre-flight check a pipeline runs before trusting
#: a new driver fixture generation or a migrated lake.
CONTRACTS: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint", "c_name": "string", "c_nationkey": "int",
        "c_acctbal": "double", "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint", "s_name": "string", "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint", "p_name": "string", "p_brand": "string",
        "p_type": "string", "p_size": "int", "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint", "o_custkey": "bigint",
        "o_orderstatus": "string", "o_totalprice": "double",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint", "l_partkey": "bigint", "l_suppkey": "bigint",
        "l_linenumber": "int", "l_quantity": "double",
        "l_extendedprice": "double", "l_discount": "double",
        "l_tax": "double", "l_returnflag": "string",
        "l_linestatus": "string",
    },
    "events": {
        "event_id": "bigint", "user_id": "bigint", "event_type": "string",
        "value": "double", "props": "string", "ts_ns": "bigint",
    },
    "documents": {
        "doc_id": "bigint", "text": "string", "lang": "string",
        "source": "string", "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint", "embedding": "array<float>", "label": "int",
    },
}


def validate_catalog(spark: SparkSession, sf_dir: str) -> None:
    """Assert every fixture table satisfies its schema contract (analysis
    time only — no scans). Raises SchemaContractError naming every
    violating table and column at once. Timestamp columns are excluded
    from the contracts because load_table normalizes two driver
    encodings (MICROS → timestamp_ntz vs NANOS → derived) — their
    handling is pinned by tests/test_catalog.py instead."""
    from polygon_algotrading_env_spark.operators.profile import (
        SchemaContractError,
        assert_schema_contract,
    )

    problems = []
    for name, contract in CONTRACTS.items():
        try:
            assert_schema_contract(load_table(spark, sf_dir, name), contract)
        except SchemaContractError as e:
            problems.append(f"{name}: {e}")
    if problems:
        raise SchemaContractError("; ".join(problems))
