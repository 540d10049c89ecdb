from __future__ import annotations

import pyspark.sql.functions as F

from polygon_algotrading_env_spark.catalog import TABLES, load_all, load_table


def test_all_tables_load(spark, sf_dir):
    dfs = load_all(spark, sf_dir)
    assert set(dfs) == set(TABLES)
    for name, df in dfs.items():
        assert df.limit(1).count() == 1, name


def test_events_ts_conversion_exact(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    assert dict(ev.dtypes)["ts_ns"] == "bigint"
    # ts must equal ts_ns truncated to microseconds, exactly (session tz is
    # pinned to UTC, so the NTZ→TIMESTAMP cast is an identity on the epoch).
    n_bad = ev.filter(
        F.unix_micros(F.col("ts").cast("timestamp")) != F.expr("ts_ns DIV 1000")
    ).count()
    assert n_bad == 0


def test_orders_shipdate_is_ntz(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    assert dict(o.dtypes)["o_orderdate"] == "timestamp_ntz"


def test_events_nanos_encoding_branch(spark, tmp_path):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) in some
    generations and TIMESTAMP(MICROS) in others; the live fixture is
    currently MICROS, so pin the NANOS branch with a synthetic file:
    load_table must surface exact epoch-nanos (sub-microsecond digits
    preserved in ts_ns) and a micros-truncated ts, via the self-applied
    nanosAsLong conf."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns_vals = [1_700_000_000_123_456_789, 1_700_000_001_000_000_001]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns_vals, pa.timestamp("ns")),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    ev = load_table(spark, str(tmp_path), "events")
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    assert dict(ev.dtypes)["ts_ns"] == "bigint"
    rows = {r["event_id"]: r for r in ev.collect()}
    assert rows[1]["ts_ns"] == ns_vals[0]  # nanos exact, incl. ...789
    assert rows[2]["ts_ns"] == ns_vals[1]
    got_us = {
        r["event_id"]: r["us"]
        for r in ev.select(
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        ).collect()
    }
    assert got_us[1] == ns_vals[0] // 1000  # truncation, not rounding
    assert got_us[2] == ns_vals[1] // 1000


def test_validate_catalog_all_tables(spark, sf_dir):
    from polygon_algotrading_env_spark.catalog import validate_catalog

    validate_catalog(spark, sf_dir)  # must not raise on the fixtures


def test_validate_catalog_reports_broken_table(spark, sf_dir, monkeypatch):
    import pytest as _pytest

    from polygon_algotrading_env_spark import catalog as cat
    from polygon_algotrading_env_spark.operators.profile import (
        SchemaContractError,
    )

    real = cat.load_table

    def broken(spark_, sf, name):
        df = real(spark_, sf, name)
        return df.drop("r_name") if name == "region" else df

    monkeypatch.setattr(cat, "load_table", broken)
    with _pytest.raises(SchemaContractError, match="region.*r_name"):
        cat.validate_catalog(spark, sf_dir)


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under Spark job group ``group``; return (result, job
    count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan_text(df, phase):
    import re

    plan = getattr(df._jdf.queryExecution(), phase)().toString()
    return re.sub(r"#\d+L?", "#", plan)


def test_warm_load_table_starts_no_job_and_keeps_schema_and_plan(
    spark, sf_dir, monkeypatch
):
    """A table's schema is inferred once: a warm ``load_table`` starts no
    Spark job, and its schema and plans equal those of an inferring
    read."""
    from polygon_algotrading_env_spark import catalog as cat

    monkeypatch.setattr(cat, "_SCHEMA_CACHE", {})
    inferred, cold_jobs = _jobs_in_group(
        spark,
        "test-load-cold",
        lambda: {t: load_table(spark, sf_dir, t) for t in TABLES},
    )
    assert cold_jobs >= 1
    warm, warm_jobs = _jobs_in_group(
        spark,
        "test-load-warm",
        lambda: {t: load_table(spark, sf_dir, t) for t in TABLES},
    )
    assert warm_jobs == 0
    for t in TABLES:
        assert warm[t].schema == inferred[t].schema, t
        for phase in ("analyzed", "optimizedPlan"):
            assert _plan_text(warm[t], phase) == _plan_text(
                inferred[t], phase
            ), (t, phase)


def test_rewritten_table_is_inferred_and_counted_again(spark, tmp_path):
    """A parquet file rewritten at the same path is a new file identity:
    its schema is inferred again (the extra column shows) and its
    footer row count is read again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from polygon_algotrading_env_spark.catalog import table_rows

    path = str(tmp_path / "region.parquet")
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int32())}), path
    )
    first = load_table(spark, str(tmp_path), "region")
    assert first.columns == ["r_regionkey"]
    assert table_rows(str(tmp_path), "region") == 2
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array([0, 1, 2], pa.int32()),
                "r_name": pa.array(["a", "b", "c"]),
            }
        ),
        path,
    )
    again = load_table(spark, str(tmp_path), "region")
    assert again.columns == ["r_regionkey", "r_name"]
    assert again.count() == 3
    assert table_rows(str(tmp_path), "region") == 3
