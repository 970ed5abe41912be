"""Runs every queries() entry against its oracle_sql() via DuckDB at
sf0.01 — a local replica of the driver's correctness gate."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry
from tests.conftest import SF_CORRECT, register_views

QUERY_NAMES = sorted(entry.queries().keys())


@pytest.fixture(scope="module")
def duck_correct():
    con = duckdb.connect()
    register_views(con, SF_CORRECT)
    return con


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck_correct, name):
    from tests.util import assert_same

    q = entry.queries()[name]
    sdf = q(spark, SF_CORRECT)
    oracle = entry.oracle_sql().get(name)
    if oracle is None:
        assert sdf.count() > 0  # rows-only check (non-SQL-expressible op)
        return
    ddf = duck_correct.execute(oracle).df()
    assert_same(sdf, ddf, name)


def test_oracles_emit_no_hugeint(duck_correct):
    """No oracle may return a HUGEINT column: DuckDB widens SUM over
    BIGINT to HUGEINT, Spark keeps BIGINT, and the driver's hash is
    dtype-exact — such an oracle can never match (cast it to BIGINT)."""
    bad = []
    for name, sql in sorted(entry.oracle_sql().items()):
        rel = duck_correct.sql(sql)
        bad += [(name, c) for c, t in zip(rel.columns, rel.types) if str(t) == "HUGEINT"]
    assert not bad, bad


def test_entry_smoke(spark):
    df = entry.entry(spark)
    assert df.count() > 0


def test_oracles_are_session_timezone_independent():
    """Every oracle must return identical values whatever the DuckDB
    session timezone — the driver's connection is not under our control.
    (Caught live: to_timestamp() coerces to TIMESTAMPTZ and epoch_ms
    shifted by -8h under Asia/Shanghai; fixed with make_timestamp.)"""
    import duckdb

    hostile = duckdb.connect()
    hostile.execute("SET TimeZone='Asia/Shanghai'")
    register_views(hostile, SF_CORRECT)
    utc = duckdb.connect()
    utc.execute("SET TimeZone='UTC'")
    register_views(utc, SF_CORRECT)
    # the four timestamp-heavy oracle families (others are ts-free)
    for name in (
        "cdc_apply_upsert",
        "turn_events",
        "sink_rows",
        "window_tumbling",
        "join_first_response",
        "cohort_exist",
        "trace_tool_chains",
    ):
        sql = entry.oracle_sql()[name]
        a = hostile.execute(sql).df()
        b = utc.execute(sql).df()
        cols = sorted(a.columns)
        a = a[cols].sort_values(cols).reset_index(drop=True).astype(str)
        b = b[cols].sort_values(cols).reset_index(drop=True).astype(str)
        assert a.shape == b.shape and (a.values == b.values).all(), name
