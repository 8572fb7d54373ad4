"""Mirror of the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() twin on DuckDB over the same parquet tables,
compare row count, column names, and order-insensitive values. Catching a
mismatch here at sf0.001 is strictly cheaper than at the driver's sf0.01."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod

# One normalization for all three driver-gate mirrors (this suite,
# tools/oracle_check.py, scripts/dress_rehearsal.py): the round-6 review
# found two of them had already drifted, and this file carried a third
# hand-maintained copy — now imported from the shared core.
from tools.compare_core import register_views, rowset as _rowset


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    register_views(con, sf_dir)
    yield con
    con.close()


ORACLE_NAMES = sorted(entrymod.oracle_sql().keys())
ROWS_ONLY_NAMES = sorted(set(entrymod.queries()) - set(ORACLE_NAMES))


def test_every_query_has_callable():
    qs = entrymod.queries()
    for name in entrymod.oracle_sql():
        assert name in qs


def test_registry_names_are_identifiers():
    """Guard against a mis-registration class found in round 6: dropping
    the name argument from a @query decorator silently makes the SQL
    string the registry key, which demotes the query to rows-only (the
    oracle key no longer matches) without failing anything. Every
    registry key must be a plain identifier, and — since every current
    query is SQL-expressible — every key must carry an oracle; a future
    genuinely-non-SQL op must be added to ROWS_ONLY_ALLOWED here."""
    ROWS_ONLY_ALLOWED: set[str] = set()
    qs = entrymod.queries()
    for name in qs:
        assert name.isidentifier(), f"bad registry key: {name!r}"
    missing = set(qs) - set(entrymod.oracle_sql()) - ROWS_ONLY_ALLOWED
    assert not missing, f"queries without an oracle: {sorted(missing)}"


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_query_runs_deterministically(spark, sf_dir, name):
    """Queries without a SQL oracle (probabilistic/bit-twiddling ops) still
    must run, produce a stable schema, and be rerun-deterministic."""
    fn = entrymod.queries()[name]
    df1 = fn(spark, sf_dir)
    rows1 = sorted(map(str, df1.collect()))
    df2 = fn(spark, sf_dir)
    rows2 = sorted(map(str, df2.collect()))
    assert df1.schema == df2.schema
    assert rows1 == rows2
    assert len(rows1) >= 0


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    qdf = entrymod.queries()[name](spark, sf_dir)
    spark_cols = list(qdf.columns)
    spark_rows = [tuple(r) for r in qdf.collect()]

    res = duck.sql(entrymod.oracle_sql()[name])
    duck_cols = list(res.columns)
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s, d = _rowset(spark_cols, spark_rows), _rowset(duck_cols, duck_rows)
    mism = [i for i, (a, b) in enumerate(zip(s, d)) if a != b][:5]
    assert s == d, f"{name}: first value mismatches at {[(i, s[i], d[i]) for i in mism]}"

