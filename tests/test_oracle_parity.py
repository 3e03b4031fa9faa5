"""Every registered query must match its DuckDB oracle at sf0.001.

This is the full sweep, part of the default test run: every query in
the registry is compared with its oracle on every run
(``tools/check_parity.py`` runs the same comparison at other scales)."""

from __future__ import annotations

import pytest

from wiki_data_pipeline_spark.plans.registry import all_oracles, all_queries
from wiki_data_pipeline_spark.testing import compare_query

_QUERIES = all_queries()
_ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    res = compare_query(spark, name, sf_dir)
    assert res.ok, f"{name}: {res.details}"


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only_query_runs(spark, sf_dir, name):
    df = _QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_oracle_coverage_total():
    """Oracle-discipline meta-test: EVERY registered query has a
    DuckDB oracle — the rows-only set is empty, so every row the
    driver samples can read green. (r12: the one historical
    exception, sketch_approx_distinct, became a library-only surface;
    its ε-bound companion sketch_approx_distinct_check is the
    hash-checked row.) A new query landing without an oracle silently
    downgrades its driver check to rows-only; this test makes that a
    conscious, visible decision."""
    assert set(_QUERIES) - set(_ORACLES) == set()


def test_entry_contract(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(mod.oracle_sql()) <= set(mod.queries())
    # the export is the registry itself, in registration order
    assert list(mod.queries()) == list(_QUERIES)
    assert list(mod.oracle_sql()) == list(_ORACLES)


def test_oracle_exact_sums_round_once():
    """The oracles' exact-sum fragments convert DECIMAL to DOUBLE with
    one rounding, as Spark's cast does. DuckDB's own DECIMAL→DOUBLE
    cast rounds twice and lands one ulp off on this sum."""
    import duckdb

    from wiki_data_pipeline_spark.plans.star_schema import _davg_sql, _dsum_sql

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM "
        "(VALUES (14049629203.532125), (14049629203.532125)) AS x(v)"
    )
    exact = float("28099258407.064250")
    double_rounded = con.execute(
        "SELECT CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE) FROM t"
    ).fetchone()[0]
    assert double_rounded == 28099258407.064247 != exact
    got = con.execute(
        f"SELECT {_dsum_sql('v', 's')}, {_davg_sql('v', 'm')} FROM t"
    ).fetchone()
    assert got == (exact, exact / 2)
