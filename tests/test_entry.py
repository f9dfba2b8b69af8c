"""Driver-contract smoke tests: entry() and the queries() catalog."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as E

SF_SMALL = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_SMALL), reason="driver testdata not present"
)


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"poly_id", "n_docs", "n_langs", "sum_chars"} <= set(df.columns)


def test_every_query_has_oracle_or_is_marked(spark):
    qs = E.queries()
    oracles = E.oracle_sql()
    assert set(oracles) <= set(qs)
    # current catalog: full oracle coverage
    assert set(oracles) == set(qs)


def test_queries_run_at_smallest_sf(spark):
    """Each catalog query must at least execute and return a schema at
    sf0.001 (values checked against DuckDB by tools/check_oracle.py)."""
    for name, fn in E.queries().items():
        df = fn(spark, SF_SMALL)
        assert df.columns, name
        df.limit(5).collect()


def test_all_oracle_sql_parses_in_duckdb():
    """Every oracle SQL string must at least PLAN in DuckDB against
    the registered table views — a seconds-fast syntax/semantic gate
    that catches oracle regressions without the full value sweep."""
    import duckdb

    con = duckdb.connect()
    tables = [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    bad = []
    for name, sql in E.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as exc:  # noqa: BLE001 — collecting all failures
            bad.append((name, str(exc).splitlines()[0]))
    assert not bad, bad


def test_catalog_fits_driver_window():
    """The external correctness harness verifies the first 50 catalog
    entries, so the whole catalog must fit inside that window."""
    assert len(E.queries()) <= 50


def test_no_shadowed_definitions():
    """Guard against VERDICT r4 'What's wrong' #1: a module-level
    def/assignment in queries.py silently REPLACING an earlier one
    (Python name reuse swapped stratified_sample's semantics in
    round 4 without any test noticing). Every top-level function
    name must be defined exactly once."""
    import ast
    import collections

    import georaster_spark.queries as Q

    src = open(Q.__file__.rstrip("c")).read()
    tree = ast.parse(src)
    names = collections.Counter(
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    )
    dupes = {n: c for n, c in names.items() if c > 1}
    assert not dupes, f"shadowed top-level definitions in queries.py: {dupes}"


def test_no_shadowed_test_definitions():
    """Same shadowing class, but in the TEST tree: two defs of one
    test name mean pytest silently collects only the later one —
    the earlier test stops running without any failure (this bit
    tests/test_workloads.py in round 5, where a second
    test_stratified_sample_semantics masked the first). Every
    top-level def in every tests/*.py must be unique within its
    module."""
    import ast
    import collections
    import glob
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    bad = {}
    for path in sorted(glob.glob(os.path.join(here, "*.py"))):
        tree = ast.parse(open(path).read())
        names = collections.Counter(
            node.name
            for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        )
        dupes = {n: c for n, c in names.items() if c > 1}
        if dupes:
            bad[os.path.basename(path)] = dupes
    assert not bad, f"shadowed top-level test definitions: {bad}"
