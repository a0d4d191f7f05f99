"""Differential tests: every registered query must match
its DuckDB oracle at sf0.001 (column names + column type families + row
count + order-insensitive values) — the same comparison, with the same
helpers, that tools/check_correctness.py applies at sf0.01 (SURVEY §5)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL
from tools.check_correctness import _arrow_family, normalize, type_problems

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, duck, name):
    sdf = QUERIES[name](spark, SF_SMALL)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    otable = duck.execute(ORACLES[name]).arrow()
    ocols = otable.schema.names
    orows = list(zip(*[c.to_pylist() for c in otable.columns]))

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert not type_problems(sdf.dtypes, otable.schema), f"{name}: column types differ"
    assert len(srows) == len(orows), f"{name}: row counts differ"
    assert normalize(srows, scols) == normalize(orows, ocols), f"{name}: values differ"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["n_name", "revenue", "n_items"]


def test_every_query_has_fn():
    for name in QUERIES:
        assert callable(QUERIES[name])
    # every query has an oracle and every oracle a query
    assert set(ORACLES) == set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_schema_spark_representable(duck, name):
    """Typed-schema gate (round-1's w4 lesson): every oracle output
    column's Arrow type must map onto a Spark-representable family —
    DuckDB HUGEINT/DECIMAL/timestamp surfaces hash-mismatch under
    tools/check_correctness.py's typed normalization even when str(v)
    looks identical."""
    schema = duck.execute(f"DESCRIBE {ORACLES[name]}").fetchall()
    # DESCRIBE gives DuckDB type names; map via a LIMIT 0 arrow fetch
    table = duck.execute(f"SELECT * FROM ({ORACLES[name]}) q LIMIT 0").arrow()
    bad = {
        f.name: str(f.type)
        for f in table.schema
        if "UNREPRESENTABLE" in _arrow_family(f.type)
    }
    assert not bad, f"{name}: oracle columns with no Spark twin: {bad} (describe={schema})"
    # round-3 emb_random_project lesson: canonicalizing results via a
    # pandas row sort throws on list/struct/map cells — every registered
    # output must be scalar-only (the Spark side is held equivalent by
    # the hash gate)
    import pyarrow.types as pat

    nested = {
        f.name: str(f.type)
        for f in table.schema
        if pat.is_nested(f.type)
    }
    assert not nested, (
        f"{name}: nested (unhashable) output columns: {nested} — "
        "explode to scalar rows or name per-element columns"
    )


def test_queries_md_documents_every_registered_query():
    """QUERIES.md is exactly `tools/dump_queries.py`'s output: one
    `## name [✓]` section per registered query, its body the query's
    `doc=` string — additions can't silently skip the docs, removals
    can't leave stale sections, and a doc and its section can't drift."""
    from tools.dump_queries import QUERIES_MD, render

    assert QUERIES_MD.read_text() == render(), "QUERIES.md is stale: run python tools/dump_queries.py"
