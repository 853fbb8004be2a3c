"""Self-check of the driver's correctness gate: every queries() entry with an
oracle_sql() entry must match DuckDB row-for-row (order-insensitive,
column-name-matched) on the driver parquet tables."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
]

ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _norm(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c] if not isinstance(row, tuple) else row[cols.index(c)]
            if isinstance(v, float):
                v = 0.0 if (not math.isfinite(v)) else round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    cols = sorted(sdf.columns)
    spark_rows = [r.asDict() for r in sdf.collect()]
    duck_rel = duck.sql(ORACLES[name])
    duck_cols = [d[0] for d in duck_rel.description]
    assert sorted(duck_cols) == cols, f"{name}: column mismatch {duck_cols} vs {sdf.columns}"
    duck_rows = [dict(zip(duck_cols, r)) for r in duck_rel.fetchall()]
    a = _norm(spark_rows, cols)
    b = _norm(duck_rows, cols)
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    mismatches = [(x, y) for x, y in zip(a, b) if x != y][:5]
    assert a == b, f"{name}: first diffs {mismatches}"


def test_every_query_listed_or_flagged():
    # round 5: every queries() entry is value-gated — the former non-SQL
    # pipeline queries now oracle against the committed plain-Python port
    # fixtures (fixtures/port/, plans/port_fixtures.py)
    no_oracle = set(QUERIES) - set(ORACLES)
    assert no_oracle == set(), no_oracle
