"""Differential test: every registered query vs its DuckDB oracle.

Local replica of the driver's correctness gate: row count, column names,
and order-insensitive value comparison. Values are compared EXACTLY
(stringified, full precision) — the engine's queries are designed to be
bit-reproducible across engines (see functions/exact.py), so any drift is
a real bug, not noise.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import pytest

from etl_pipeline_with_alpha_vantage_spark import registry

registry.load_all()

ORACLE_CASES = sorted(registry.ORACLES)
ROWS_ONLY_CASES = sorted(set(registry.QUERIES) - set(registry.ORACLES))

# Vacuous-oracle lint: a green parity row on an EMPTY result proves nothing
# (round-3 verdict: interval_overlap_join passed on 0-vs-0 rows). Any
# oracled query returning 0 rows at the test SF fails unless listed here
# with a justification. Keep this list empty unless a query is
# empty-by-design.
EMPTY_OK: dict[str, str] = {}

# Two-SF adversarial coverage: these families have never appeared in a
# driver sample (round-3 verdict), so their only gate is this suite — and
# data-dependent bugs (ties, empties, boundary predicates) can hide at a
# single scale factor. Each runs at BOTH sf0.001 (the default suite SF)
# and sf0.01 (the driver's SF), giving every data-dependent branch two
# chances to surface.
SECOND_SF_DIR = "/root/testdata/sf0.01"

# Self-maintaining: the never-sampled set is EVERY oracled query minus
# the union of names that have appeared in any committed driver sample
# (CORRECTNESS_r*.json). New queries therefore get two-SF coverage
# automatically from the day they are registered, and names leave this
# list only when the driver actually checks them.
def _driver_sampled_names() -> set[str]:
    import glob
    import json
    import os

    sampled: set[str] = set()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        try:
            with open(path) as f:
                record = json.load(f)
            if isinstance(record, dict):
                sampled |= set(record)
        except (OSError, ValueError):
            continue
    return sampled


TWO_SF_CASES = sorted(set(registry.ORACLES) - _driver_sampled_names())


def canon(v):
    """Canonicalize a scalar for order-insensitive cross-engine compare."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr round-trips doubles exactly; -0.0 folded to 0.0
        return repr(v + 0.0)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def rows_to_multiset(rows, col_order):
    return sorted(tuple(canon(r[i]) for i in col_order) for r in rows)


def assert_query_matches_oracle(spark, duck, sf_dir, name, allow_empty=False):
    """``allow_empty`` is for degenerate-input fixtures, where 0 rows on
    both sides is the expected answer rather than a vacuous match."""
    sdf = registry.QUERIES[name](spark, sf_dir)
    spark_cols = [c.lower() for c in sdf.columns]
    srows = sdf.collect()

    rel = duck.sql(registry.ORACLES[name])
    duck_cols = [c.lower() for c in rel.columns]
    drows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(srows) == len(drows), (
        f"{name}: row count spark={len(srows)} duck={len(drows)}"
    )
    if len(drows) == 0 and name not in EMPTY_OK and not allow_empty:
        raise AssertionError(
            f"{name}: vacuous oracle — 0 rows at {sf_dir}; a 0-vs-0 match "
            f"proves nothing. Make the query produce rows at this SF or "
            f"add it to EMPTY_OK with a justification."
        )

    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s_set = rows_to_multiset([tuple(r) for r in srows], s_order)
    d_set = rows_to_multiset(drows, d_order)
    if s_set != d_set:
        diffs = [
            (a, b) for a, b in zip(s_set, d_set) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs {diffs}")


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    assert_query_matches_oracle(spark, duck, sf_dir, name)


@pytest.fixture(scope="module")
def duck_second_sf():
    import os

    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.sql(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM '{os.path.join(SECOND_SF_DIR, name + '.parquet')}'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(TWO_SF_CASES))
def test_never_sampled_families_at_second_sf(spark, duck_second_sf, name):
    assert_query_matches_oracle(spark, duck_second_sf, SECOND_SF_DIR, name)


@pytest.mark.parametrize("name", ROWS_ONLY_CASES)
def test_rows_only_queries_run(spark, sf_dir, name):
    df = registry.QUERIES[name](spark, sf_dir)
    assert df.columns  # stable schema
    df.collect()  # executes without error


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
