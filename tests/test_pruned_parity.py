"""DuckDB parity for functions kept OUT of the 50-query driver registry
(pruned per VERDICT r2 missing #2, or added after the registry was pinned):
they stay fully oracle-checked here, just not driver-run — and for the
registered queries over the shared category-module core, which only the
manual tools/compare.py runs otherwise.  Same compare discipline as
tools/compare.py — sorted row-tuples after both engines apply identical
rounding."""

from __future__ import annotations

import os

import duckdb
import pytest

from graph_computing_go_spark.api import (
    DEGREE_HISTOGRAM_ALL_SQL,
    ORACLES,
    QUERIES,
    DEGREE_HISTOGRAM_OUT_SQL,
    REVENUE_PER_NATION_SQL,
    SIMHASH_NEAR_DUP_SQL,
    SUBJECT_UNION_SQL,
    q_degree_histogram_all,
    q_degree_histogram_out,
    q_revenue_per_nation,
    q_simhash_near_dup,
    q_subject_union_vertices,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("nation", "customer", "orders", "lineitem", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
@pytest.mark.parametrize(
    "fn,sql",
    [
        (q_revenue_per_nation, REVENUE_PER_NATION_SQL),
        (q_subject_union_vertices, SUBJECT_UNION_SQL),
        (q_simhash_near_dup, SIMHASH_NEAR_DUP_SQL),
        # swapped out of the driver registry for decontaminate +
        # repetition_score (VERDICT r4 next #2): same plan shape as the
        # still-registered degree_histogram_in
        (q_degree_histogram_out, DEGREE_HISTOGRAM_OUT_SQL),
        (q_degree_histogram_all, DEGREE_HISTOGRAM_ALL_SQL),
    ],
    ids=[
        "revenue_per_nation",
        "subject_union_vertices",
        "simhash_near_dup",
        "degree_histogram_out",
        "degree_histogram_all",
    ],
)
def test_pruned_query_matches_oracle(spark, duck, fn, sql):
    got = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    want = sorted(map(tuple, duck.execute(sql).fetchall()))
    assert got == want


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
@pytest.mark.parametrize(
    "name",
    ["multilayer_entropy", "distance_complexity", "discipline_distance_complexity"],
)
def test_category_module_query_matches_oracle(spark, duck, name):
    """The three registered callers of functions/multilayer.py's node
    table, tag joins and little fold."""
    got = sorted(map(tuple, QUERIES[name](spark, SF_DIR).collect()))
    want = sorted(map(tuple, duck.execute(ORACLES[name]).fetchall()))
    assert got == want
