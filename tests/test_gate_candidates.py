"""Spark-vs-DuckDB parity for the pre-built gate candidates — the
SAME canonical compare the registered parity sweep uses, run against
queries that are deliberately NOT in the registry yet (each promotion
takes a slot in the 50-entry gate window, so they enter a few at a
time). When a candidate is promoted, it arrives with this evidence
standing."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tests.test_parity import _canon
from w4h_integrated_toolkit_spark.plans.queries import GATE_CANDIDATES

CASES = [(n, fn, sql) for n, (fn, sql) in GATE_CANDIDATES.items()]


def test_candidates_stay_out_of_the_registry():
    from w4h_integrated_toolkit_spark.plans import QUERIES

    overlap = set(GATE_CANDIDATES) & set(QUERIES)
    assert not overlap, (
        f"gate candidates {overlap} are also registered — promoting one "
        "means moving it from GATE_CANDIDATES into QUERIES"
    )


@pytest.mark.parametrize("name,fn,sql", CASES, ids=[c[0] for c in CASES])
def test_gate_candidate_parity(spark, ddb, name, fn, sql):
    sdf = fn(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    rel = ddb.sql(sql)
    d_cols = list(rel.columns)
    hugeint_cols = [
        c for c, t in zip(d_cols, rel.types) if "HUGEINT" in str(t).upper()
    ]
    assert not hugeint_cols, (
        f"{name}: oracle emits HUGEINT column(s) {hugeint_cols}"
    )
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} != {len(d_rows)}"
    )
    assert len(s_rows) > 0, f"{name}: empty result would gate nothing"
    s_c, d_c = _canon(s_rows, s_cols), _canon(d_rows, d_cols)
    mismatches = [(a, b) for a, b in zip(s_c, d_c) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"
