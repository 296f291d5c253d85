"""Driver-contract invariants for __spark_entry__: every query runs at
sf0.001 with a stable schema; oracle keys align; columns are lowercase and
alias-matched (the driver sorts columns by name before hashing)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def test_oracle_keys_subset_of_queries():
    qs, os_ = E.queries(), E.oracle_sql()
    assert set(os_) <= set(qs)
    # every query is oracle-checked — approximate ops expose their exact
    # invariants (counts, error-bound booleans) as the hashed columns
    assert set(qs) == set(os_)


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_query_runs_and_has_rows(spark, name):
    df = E.queries()[name](spark, SF)
    assert df.columns == [c.lower() for c in df.columns], "columns must be lowercase"
    assert len(df.columns) == len(set(df.columns)), "duplicate column names"
    assert df.count() > 0, f"{name} returned no rows at sf0.001"


# the CDC engine's gate rows: every cdc_* query plus the normalize round trip
CDC_GATE = sorted(q for q in E.queries() if q.startswith("cdc_")) + ["normalize_roundtrip"]


@pytest.fixture(scope="module")
def duck():
    from tools.check_oracle import connect

    con = connect(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", CDC_GATE)
def test_cdc_gate_matches_oracle(spark, duck, name):
    """Exact parity with the DuckDB oracle (the gate's comparison), not
    just a non-empty result."""
    from tools.check_oracle import compare

    assert compare(name, E.queries()[name](spark, SF), duck, E.oracle_sql()[name])


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.schema.simpleString() == (
        "struct<conv_id:string,turn_idx:int,role:string,text:string,ts:timestamp>"
    )
    assert df.count() > 0
