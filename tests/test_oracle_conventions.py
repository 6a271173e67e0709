"""Hypothesis property tests for the cross-engine exactness conventions.

These pin the repo-wide numeric conventions (SURVEY §5) against
independent references WITHOUT a SparkSession: the DuckDB side of each
convention is evaluated on hypothesis-generated literals and compared to
a pure-python model.  The Spark side of the same conventions is already
hash-checked against DuckDB by the 263-row gate, so python == DuckDB
here closes the triangle python == DuckDB == Spark.
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from linkgraph.datapipe import _sql_md5_int


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60
)


@given(text)
@settings(max_examples=60, deadline=None)
def test_md5_int_convention_matches_hashlib(con, s):
    """First 15 md5 hex digits as int64 — the repo-wide stable hash."""
    want = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
    got = con.execute(f"SELECT {_sql_md5_int('?')}", [s]).fetchone()[0]
    assert got == want
    assert 0 <= got < 2**60  # 15 hex digits always fit int64


@given(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.integers(min_value=1, max_value=2**31),
)
@settings(max_examples=80, deadline=None)
def test_sql_floor_division_convention(con, a, b):
    """The sign-portable floor division (a - ((a%b)+b)%b) // b equals
    python's // for either sign of a — including past 2^53, where the
    old /-based form could drift (ADVICE r04)."""
    # operands typed BIGINT: DuckDB would otherwise bind small python ints
    # as INT32 and overflow (a % b) + b near 2^31
    x = "CAST(? AS BIGINT)"
    expr = f"SELECT CAST((({x}) - (((({x}) % ({x})) + ({x})) % ({x}))) // ({x}) AS BIGINT)"
    got = con.execute(expr, [a, a, b, b, b, b]).fetchone()[0]
    assert got == a // b


@given(
    # domain bound of the convention: 2e6*num + den must fit int64
    st.integers(min_value=0, max_value=2**40),
    st.integers(min_value=1, max_value=2**31),
)
@settings(max_examples=60, deadline=None)
def test_micro_ratio_round_half_up(con, num, den):
    """webpipe._micro_ratio's SQL twin — floor((1e6*num*2 + den) / (2*den))
    == round-half-up of 1e6*num/den computed with exact integers."""
    got = con.execute(
        "SELECT CAST((1000000 * CAST(? AS HUGEINT) * 2 + CAST(? AS BIGINT)) // (2 * CAST(? AS BIGINT)) AS BIGINT)",
        [num, den, den],
    ).fetchone()[0]
    from fractions import Fraction

    x = Fraction(1_000_000 * num, den)
    want = int(x) + (1 if x - int(x) >= Fraction(1, 2) else 0)
    assert got == want
