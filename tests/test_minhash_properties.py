"""MinHash/LSH property tests (reference RecommendationUtilsTestSuite
analog), via hypothesis over a pure-python mirror of the hash family,
plus a Spark equivalence spot-check."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from mvrs_dspa_spark.functions import hashing as H

N = 32
BANDS = 16
ROWS = N // BANDS
PARAMS = H.hash_params(N, seed=2719)


def _sig(items: set[int]) -> list[int]:
    return [min((a * (x % H.P) + b) % H.P for x in items) for a, b in PARAMS]


def _est(sa: list[int], sb: list[int]) -> float:
    return sum(x == y for x, y in zip(sa, sb)) / N


def _shares_band(sa: list[int], sb: list[int]) -> bool:
    return any(
        sa[b * ROWS : (b + 1) * ROWS] == sb[b * ROWS : (b + 1) * ROWS]
        for b in range(BANDS)
    )


# Codes live in [0, P): every engine path produces them via md5 % P
# (hashing.string_code). Values >= P alias mod P (e.g. P ~ 0) — that is
# a code-collision, not a minhash property, so generate in-domain.
sets_ = st.sets(st.integers(min_value=0, max_value=H.P - 1), min_size=1, max_size=200)


@given(sets_)
def test_identity_and_symmetry(a):
    assert _est(_sig(a), _sig(a)) == 1.0


@given(sets_, sets_)
@settings(max_examples=60)
def test_estimate_tracks_jaccard(a, b):
    j = len(a & b) / len(a | b)
    est = _est(_sig(a), _sig(b))
    # 32 hashes: P(|est-J| > 0.5) < exp(-2*32*0.25) ~ 1e-7 per example
    assert abs(est - j) <= 0.5
    assert _est(_sig(a), _sig(b)) == _est(_sig(b), _sig(a))


@given(sets_, sets_)
@settings(max_examples=60)
def test_banding_pigeonhole(a, b):
    sa, sb = _sig(a), _sig(b)
    diffs = sum(x != y for x, y in zip(sa, sb))
    if diffs < BANDS:  # fewer mismatches than bands -> some band intact
        assert _shares_band(sa, sb)
    if _est(sa, sb) == 1.0:
        assert _shares_band(sa, sb)


def test_spark_signature_matches_python(spark):
    from pyspark.sql import functions as F
    from mvrs_dspa_spark.functions import minhash as MH

    sets = {1: {5, 99, 12345}, 2: {5, 99, 7}, 3: {2**31 - 2}}
    rows = [(i, x) for i, s in sets.items() for x in s]
    items = spark.createDataFrame(rows, "id long, code long")
    sig = MH.signature_df(items, "id", "code", PARAMS)
    got = {r["id"]: list(r["sg"]) for r in sig.collect()}
    assert got == {i: _sig(s) for i, s in sets.items()}
