"""Deterministic cross-engine hash families.

Everything on the oracle path must produce bit-identical values in
Spark and DuckDB, so no engine hash builtins (xxhash64/hash differ).
Instead: explicit affine arithmetic ``(a*x + b) mod P`` over
``P = 2^31 - 1`` with constants generated by a fixed LCG. Products
stay < 2^62, safely inside int64 in both engines.

Mirrors the role of the MinHasher in the reference
(`jobs/recommendations/RecommendationUtils.scala:24-90`, built on
algebird MinHasher32) — same MMDS ch.3 construction, engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
_LCG_A = 6_364_136_223_846_793_005
_LCG_C = 1_442_695_040_888_963_407
_MASK = (1 << 63) - 1


def hash_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """n (a, b) pairs for the affine family, deterministic in seed."""
    state = seed & _MASK
    out: list[tuple[int, int]] = []
    while len(out) < n:
        state = (state * _LCG_A + _LCG_C) & _MASK
        a = state % (P - 1) + 1  # a in [1, P-1]
        state = (state * _LCG_A + _LCG_C) & _MASK
        b = state % P  # b in [0, P-1]
        out.append((a, b))
    return out


# --- affine hash over a non-negative int64 --------------------------------

def affine_col(x: Column, a: int, b: int) -> Column:
    """Spark: (a * (x mod P) + b) mod P.

    The family is a bijection of [0, P); inputs outside that range
    alias mod P (e.g. P itself ~ 0). Produce codes via
    :func:`string_code` (md5 % P) or otherwise reduce to [0, P)
    before hashing.
    """
    return (F.lit(a) * (x % F.lit(P)) + F.lit(b)) % F.lit(P)


def affine_sql(x: str, a: int, b: int) -> str:
    """SQL mirror of :func:`affine_col`, in the dialect Spark and DuckDB share."""
    return f"((CAST({a} AS BIGINT) * (CAST(({x}) AS BIGINT) % {P}) + {b}) % {P})"


# --- string -> int64 code (md5 prefix) ------------------------------------
#
# First 32 bits of md5 over the UTF-8 bytes, reduced mod P. md5 is the
# one hash both engines expose with identical semantics. Critically the
# Spark side is a whole-stage-codegen'd JVM expression — the previous
# per-character F.aggregate fold was an interpreted higher-order
# expression costing ~5 ms/document in the shingle pipeline (~15x the
# rest of the dedup plan together).

def str_code_col(s: Column) -> Column:
    """Spark: int64 code of a string via md5-prefix, in [0, P)."""
    return (
        F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 8), 16, 10).cast("long")
        % F.lit(P)
    )


def str_code_sql(s: str) -> str:
    """DuckDB mirror of :func:`str_code_col`."""
    return f"(('0x' || substr(md5({s}), 1, 8))::BIGINT % {P})"


# --- k-wise-independent polynomial hash over Z_P --------------------------
#
# Degree-d polynomials with random coefficients are (d+1)-wise
# independent (Wegman & Carter 1981) — the AMS join-size/F2 estimators
# need 4-wise, which degree 3 provides. Pure integer Horner evaluation
# with a mod at every step keeps products < 2^62 (operands < 2^31), so
# Spark and DuckDB agree bit-for-bit with NO md5 on the hot path —
# measured ~8x cheaper per evaluation than the md5 string code.


def poly_params(n: int, degree: int = 3, seed: int = 97) -> list[tuple[int, ...]]:
    """n coefficient tuples (a_degree..a_0), leading coeff nonzero."""
    state = seed & _MASK
    out: list[tuple[int, ...]] = []
    while len(out) < n:
        coeffs = []
        for i in range(degree + 1):
            state = (state * _LCG_A + _LCG_C) & _MASK
            c = state % P
            if i == 0 and c == 0:  # leading coefficient must be nonzero
                c = 1
            coeffs.append(c)
        out.append(tuple(coeffs))
    return out


def poly_col(x: Column, coeffs: tuple[int, ...]) -> Column:
    """Spark: Horner evaluation of the polynomial at (x mod P), mod P."""
    acc: Column = F.lit(coeffs[0])
    xm = x % F.lit(P)
    for c in coeffs[1:]:
        acc = (acc * xm + F.lit(c)) % F.lit(P)
    return acc


def poly_sql(x: str, coeffs: tuple[int, ...]) -> str:
    """DuckDB mirror of :func:`poly_col`."""
    acc = str(coeffs[0])
    xm = f"(({x})::BIGINT % {P})"
    for c in coeffs[1:]:
        acc = f"(({acc} * {xm} + {c}) % {P})"
    return acc
