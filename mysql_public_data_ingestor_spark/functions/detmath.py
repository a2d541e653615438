"""Deterministic transcendental math, bit-identical across engines.

``F.log`` (JVM ``Math.log``) and DuckDB's libm ``ln`` disagree by one
ulp on ~3.4% of inputs (measured on 1.75M values, round 6) — so any
``floor(ln(x) * 10^dp + 0.5)`` quantization carries a residual
cross-engine hash-flake class: a value whose scaled ln lands within
one ulp of a half-integer boundary flips between engines. Rounds 4-5
eliminated exp/pow from the operator surface by algebraic rework
(softsign, sqrt-composition); ln survives where the semantics ARE
logarithmic (entropy, PMI, PSI, cross-entropy).

This module kills the class structurally: a fixed-point ln built from
ONLY operations the IEEE-754 standard requires to be correctly rounded
(multiply, divide, compare) plus exact power-of-two scaling — so both
engines execute the identical rounding sequence and produce the
identical result by construction, independent of their libm.

Algorithm (classic digit-by-digit binary logarithm):
  1. Normalize x to m in [1, 2) by exact power-of-two multiplies,
     accumulating the exponent e (10 fold steps over shifts
     512..1; multiplication/division by 2^s is exact for
     non-subnormal doubles).
  2. Extract B=30 fractional bits of log2(m) by square-and-compare:
     m <- m*m (one correctly-rounded multiply); if m >= 2 take a 1
     bit and halve (exact). Each step contributes O(eps) to the final
     log2 — errors do not compound in the log domain.
  3. L = e * 2^B + bits is an exact int64;
     ln_q = floor(L * C + 0.5) with C = ln(2) * 10^dp / 2^B a shared
     double literal (Python float repr round-trips, so both engines
     parse the identical double).

Accuracy: |result/10^dp - ln(x)| <= 2^-30 ln2 + ~30 eps ~= 6.5e-10 —
below one quantum at dp <= 9, and in every case the SAME value on
both engines. Cost: 40 fold steps of scalar double arithmetic per row,
JVM-side (no UDF), constant-size expression tree (the folds loop at
RUNTIME via higher-order aggregate, so there is no expression blowup
and no lost whole-stage codegen).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

_SHIFTS = (512, 256, 128, 64, 32, 16, 8, 4, 2, 1)
_B = 30  # fractional bits of log2
_SCALE = 1 << _B

LN2_MICRO = 693147  # 1e6 * ln 2, half up (= ref_det_ln_q(2.0))


def _c(dp: int) -> float:
    return math.log(2.0) * (10.0**dp) / float(_SCALE)


# The 40-element fold-step array is a CONSTANT, but building it with 40
# F.struct(F.lit(...)) calls costs ~0.4 s of py4j round trips PER
# det_ln construction — measured as the dominant share of the round-6
# det-ln bench regressions (dq_psi_value_drift, pipeline_corpus_prep_
# full: plan BUILD time, not execution). One F.expr() call parses the
# whole literal server-side; the resulting immutable expression tree is
# reused across queries, keyed by application id so a restarted JVM
# never sees a stale py4j handle.
_ELEMS_CACHE: dict[str, Column] = {}


def _elems() -> Column:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    key = sc.applicationId if sc is not None else "none"
    col = _ELEMS_CACHE.get(key)
    if col is None:
        parts = [
            f"named_struct('p', {float(2 ** s)!r}D, 's', {s}L)"
            for s in _SHIFTS
        ] + ["named_struct('p', 0.0D, 's', 0L)"] * _B
        col = F.expr("array(" + ",".join(parts) + ")")
        _ELEMS_CACHE.clear()  # one live application at a time
        _ELEMS_CACHE[key] = col
    return col


def det_ln_fix(x: Column) -> Column:
    """L = floor-ish fixed-point log2(x) * 2^30 as int64, deterministic
    across engines. Null for x <= 0 / null.

    ONE runtime fold over 40 elements (10 exponent shifts marked by
    p > 0, then 30 fraction sentinels with p = 0), finished by a
    ``finish`` lambda into the int64 — so the fold is evaluated exactly
    once per row (the two-fold formulation re-ran the normalization
    fold for each field referenced, measured ~2x the per-row cost)."""
    elems = _elems()
    init = F.struct(
        x.cast("double").alias("m"),
        F.lit(0).cast("long").alias("e"),
        F.lit(0).cast("long").alias("a"),
    )

    def merge(a, el):
        exp_step = (
            F.when(
                a["m"] >= el["p"],
                F.struct(
                    (a["m"] / el["p"]).alias("m"),
                    (a["e"] + el["s"]).alias("e"),
                    a["a"].alias("a"),
                ),
            )
            .when(
                a["m"] * el["p"] < F.lit(2.0),
                F.struct(
                    (a["m"] * el["p"]).alias("m"),
                    (a["e"] - el["s"]).alias("e"),
                    a["a"].alias("a"),
                ),
            )
            .otherwise(a)
        )
        frac_step = F.when(
            a["m"] * a["m"] >= F.lit(2.0),
            F.struct(
                (a["m"] * a["m"] * F.lit(0.5)).alias("m"),
                a["e"].alias("e"),
                (a["a"] * F.lit(2) + F.lit(1)).alias("a"),
            ),
        ).otherwise(
            F.struct(
                (a["m"] * a["m"]).alias("m"),
                a["e"].alias("e"),
                (a["a"] * F.lit(2)).alias("a"),
            )
        )
        return F.when(el["p"] > F.lit(0.0), exp_step).otherwise(frac_step)

    return F.when(
        x > 0,
        F.aggregate(
            elems,
            init,
            merge,
            lambda a: a["e"] * F.lit(_SCALE).cast("long") + a["a"],
        ),
    )


def det_ln_q(x: Column, dp: int = 6) -> Column:
    """floor(ln(x) * 10^dp + 0.5) as int64, bit-identical across
    engines (see module docstring). Null for x <= 0 / null."""
    return F.floor(det_ln_fix(x) * F.lit(_c(dp)) + F.lit(0.5)).cast("long")


def det_ln_dbl(x: Column) -> Column:
    """Deterministic ln(x) as a double: L * (ln2 / 2^30), one
    correctly-rounded multiply on the exact int64 L — bit-identical
    across engines, ~6.5e-10 absolute accuracy. For use where the log
    feeds further double arithmetic (weighted terms) before a final
    quantization; every downstream +-*/ chain stays deterministic as
    long as the SQL twin uses the same association order and casts
    non-representable literals ::DOUBLE (DuckDB parses bare decimal
    literals as DECIMAL — measured divergence, see test_detmath)."""
    return det_ln_fix(x) * F.lit(_c(0))


def sql_det_ln_steps(
    rel: str, col: str, out: str, dp: int = 6, as_double: bool = False
) -> str:
    """DuckDB twin of :func:`det_ln_q`, as a generated CTE chain.

    NOT an inline expression: DuckDB 1.0's vectorized ``list_reduce``
    mis-evaluates struct-accumulator folds on large inputs (measured:
    ~1.4% wrong rows at 300k rows while single-row/constant evaluation
    is correct), and an inline unrolled expression would duplicate the
    mantissa subtree exponentially. Instead each fold step is one plain
    projection (``SELECT * REPLACE``) over the previous — linear size,
    column references only, vectorization-safe.

    Returns ``"name AS (...), name AS (...), ..."`` fragments; append
    inside a WITH clause. ``rel`` is the input relation name; the final
    CTE is named ``{out}_rel`` and carries all of ``rel``'s columns
    plus ``{out}`` (the quantized ln of ``col``; NULL for col <= 0).
    With ``as_double`` the output column is the deterministic double
    ln value (twin of :func:`det_ln_dbl`) instead of the quantized
    int64, and ``dp`` is ignored.
    """
    steps = [f"{out}_s0 AS (SELECT *, CAST(({col}) AS DOUBLE) AS _dm, 0::BIGINT AS _de FROM {rel})"]
    prev = f"{out}_s0"
    for i, s in enumerate(_SHIFTS):
        p = f"{float(2 ** s)!r}"
        nm = f"{out}_n{i}"
        steps.append(
            f"{nm} AS (SELECT * REPLACE ("
            f"CASE WHEN _dm >= {p} THEN _dm / {p} "
            f"WHEN _dm * {p} < 2.0 THEN _dm * {p} ELSE _dm END AS _dm, "
            f"CASE WHEN _dm >= {p} THEN _de + {s} "
            f"WHEN _dm * {p} < 2.0 THEN _de - {s} ELSE _de END AS _de) FROM {prev})"
        )
        prev = nm
    steps.append(f"{out}_f0 AS (SELECT *, 0::BIGINT AS _da FROM {prev})")
    prev = f"{out}_f0"
    for i in range(_B):
        nm = f"{out}_f{i + 1}"
        steps.append(
            f"{nm} AS (SELECT * REPLACE ("
            f"CASE WHEN _dm * _dm >= 2.0 THEN _dm * _dm * 0.5 ELSE _dm * _dm END AS _dm, "
            f"CASE WHEN _dm * _dm >= 2.0 THEN _da * 2 + 1 ELSE _da * 2 END AS _da) FROM {prev})"
        )
        prev = nm
    # Two traps measured here: (1) DuckDB parses a bare decimal literal
    # as DECIMAL, making L * C exact-decimal arithmetic instead of one
    # IEEE double rounding — the ::DOUBLE cast is load-bearing; (2) the
    # product and the +0.5 must round separately (no fused multiply-add
    # ambiguity), so the product materializes as its own column.
    if as_double:
        steps.append(
            f"{out}_rel AS (SELECT * EXCLUDE (_dm, _de, _da), "
            f"CASE WHEN ({col}) > 0 THEN "
            f"(_de * {_SCALE}::BIGINT + _da) * {_c(0)!r}::DOUBLE END AS {out} "
            f"FROM {prev})"
        )
        return ", ".join(steps)
    steps.append(
        f"{out}_p AS (SELECT *, "
        f"(_de * {_SCALE}::BIGINT + _da) * {_c(dp)!r}::DOUBLE AS _dprod FROM {prev})"
    )
    steps.append(
        f"{out}_rel AS (SELECT * EXCLUDE (_dm, _de, _da, _dprod), "
        f"CASE WHEN ({col}) > 0 THEN CAST(floor(_dprod + 0.5) AS BIGINT) END AS {out} "
        f"FROM {out}_p)"
    )
    return ", ".join(steps)


def ref_det_ln_fix(x: float) -> int | None:
    """Pure-Python reference (for property tests)."""
    if not (x > 0):
        return None
    m, e = float(x), 0
    for s in _SHIFTS:
        p = float(2**s)
        if m >= p:
            m, e = m / p, e + s
        elif m * p < 2.0:
            m, e = m * p, e - s
    acc = 0
    for _ in range(_B):
        m = m * m
        if m >= 2.0:
            m, acc = m * 0.5, acc * 2 + 1
        else:
            acc *= 2
    return e * _SCALE + acc


def ref_det_ln_q(x: float, dp: int = 6) -> int | None:
    L = ref_det_ln_fix(x)
    return None if L is None else math.floor(L * _c(dp) + 0.5)


# ---------------------------------------------------------------------------
# Deterministic integer power: b^n for double b >= 0, integer n >= 0
# ---------------------------------------------------------------------------
#
# Same construction argument as the fixed-point ln above: exponentiation
# by squaring uses ONLY IEEE-754 multiplies (correctly rounded by the
# standard), executed in the identical sequence on both engines, so the
# result is bit-identical by construction — no libm pow() involved
# (DuckDB's pow and Java's Math.pow disagree in the last ulp on a
# measurable share of inputs, the same class det_ln_fix kills).
#
# LSB-first square-and-multiply over _POW_BITS fixed bit positions:
#   r = 1; b2 = b
#   for i in 0.._POW_BITS-1: if (n >> i) & 1: r *= b2
#                            b2 *= b2
# Every step runs unconditionally (the squaring chain is shared), so
# the multiply sequence — and therefore every intermediate rounding —
# is the same fixed 2*_POW_BITS-step program on both engines for any
# n < 2^_POW_BITS. Underflow to 0 and overflow to inf are themselves
# deterministic IEEE behaviors. Error growth is the standard
# (1+eps)^(2 log2 n) relative factor — irrelevant here because both
# engines take the IDENTICAL trajectory; the value is deterministic,
# not maximally accurate.

_POW_BITS = 48  # supports exponents up to 2^48 - 1 (~2.8e14 rows)


def det_pow_int(b: Column, n: Column) -> Column:
    """b^n as a double, bit-identical across engines; b >= 0 double
    column, n int64 column in [0, 2^48). Null if either input is null.

    One runtime fold over the 48 bit positions with a (result, base)
    struct accumulator — constant-size expression tree, JVM-side."""
    bits = F.array(*[F.lit(i) for i in range(_POW_BITS)])
    init = F.struct(
        F.lit(1.0).alias("r"),
        b.cast("double").alias("b"),
        n.cast("long").alias("n"),
    )

    def merge(a, _i):
        # the accumulator carries the residual exponent and consumes
        # its low bit per step (F.shiftright needs a literal count, so
        # the bit index array is positional only)
        return F.struct(
            F.when(a["n"].bitwiseAND(F.lit(1)) == 1, a["r"] * a["b"])
            .otherwise(a["r"])
            .alias("r"),
            (a["b"] * a["b"]).alias("b"),
            F.shiftright(a["n"], 1).alias("n"),
        )

    return F.aggregate(bits, init, merge, lambda a: a["r"])


def sql_det_pow_steps(rel: str, bcol: str, ncol: str, out: str) -> str:
    """DuckDB twin of :func:`det_pow_int`, as a generated CTE chain
    (the same linear-projection formulation as ``sql_det_ln_steps`` —
    one plain ``SELECT * REPLACE`` per bit step, vectorization-safe).

    Returns ``"name AS (...), ..."`` fragments; append inside a WITH
    clause. The final CTE is ``{out}_rel`` carrying all of ``rel``'s
    columns plus ``{out}`` (the double b^n; NULL propagates)."""
    steps = [
        f"{out}_p0 AS (SELECT *, 1.0::DOUBLE AS _pr, "
        f"CAST(({bcol}) AS DOUBLE) AS _pb FROM {rel})"
    ]
    prev = f"{out}_p0"
    for i in range(_POW_BITS):
        nm = f"{out}_p{i + 1}"
        steps.append(
            f"{nm} AS (SELECT * REPLACE ("
            f"CASE WHEN (CAST(({ncol}) AS BIGINT) >> {i}) & 1 = 1 "
            f"THEN _pr * _pb ELSE _pr END AS _pr, _pb * _pb AS _pb) FROM {prev})"
        )
        prev = nm
    steps.append(
        f"{out}_rel AS (SELECT * EXCLUDE (_pr, _pb), _pr AS {out} FROM {prev})"
    )
    return ", ".join(steps)


def ref_det_pow_int(b: float, n: int) -> float:
    """Pure-Python reference (for property tests)."""
    r, b2 = 1.0, float(b)
    for i in range(_POW_BITS):
        if (n >> i) & 1:
            r = r * b2
        b2 = b2 * b2
    return r
