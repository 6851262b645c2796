"""Deterministic numeric aggregation helpers.

The reference does all money math in arbitrary-precision decimal
(``bignumber.js``; e.g. ``lib/ledgerParser/balanceChanges.js:114-167``)
precisely because float accumulation is order-dependent.  Spark's
floating-point SUM is likewise non-associative: partial aggregation
order varies run to run and differs from any single-threaded oracle.

Policy (applies engine-wide):
  * per-row arithmetic stays in DOUBLE -- a single IEEE op is exact and
    identical across engines;
  * cross-row accumulation (SUM/AVG) goes through DECIMAL(38, s) --
    decimal addition is associative, so the result is independent of
    partition count and task order, on 32 local threads or 1000
    executors;
  * the final value is cast back to DOUBLE for a stable output schema.

The same construction is used verbatim in the DuckDB oracle SQL
(``CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)``), making the
comparison exact instead of epsilon-based.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_SCALE = 6


def dsum(col: Column | str, scale: int = DEFAULT_SCALE) -> Column:
    """Order-independent SUM of a double expression."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(38,{scale})")).cast("double")


def davg(col: Column | str, scale: int = DEFAULT_SCALE) -> Column:
    """Order-independent AVG: exact decimal sum, one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(38,{scale})")).cast("double") / F.count(c)


def sql_dsum(expr: str, scale: int = DEFAULT_SCALE) -> str:
    """The oracle-side rendering of :func:`dsum` (ANSI SQL, DuckDB-ready)."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,{scale}))) AS DOUBLE)"


def fround(col: Column | str, scale: int = DEFAULT_SCALE) -> Column:
    """Engine-portable fixed-point round: floor(x·10^s + 0.5) / 10^s.

    Native ROUND machinery differs per engine (Spark: HALF_UP on the
    double's shortest decimal repr; DuckDB: nearbyint of the scaled
    product, half-to-even) -- on values that land exactly on the
    half-grid (quotients/sums/differences of already-rounded grid
    values do, constantly) the two disagree by one ulp.  This form is
    a fixed multiply/add/floor/divide IEEE sequence: identical inputs
    give identical outputs on every engine, ties included.  For
    negatives it rounds half toward +inf rather than away from zero;
    consumers need cross-engine agreement, not a particular tie
    convention.  Exact while |x|·10^s + 0.5 < 2^53.

    FINITE-DOMAIN REQUIREMENT: the engines agree only on finite inputs
    within range.  Spark's FLOOR yields BIGINT, so NaN becomes 0.0 and
    ±Inf saturates near ±2^63/10^s, while DuckDB's FLOOR stays DOUBLE
    and propagates NaN/Inf; and beyond |x|·10^s >= 2^63 the BIGINT
    saturation makes Spark silently wrong even for finite values (the
    2^53 bound above is the exactness limit, 2^63 the correctness
    limit).  Callers must keep NaN/Inf out of the rounded expression
    (guard with when()/nanvl or a GREATEST floor upstream) and prove
    |x|*10^s stays under 2^63 AT TARGET SCALE, not just on testdata --
    tests/test_fround_domains.py is the per-module enforcement ledger:
    every call site counts against a pinned census with its domain
    argument, so a new emission cannot land without one (the r13
    ADVICE found exactly one unbounded-sum site that way).
    """
    c = F.col(col) if isinstance(col, str) else col
    m = float(10**scale)
    return F.floor(c * F.lit(m) + F.lit(0.5)).cast("double") / F.lit(m)


def sql_fround(expr: str, scale: int = DEFAULT_SCALE) -> str:
    """:func:`fround` as SQL text -- valid (and bit-identical) in BOTH
    Spark SQL expressions and DuckDB oracles.  Same finite-domain
    requirement as :func:`fround` (NaN/Inf and |x|·10^s >= 2^63
    diverge across engines)."""
    m = 10**scale
    return f"(FLOOR(({expr}) * {m}e0 + 0.5) / {m}e0)"


def davg_round(col: Column | str, scale: int = DEFAULT_SCALE) -> Column:
    """Half-up average of non-negative ``scale``-dp grid values, rounded
    back to the SAME scale, bit-identical across engines.

    ``ROUND(dsum(x)/n, s)`` over s-dp values is a tie factory: the
    quotient lands EXACTLY on the s-dp half-grid whenever the scaled
    sum is ≡ n/2 (mod n), and on true ties Spark's repr-based HALF_UP
    and DuckDB's scaled-product nearbyint disagree (round-12 catch:
    text_word_entropy's group average flipped its 9th decimal).  This
    form stays in exact integers until one final division: scaled
    integer sum S -> floor((2S + n) / 2n) (= round-half-up of S/n,
    exact because the quotient is ≥ 1/(2n) away from any integer it
    isn't equal to) -> one correctly-rounded divide by 10^scale.
    Inputs must be non-null, non-negative, exactly on the s-dp grid
    (e.g. upstream fround/ROUND output), with |x|·10^s < 2^53/n.
    """
    c = F.col(col) if isinstance(col, str) else col
    m = 10**scale
    # floor(x + 0.5), not native round: x = c·10^s is within one ulp of
    # an integer (c is on the s-dp grid), so both forms yield the same
    # integer -- but the FLOOR form keeps the ENTIRE engine free of
    # native ROUND (whose tie machinery differs per engine), which the
    # registry lint (test_no_native_round_in_oracles) can then forbid
    # outright instead of carving an exception.
    s = F.sum(F.floor(c * F.lit(float(m)) + F.lit(0.5)).cast("bigint"))
    n = F.count(F.lit(1))
    return F.floor((2 * s + n) / (2 * n)).cast("double") / F.lit(float(m))


def sql_davg_round(expr: str, scale: int = DEFAULT_SCALE) -> str:
    """The oracle-side rendering of :func:`davg_round` (FLOOR form,
    like the engine side -- no native ROUND anywhere)."""
    m = 10**scale
    return (
        f"CAST(FLOOR((2 * SUM(CAST(FLOOR(({expr}) * {m}e0 + 0.5) "
        f"AS BIGINT)) "
        f"+ COUNT(*)) / (2 * COUNT(*))) AS DOUBLE) / {m}e0"
    )


# --------------------------------------------------------------------
# Exact huge-integer division (round-14): half-up quotients of DECIMAL
# operands far beyond the 2^53 double window that davg_round lives in.


def py_fdivh(a: int, b: int) -> int:
    """Pure-Python reference for :func:`sql_fdivh_steps`: round-half-
    toward-+inf of a/b for integers (b > 0) -- floor((2a + b) / (2b)),
    the same tie convention as :func:`fround`."""
    if b <= 0:
        raise ValueError("py_fdivh: divisor must be positive")
    return (2 * a + b) // (2 * b)


def sql_fdivh_steps(tag: str, num: str, den: str) -> list[tuple[str, str]]:
    """Half-up integer division of huge decimals, bit-exact on BOTH
    engines, as a chain of ``(column_name, sql_expr)`` steps.

    Computes ``q = floor((2*num + den) / (2*den))`` -- round half
    toward +inf of num/den, :func:`fround`'s tie convention -- where
    ``num``/``den`` are integer-valued DECIMAL expressions up to
    ~4e37 in magnitude (``den`` > 0, |q| <= ~5e18).  davg_round's
    double-division trick needs the numerator under 2^53; here the
    operands are 38-digit decimals, and neither engine offers a
    portable exact decimal division (DuckDB ``/`` and ``//`` on
    decimals both degrade to DOUBLE; Spark's decimal ``/`` rescales).
    So each engine computes its OWN approximate double quotient, then
    corrects it with EXACT decimal multiply/subtract/compare -- ops
    both engines perform exactly -- landing on the same integer:

      qa = floor(dbl(N) / dbl(D))     N = 2*num+den, D = 2*den
                                      (engine-specific ulps; DuckDB's
                                      hugeint->double cast is not even
                                      correctly rounded -- irrelevant,
                                      it only seeds the correction)
      r1 = N - qa*D                   exact decimal residual
      c  = floor(dbl(r1) / dbl(D))    second approximation pass
      r2 = r1 - c*D                   exact again
      q  = qa + c + (-1 | 0 | +1)     exact CASE on r2 vs [0, D)

    Error budget: |true q| <= 5e18 and <= 4 ulps of relative error in
    cast+cast+divide give |qa - q| <= 5e18 * 4 * 2^-52 < 4.5e3, so the
    stage-2 quotient is < 4.5e3 + 1 and ITS double error < 1e-11 --
    after FLOOR, c is off by at most 1 (only exactly-at-integer
    boundaries can flip), which the final exact CASE absorbs
    (r2 in [-D, 2D)).  Value-overflow envelope: |qa*D| <= |N| + 2|D|
    (the approximation error scales with q = N/D, so the product
    tracks N), which stays under DECIMAL(38) / int128 for |N| <= 4e37.

    The same step list drives both engines: Spark chains
    ``df.selectExpr("*", f"{expr} AS {name}")``, the oracle chains
    one CTE per step -- identical TEXT, so the algebra cannot drift.
    Internal columns are ``__{tag}_*``; the final step is named
    ``{tag}`` and is a BIGINT.
    """
    t = f"__{tag}"
    return [
        (f"{t}_nu", f"CAST(2 * ({num}) + ({den}) AS DECIMAL(38,0))"),
        (f"{t}_de", f"CAST(2 * ({den}) AS DECIMAL(38,0))"),
        (
            f"{t}_qa",
            f"CAST(FLOOR(CAST({t}_nu AS DOUBLE) / CAST({t}_de AS DOUBLE))"
            f" AS DECIMAL(20,0))",
        ),
        (f"{t}_r1", f"CAST({t}_nu - {t}_qa * {t}_de AS DECIMAL(38,0))"),
        (
            f"{t}_c",
            f"CAST(FLOOR(CAST({t}_r1 AS DOUBLE) / CAST({t}_de AS DOUBLE))"
            f" AS DECIMAL(20,0))",
        ),
        (f"{t}_r2", f"CAST({t}_r1 - {t}_c * {t}_de AS DECIMAL(38,0))"),
        (
            tag,
            f"CAST({t}_qa + {t}_c + (CASE WHEN {t}_r2 < 0 THEN -1 "
            f"WHEN {t}_r2 >= {t}_de THEN 1 ELSE 0 END) AS BIGINT)",
        ),
    ]
