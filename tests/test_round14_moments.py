"""Round-14 bisection of the three-round sketch_central_moments driver
red (VERDICT r13 #1): the query is split into three single-surface
probes -- decimal sums only / derived doubles only / all-integer exact
-- and the exact variant's fdivh primitive (approximate double
quotient + exact decimal correction) is property-tested adversarially
against pure-Python integer division on BOTH engines."""

from __future__ import annotations

import math
import random

import pytest

from rippled_historical_database_spark.functions.numeric import (
    py_fdivh,
    sql_fdivh_steps,
)


# ------------------------------------------------------------ fdivh


def _fdivh_cases() -> list[tuple[int, int]]:
    """Adversarial (a, b) pairs: every magnitude decade up to the
    documented 4e37/5e18 envelope, exact-tie halves, +-1 offsets
    around multiples, negatives, and a seeded random sweep."""
    rng = random.Random(1404)
    cases: list[tuple[int, int]] = []
    for mag_a in (0, 1, 9, 15, 18, 25, 30, 36, 37):
        for mag_b in (0, 3, 9, 12, 19, 24, 31, 36):
            a = rng.randrange(10**mag_a, 10 ** (mag_a + 1) or 10)
            b = rng.randrange(max(10**mag_b, 1), 10 ** (mag_b + 1))
            q = py_fdivh(a, b)
            if abs(q) > 5 * 10**18 or abs(2 * a + b) >= 4 * 10**37:
                continue
            cases.append((a, b))
            cases.append((-a, b))
            # exact tie: a = k*b + b/2 lands exactly on the half grid
            if b % 2 == 0 and abs(q) < 10**18:
                k = a // b
                cases.append((k * b + b // 2, b))
                cases.append((-(k * b) - b // 2, b))
            # boundary +-1 around an exact multiple
            if abs(q) < 10**18:
                cases.append(((a // b) * b, b))
                cases.append(((a // b) * b - 1, b))
                cases.append(((a // b) * b + 1, b))
    for _ in range(200):
        a = rng.randrange(-(10**36), 10**36)
        b = rng.randrange(1, 10**19)
        if abs(py_fdivh(a, b)) <= 5 * 10**18:
            cases.append((a, b))
    return cases


def test_fdivh_duckdb_matches_python():
    import duckdb

    con = duckdb.connect()
    cases = _fdivh_cases()
    values = ", ".join(
        f"(CAST('{a}' AS DECIMAL(38,0)), CAST('{b}' AS DECIMAL(38,0)))"
        for a, b in cases
    )
    ctes = [f"base AS (SELECT * FROM (VALUES {values}) AS t(num, den))"]
    prev = "base"
    for i, (name, expr) in enumerate(sql_fdivh_steps("q", "num", "den")):
        cur = f"s{i}"
        ctes.append(f"{cur} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = cur
    sql = "WITH " + ", ".join(ctes) + f" SELECT q FROM {prev}"
    got = [r[0] for r in con.execute(sql).fetchall()]
    want = [py_fdivh(a, b) for a, b in cases]
    assert got == want, [
        (c, g, w) for c, g, w in zip(cases, got, want) if g != w
    ][:5]


def test_fdivh_spark_matches_python(spark):
    cases = _fdivh_cases()
    df = spark.createDataFrame(
        [(str(a), str(b)) for a, b in cases], "a string, b string"
    ).selectExpr(
        "CAST(a AS DECIMAL(38,0)) AS num", "CAST(b AS DECIMAL(38,0)) AS den"
    )
    for name, expr in sql_fdivh_steps("q", "num", "den"):
        df = df.selectExpr("*", f"{expr} AS {name}")
    got = [r.q for r in df.select("q").collect()]
    want = [py_fdivh(a, b) for a, b in cases]
    assert got == want, [
        (c, g, w) for c, g, w in zip(cases, got, want) if g != w
    ][:5]


# ------------------------------------------- probe cross-consistency


def test_probes_agree_with_each_other(spark, sf_dir):
    """The three bisection probes describe ONE statistic: the exact
    BIGINT surface must reproduce the float surface to within its
    documented quantized-average definition drift (<= a few 1e-6
    units), and the sums surface must derive both."""
    from rippled_historical_database_spark.operators.sketches import (
        sketch_central_moments,
        sketch_central_moments_derived,
        sketch_central_moments_exact,
    )

    sums = {r.event_type: r for r in sketch_central_moments(spark, sf_dir).collect()}
    der = {
        r.event_type: r
        for r in sketch_central_moments_derived(spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r
        for r in sketch_central_moments_exact(spark, sf_dir).collect()
    }
    assert set(sums) == set(der) == set(exact) and sums
    for et, s in sums.items():
        d, x = der[et], exact[et]
        assert x.n == s.n
        # mean is a single quantization on both paths: must agree to
        # the last 1e-6 unit
        assert x.mean_e6 == round(d.mean * 1e6)
        # quantized-average definition drift on the higher moments
        assert abs(x.m2_e6 / 1e6 - d.m2) < 5e-4 * max(1.0, abs(d.m2))
        assert x.skew_sign == (1 if d.skewness > 0 else -1 if d.skewness < 0 else 0)
        skew_from_exact = x.skew_sign * math.sqrt(x.skew_sq_e6 / 1e6)
        assert abs(skew_from_exact - d.skewness) < 1e-3
        assert abs(x.exkurt_e6 / 1e6 - d.excess_kurtosis) < 1e-2
        # sums remain the mergeable source of truth for both (r15: the
        # exact surface ships base-10^18 BIGINT limb pairs; recombine)
        s1 = (s.s1_hi * 10**18 + s.s1_lo) / 100.0
        mean = s1 / s.n
        assert abs(mean - d.mean) < 1e-5


def _strict_compare(spark, con, qname: str, sf_dir: str):
    from rippled_historical_database_spark.plans.registry import all_queries
    from tests.oracle import compare

    q = all_queries()[qname]
    errs = compare(q.spark(spark, sf_dir), con, q.oracle, strict=True)
    assert not errs, (qname, errs[:3])


@pytest.mark.parametrize(
    "qname",
    [
        "sketch_central_moments",
        "sketch_central_moments_derived",
        "sketch_central_moments_exact",
    ],
)
def test_probe_strict_oracle(spark, duck, sf_dir, qname):
    _strict_compare(spark, duck, qname, sf_dir)


# -------------------------------------- adversarial synthetic corpus


def test_exact_probe_adversarial_values(spark, tmp_path):
    """Envelope-edge corpus: values at the documented |value| <= 1500
    boundary, negatives, ties on the 2-dp grid, a constant group
    (degenerate -> NULL skew/kurt), and a two-point group -- the exact
    probe must stay bit-identical to DuckDB on all of it."""
    import duckdb

    from rippled_historical_database_spark.plans.registry import all_queries
    from tests.oracle import compare

    rng = random.Random(7)
    rows = []
    for i in range(4000):
        rows.append(("edge", round(rng.uniform(-1499.99, 1499.99), 2)))
    rows += [("const", 42.42)] * 997
    rows += [("twopoint", 0.01), ("twopoint", 1499.99)] * 300
    rows += [("tiny", round(rng.uniform(0.0, 0.05), 2)) for _ in range(500)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    p = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(p)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{p}/*.parquet'")
    q = all_queries()["sketch_central_moments_exact"]
    errs = compare(q.spark(spark, str(tmp_path)), con, q.oracle, strict=True)
    assert not errs, errs[:5]
    got = {r.event_type: r for r in q.spark(spark, str(tmp_path)).collect()}
    assert got["const"].m2_e6 == 0
    assert got["const"].skew_sign is None
    assert got["const"].skew_sq_e6 is None
    assert got["const"].exkurt_e6 is None
    assert got["edge"].m2_e6 > 0 and got["twopoint"].skew_sq_e6 is not None
