"""Laws for the round-7 operator batch beyond the driver's oracle
compare: MACD vs an independent Python recursion, novelty/assortativity
identities, Benford counts, HLL set algebra, gap-run accounting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rippled_historical_database_spark.plans.registry import all_queries


@pytest.fixture(scope="module")
def qs():
    return all_queries()


# ----------------------------------------------------------------- MACD

from tests.rounding import fround_py as _r  # noqa: E402 -- shared fround replay


def _python_macd(closes, fast=12, slow=26, sig=9):
    def ema(xs, n):
        out, s, e = [], 0.0, None
        for i, x in enumerate(xs, 1):
            if i < n:
                s += x
            elif i == n:
                e = _r((s + x) / n)
                out.append(e)
            else:
                e = _r((2.0 / (n + 1)) * x + (1.0 - 2.0 / (n + 1)) * e)
                out.append(e)
        return out
    e_f, e_s = ema(closes, fast), ema(closes, slow)
    macd = [_r(f - s) for f, s in zip(e_f[slow - fast:], e_s)]
    signal = ema(macd, sig)
    macd_tail = macd[sig - 1:]
    return [
        (m, s, _r(m - s, 6)) for m, s in zip(macd_tail, signal)
    ]


def test_macd_matches_python_recursion(spark, sf_dir, qs):
    from rippled_historical_database_spark.operators.candles import (
        bars,
    )

    closes = (
        bars(spark, sf_dir)
        .select("pair", "bucket", "close")
        .orderBy("pair", "bucket")
        .collect()
    )
    by_pair: dict[str, list[float]] = {}
    for row in closes:
        by_pair.setdefault(row["pair"], []).append(float(row["close"]))

    got: dict[str, list] = {}
    for row in qs["window_macd"].spark(spark, sf_dir).collect():
        got.setdefault(row["pair"], []).append(
            (row["macd"], row["signal"], row["histogram"])
        )

    for pair, series in by_pair.items():
        expect = _python_macd(series)
        assert got.get(pair, []) == pytest.approx(expect, abs=1e-9), pair


def test_macd_emission_offset(spark, sf_dir, qs):
    from rippled_historical_database_spark.operators.candles import (
        MACD_SIG,
        MACD_SLOW,
        bars,
    )

    n_closes = {
        r["pair"]: r["count"]
        for r in bars(spark, sf_dir)
        .select("pair", "bucket", "close")
        .groupBy("pair")
        .count()
        .collect()
    }
    got = qs["window_macd"].spark(spark, sf_dir).groupBy("pair").count().collect()
    for row in got:
        assert row["count"] == n_closes[row["pair"]] - (MACD_SLOW + MACD_SIG - 2)


# -------------------------------------------------------------- novelty

def test_novelty_identities(spark, sf_dir, qs):
    rows = qs["text_ngram_novelty"].spark(spark, sf_dir).collect()
    assert rows, "no documents with >= 3 tokens?"
    by_id = {r["doc_id"]: r for r in rows}
    first = by_id[min(by_id)]
    # the earliest doc's shingles cannot have appeared earlier
    assert first["n_novel"] == first["n_shingles"]
    assert first["novelty_rate"] == 1.0
    for r in rows:
        assert 0 <= r["n_novel"] <= r["n_shingles"]
        assert 0.0 <= r["novelty_rate"] <= 1.0

    # total novel shingles == corpus-wide distinct shingles (every
    # distinct shingle is novel in exactly one doc: its first)
    from rippled_historical_database_spark.operators.dedup import doc_shingles
    from rippled_historical_database_spark.sources.catalog import load_table

    distinct = (
        doc_shingles(load_table(spark, sf_dir, "documents"))
        .select("shingle")
        .distinct()
        .count()
    )
    assert sum(r["n_novel"] for r in rows) == distinct


# ------------------------------------------------------- assortativity

def test_assortativity_matches_python(spark, sf_dir, qs):
    from rippled_historical_database_spark.operators.graph import _edges

    edges = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in _edges(spark, sf_dir).collect()
        if r["src"] != r["dst"]
    }
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs, ys = [], []
    for a, b in edges:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    m = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
    import math

    expect = (m * sxy - sx * sy) / (
        math.sqrt(m * sxx - sx * sx) * math.sqrt(m * syy - sy * sy)
    )
    row = qs["graph_degree_assortativity"].spark(spark, sf_dir).collect()[0]
    assert row["n_edges"] == len(edges)
    assert row["n_nodes"] == len(deg)
    assert row["assortativity"] == pytest.approx(round(expect, 6), abs=1e-6)
    assert -1.0 <= row["assortativity"] <= 1.0


# ------------------------------------------------------------- Benford

def test_benford_counts(spark, sf_dir, qs):
    from rippled_historical_database_spark.sources.catalog import load_table

    rows = qs["profile_benford_deviation"].spark(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    per_type = {
        r["event_type"]: r["count"]
        for r in e.groupBy("event_type").count().collect()
    }
    assert {r["event_type"] for r in rows} == set(per_type)
    for r in rows:
        assert r["n"] == per_type[r["event_type"]]
        assert r["chi2"] >= 0.0
        assert 0.0 <= r["max_abs_dev"] <= 1.0
        assert r["deviates"] == (r["chi2"] > 15.507)


# ------------------------------------------------------ HLL set algebra

def test_hll_intersection_algebra(spark, sf_dir, qs):
    row = qs["sketch_hll_intersection"].spark(spark, sf_dir).collect()[0]
    a, b = row["est_purchase_users"], row["est_click_users"]
    u, i = row["est_union"], row["est_intersection"]
    # inclusion-exclusion is an exact identity over the three estimates
    assert i == pytest.approx(round(a + b - u, 4), abs=1e-9)
    # max-merged registers can only estimate >= either input sketch
    assert u >= max(a, b) - 1e-9
    assert i <= min(a, b) + 1e-9


# ------------------------------------------------------------ gap runs

def test_candle_gap_accounting(spark, sf_dir, qs):
    from rippled_historical_database_spark.sources.catalog import load_table

    rows = qs["agg_candle_gaps"].spark(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events")
    b = e.select(
        F.col("event_type").alias("pair"),
        F.date_trunc("hour", "ts").alias("bucket"),
    ).distinct()
    stats = {
        r["pair"]: r
        for r in b.groupBy("pair")
        .agg(
            F.count("*").alias("active"),
            F.min("bucket").alias("mn"),
            F.max("bucket").alias("mx"),
        )
        .collect()
    }
    missing_by_pair: dict[str, int] = {}
    for r in rows:
        missing_by_pair[r["pair"]] = missing_by_pair.get(r["pair"], 0) + r["n_missing"]
        s = stats[r["pair"]]
        assert s["mn"] < r["gap_start"] <= r["gap_end"] < s["mx"]
        span_h = int((r["gap_end"] - r["gap_start"]).total_seconds() // 3600) + 1
        assert span_h == r["n_missing"]  # runs are maximal-consecutive
    for pair, s in stats.items():
        expected = int((s["mx"] - s["mn"]).total_seconds() // 3600) + 1
        assert missing_by_pair.get(pair, 0) == expected - s["active"], pair


# ---------------------------------------------- clustering coefficient

def test_clustering_coefficient_matches_python(spark, sf_dir, qs):
    from rippled_historical_database_spark.operators.graph import _edges

    und = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in _edges(spark, sf_dir).collect()
        if r["src"] != r["dst"]
    }
    adj: dict[int, set] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rows = qs["graph_clustering_coefficient"].spark(spark, sf_dir).collect()
    got = {r["node"]: r for r in rows}
    assert set(got) == {n for n, nb in adj.items() if len(nb) >= 2}
    for n, nb in adj.items():
        if len(nb) < 2:
            continue
        tri = sum(
            1
            for x in nb
            for y in nb
            if x < y and y in adj[x]
        )
        d = len(nb)
        assert got[n]["degree"] == d
        assert got[n]["triangles"] == tri
        assert got[n]["clustering_coeff"] == pytest.approx(
            round(tri / (d * (d - 1) / 2), 6), abs=1e-9
        )
        assert 0.0 <= got[n]["clustering_coeff"] <= 1.0


# -------------------------------------------------- seasonal baseline

def test_seasonal_baseline_cell_laws(spark, sf_dir, qs):
    rows = qs["profile_seasonal_baseline"].spark(spark, sf_dir).collect()
    assert rows
    # z-scores within one seasonal cell must sum to ~0 (mean-centred)
    cells: dict[tuple, list] = {}
    for r in rows:
        dow = int(r["bucket"].timestamp()) // 86400 % 7
        hod = int(r["bucket"].timestamp()) // 3600 % 24
        cells.setdefault((r["event_type"], dow, hod), []).append(r["z"])
    for key, zs in cells.items():
        assert len(zs) >= 3, key  # n >= 3 filter held
        assert sum(zs) == pytest.approx(0.0, abs=1e-4), key


# ----------------------------------------------- streaming gap alerts

def test_stream_gaps_equal_batch_gaps(spark, sf_dir, qs):
    batch = {
        (r["pair"], r["gap_start"], r["gap_end"], r["n_missing"])
        for r in qs["agg_candle_gaps"].spark(spark, sf_dir).collect()
    }
    streamed = {
        (r["pair"], r["gap_start"], r["gap_end"], r["n_missing"])
        for r in qs["stream_candle_gap_alerts"].spark(spark, sf_dir).collect()
    }
    assert streamed == batch


# ------------------------------------------------------------------ OBV

def test_obv_matches_python(spark, sf_dir, qs):
    from rippled_historical_database_spark.operators.candles import (
        bars,
    )
    from rippled_historical_database_spark.sources.catalog import load_table

    closes = {
        (r["pair"], r["bucket"]): r["close"]
        for r in bars(spark, sf_dir)
        .select("pair", "bucket", "close")
        .collect()
    }
    vols = {
        (r["event_type"], r["bucket"]): r["count"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .count()
        .collect()
    }
    series: dict[str, list] = {}
    for (pair, bucket), close in sorted(closes.items(), key=lambda kv: kv[0]):
        series.setdefault(pair, []).append((bucket, close, vols[(pair, bucket)]))
    expect: dict[tuple, int] = {}
    for pair, rows in series.items():
        obv = 0
        for (b, c, v), (_, pc, _v) in zip(rows[1:], rows):
            obv += v if c > pc else (-v if c < pc else 0)
            expect[(pair, b)] = obv
    got = {
        (r["pair"], r["bucket"]): r["obv"]
        for r in qs["window_obv"].spark(spark, sf_dir).collect()
    }
    assert got == expect


# --------------------------------------------------- minhash calibration

def test_minhash_calibration_laws(spark, sf_dir, qs):
    rows = qs["dedup_minhash_calibration"].spark(spark, sf_dir).collect()
    assert rows, "no LSH candidates at this SF?"
    for r in rows:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 <= r["exact_jaccard"] <= 1.0
        assert r["abs_err"] == pytest.approx(
            round(abs(r["est_jaccard"] - r["exact_jaccard"]), 6), abs=1e-9
        )
    # with k=8 hashes the estimator std is sqrt(J(1-J)/8) <= 0.177;
    # candidates additionally passed a band match, so the MEAN absolute
    # error across candidates should sit well under 2 sigma.
    mean_err = sum(r["abs_err"] for r in rows) / len(rows)
    assert mean_err < 0.35, mean_err


# ------------------------------------------------- ATR (Wilder) + stochastic

def _python_atr(bars, n=14):
    """bars: [(bucket, high, low, close)] sorted; returns [(bucket, atr)]."""
    out, s, atr, pc = [], 0.0, None, None
    for i, (b, hi, lo, cl) in enumerate(bars, 1):
        tr = (hi - lo) if pc is None else max(hi - lo, abs(hi - pc), abs(lo - pc))
        tr = _r(tr)
        if i < n:
            s += tr
        elif i == n:
            atr = _r((s + tr) / n)
            out.append((b, atr))
        else:
            atr = _r((atr * (n - 1) + tr) / n)
            out.append((b, atr))
        pc = cl
    return out


def _ohlc_bars(spark, sf_dir):
    from rippled_historical_database_spark.operators.candles import bars

    by_pair: dict[str, list] = {}
    for r in (
        bars(spark, sf_dir)
        .select("pair", "bucket", "high", "low", "close")
        .orderBy("pair", "bucket")
        .collect()
    ):
        by_pair.setdefault(r["pair"], []).append(
            (r["bucket"], float(r["high"]), float(r["low"]), float(r["close"]))
        )
    return by_pair


def test_atr_matches_python_recursion(spark, sf_dir, qs):
    bars = _ohlc_bars(spark, sf_dir)
    got: dict[str, list] = {}
    for r in qs["window_atr_wilder"].spark(spark, sf_dir).collect():
        got.setdefault(r["pair"], []).append((r["bucket"], r["atr"]))
    for pair, series in bars.items():
        expect = _python_atr(series)
        assert len(got.get(pair, [])) == len(expect), pair
        for (gb, ga), (eb, ea) in zip(got[pair], expect):
            assert gb == eb and ga == pytest.approx(ea, abs=1e-9), pair


def test_atr_positive_and_bounded_by_max_range(spark, sf_dir, qs):
    """ATR is a convex combination of true ranges, so it must sit in
    (0, max TR] -- and every OHLC bar has high >= low by construction."""
    bars = _ohlc_bars(spark, sf_dir)
    max_tr = {
        p: max(
            max(
                hi - lo,
                abs(hi - (rows[i - 1][3] if i else hi)),
                abs(lo - (rows[i - 1][3] if i else lo)),
            )
            for i, (_, hi, lo, _c) in enumerate(rows)
        )
        for p, rows in bars.items()
    }
    for r in qs["window_atr_wilder"].spark(spark, sf_dir).collect():
        assert 0.0 < r["atr"] <= max_tr[r["pair"]] + 1e-9, r


def test_stochastic_matches_python(spark, sf_dir, qs):
    bars = _ohlc_bars(spark, sf_dir)
    got: dict[str, list] = {}
    for r in qs["window_stochastic_oscillator"].spark(spark, sf_dir).collect():
        got.setdefault(r["pair"], []).append((r["bucket"], r["pct_k"], r["pct_d"]))
    n, d = 14, 3
    for pair, rows in bars.items():
        ks = []
        for i in range(n - 1, len(rows)):
            window = rows[i - n + 1 : i + 1]
            hi = max(h for _, h, _l, _c in window)
            lo = min(lo_ for _, _h, lo_, _c in window)
            cl = rows[i][3]
            k = 50.0 if hi == lo else _r(100.0 * (cl - lo) / (hi - lo))
            ks.append((rows[i][0], k))
        expect = [
            (b, k, _r((ks[j - 2][1] + ks[j - 1][1] + k) / 3.0))
            for j, (b, k) in enumerate(ks)
            if j >= d - 1
        ]
        assert len(got.get(pair, [])) == len(expect), pair
        for g, e in zip(got[pair], expect):
            assert g[0] == e[0], pair
            assert g[1] == pytest.approx(e[1], abs=1e-9), pair
            assert g[2] == pytest.approx(e[2], abs=1e-9), pair


def test_stochastic_bounds(spark, sf_dir, qs):
    """%K and %D live in [0, 100] by construction (close is inside the
    channel that includes its own bar)."""
    for r in qs["window_stochastic_oscillator"].spark(spark, sf_dir).collect():
        assert -1e-9 <= r["pct_k"] <= 100.0 + 1e-9, r
        assert -1e-9 <= r["pct_d"] <= 100.0 + 1e-9, r


# --------------------------------------------- Cramér's V + Gini

def test_cramers_v_matches_full_spine_python(spark, sf_dir, qs):
    """The spine-free chi-square identity must equal the textbook
    full-contingency form computed over the explicit lang x source
    cross product (absent cells contribute (0-e)^2/e = e)."""
    from rippled_historical_database_spark.sources.catalog import load_table

    joint = {
        (r["lang"], r["source"]): r["count"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .count()
        .collect()
    }
    langs = sorted({k[0] for k in joint})
    sources = sorted({k[1] for k in joint})
    n = sum(joint.values())
    n_x = {x: sum(v for (xx, _), v in joint.items() if xx == x) for x in langs}
    n_y = {y: sum(v for (_, yy), v in joint.items() if yy == y) for y in sources}
    chi2 = 0.0
    for x in langs:
        for y in sources:
            e = n_x[x] * n_y[y] / n
            chi2 += (joint.get((x, y), 0) - e) ** 2 / e
    import math

    v = math.sqrt(chi2 / (n * (min(len(langs), len(sources)) - 1)))
    row = qs["profile_cramers_v"].spark(spark, sf_dir).collect()[0]
    assert row["n"] == n and row["r"] == len(langs) and row["c"] == len(sources)
    assert row["dof"] == (len(langs) - 1) * (len(sources) - 1)
    # the engine rounds per-cell terms at 1e-9 before the exact decimal
    # sum; the python form is unrounded, so compare at the grid's scale
    assert row["chi2"] == pytest.approx(chi2, abs=1e-4)
    assert row["cramers_v"] == pytest.approx(v, abs=1e-6)
    assert 0.0 <= row["cramers_v"] <= 1.0


def test_gini_matches_python_and_is_tie_independent(spark, sf_dir, qs):
    from rippled_historical_database_spark.sources.catalog import load_table

    lens: dict[str, list[int]] = {}
    for r in (
        load_table(spark, sf_dir, "documents")
        .select("source", "n_chars")
        .collect()
    ):
        lens.setdefault(r["source"], []).append(r["n_chars"])
    got = {
        r["source"]: (r["n_docs"], r["total_chars"], r["gini"])
        for r in qs["profile_gini_concentration"].spark(spark, sf_dir).collect()
    }
    assert set(got) == set(lens)
    for src, xs in lens.items():
        xs.sort()
        n, tot = len(xs), sum(xs)
        g = sum((2 * i - n - 1) * x for i, x in enumerate(xs, 1)) / (n * tot)
        assert got[src][0] == n and got[src][1] == tot
        assert got[src][2] == pytest.approx(round(g, 6), abs=1e-9)
        # Gini of non-negative data lives in [0, 1)
        assert 0.0 <= got[src][2] < 1.0


# --------------------------------------------- Keltner channels

def test_keltner_matches_python_recursion(spark, sf_dir, qs):
    from rippled_historical_database_spark.operators.candles import (
        KC_ATR_N,
        KC_K,
        KC_N,
    )

    bars = _ohlc_bars(spark, sf_dir)
    got: dict[str, list] = {}
    for r in qs["window_keltner_channels"].spark(spark, sf_dir).collect():
        got.setdefault(r["pair"], []).append(
            (r["bucket"], r["mid"], r["upper"], r["lower"])
        )
    for pair, rows in bars.items():
        tps, trs, pc = [], [], None
        for b, hi, lo, cl in rows:
            tps.append((b, _r((hi + lo + cl) / 3.0)))
            if pc is None:
                trs.append(_r(hi - lo))
            else:
                trs.append(_r(max(hi - lo, abs(hi - pc), abs(lo - pc))))
            pc = cl

        def ema(xs, n, wilder=False):
            out, s, e = [], 0.0, None
            for i, x in enumerate(xs, 1):
                if i < n:
                    s += x
                elif i == n:
                    e = _r((s + x) / n)
                    out.append(e)
                else:
                    if wilder:
                        e = _r((e * (n - 1) + x) / n)
                    else:
                        al = 2.0 / (n + 1)
                        e = _r(al * x + (1.0 - al) * e)
                    out.append(e)
            return out

        mids = ema([v for _, v in tps], KC_N)
        atrs = ema(trs, KC_ATR_N, wilder=True)[KC_N - KC_ATR_N:]
        buckets = [b for b, _ in tps][KC_N - 1:]
        expect = [
            (b, m, _r(m + KC_K * a), _r(m - KC_K * a))
            for b, m, a in zip(buckets, mids, atrs)
        ]
        assert len(got.get(pair, [])) == len(expect), pair
        for g, e in zip(got[pair], expect):
            assert g[0] == e[0], pair
            assert g[1:] == pytest.approx(e[1:], abs=1e-9), (pair, g, e)


def test_keltner_band_symmetry(spark, sf_dir, qs):
    """upper + lower == 2 * mid (exact in decimal, 1e-9 in float) and
    upper >= mid >= lower (ATR >= 0)."""
    for r in qs["window_keltner_channels"].spark(spark, sf_dir).collect():
        assert r["upper"] + r["lower"] == pytest.approx(2 * r["mid"], abs=2e-9)
        assert r["upper"] >= r["mid"] >= r["lower"]


# ------------------------------------------ return correlation matrix

def test_return_correlation_matches_python(spark, sf_dir, qs):
    import math

    from rippled_historical_database_spark.operators.candles import (
        bars,
    )

    closes: dict[str, list] = {}
    for r in (
        bars(spark, sf_dir)
        .select("pair", "bucket", "close")
        .orderBy("pair", "bucket")
        .collect()
    ):
        closes.setdefault(r["pair"], []).append((r["bucket"], float(r["close"])))
    rets: dict[str, dict] = {}
    for pair, series in closes.items():
        for (b1, c1), (_b0, c0) in zip(series[1:], series):
            rets.setdefault(pair, {})[b1] = _r(math.log(c1 / c0))

    got = {
        (r["pair_a"], r["pair_b"]): (r["n_obs"], r["corr"])
        for r in qs["agg_return_correlation"].spark(spark, sf_dir).collect()
    }
    pairs = sorted(rets)
    expect_keys = set()
    for i, pa in enumerate(pairs):
        for pb in pairs[i + 1:]:
            common = sorted(set(rets[pa]) & set(rets[pb]))
            if not common:
                continue
            expect_keys.add((pa, pb))
            xs = [rets[pa][b] for b in common]
            ys = [rets[pb][b] for b in common]
            n = len(xs)
            sx, sy = sum(xs), sum(ys)
            sxy = sum(x * y for x, y in zip(xs, ys))
            sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
            den = math.sqrt(max(n * sxx - sx * sx, 0)) * math.sqrt(
                max(n * syy - sy * sy, 0)
            )
            g_n, g_corr = got[(pa, pb)]
            assert g_n == n, (pa, pb)
            if den == 0:
                assert g_corr is None, (pa, pb)
            else:
                expect = (n * sxy - sx * sy) / den
                # python float sums vs decimal-exact engine sums: the
                # check is statistical agreement, not bit equality
                assert g_corr == pytest.approx(expect, abs=1e-6), (pa, pb)
                assert -1.0 - 1e-9 <= g_corr <= 1.0 + 1e-9
    assert set(got) == expect_keys


# ------------------------------------------------------- MAD outliers

def test_mad_outliers_matches_python(spark, sf_dir, qs):
    from rippled_historical_database_spark.operators.profiling import MAD_K
    from rippled_historical_database_spark.sources.catalog import load_table

    vals: dict[str, list] = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value", "event_id")
        .collect()
    ):
        vals.setdefault(r["event_type"], []).append(
            (float(r["value"]), r["event_id"])
        )
    got = {
        r["event_type"]: r
        for r in qs["profile_mad_outliers"].spark(spark, sf_dir).collect()
    }
    assert set(got) == set(vals)
    for et, rows in vals.items():
        rows.sort()
        n = len(rows)
        median = rows[(n + 1) // 2 - 1][0]
        devs = sorted((abs(v - median), eid) for v, eid in rows)
        mad = devs[(n + 1) // 2 - 1][0]
        n_out = sum(1 for d, _ in devs if d > MAD_K * mad)
        g = got[et]
        assert g["n"] == n and g["median"] == median and g["mad"] == mad, et
        assert g["n_outliers"] == n_out, et
        assert g["outlier_rate"] == pytest.approx(round(n_out / n, 6), abs=1e-9)


# --------------------------------------------------- resize planning

def test_resize_plan_matches_python_and_invariants(spark, sf_dir, qs):
    import hashlib

    from rippled_historical_database_spark.operators.multimodal import (
        RESIZE_MAX_H,
        RESIZE_MAX_W,
    )
    from rippled_historical_database_spark.sources.catalog import load_table

    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    got = {
        r["doc_id"]: r
        for r in qs["multimodal_resize_plan"].spark(spark, sf_dir).collect()
    }
    assert set(got) == set(texts)
    for doc_id, text in texts.items():
        h = hashlib.md5(text.encode()).hexdigest()
        w, hgt = int(h[:2], 16) + 16, int(h[2:4], 16) + 16
        if w <= RESIZE_MAX_W and hgt <= RESIZE_MAX_H:
            ow, oh, nr = w, hgt, False
        elif w >= hgt:
            ow, oh, nr = RESIZE_MAX_W, max(hgt * RESIZE_MAX_W // w, 1), True
        else:
            ow, oh, nr = max(w * RESIZE_MAX_H // hgt, 1), RESIZE_MAX_H, True
        g = got[doc_id]
        assert (g["width"], g["height"]) == (w, hgt), doc_id
        assert (g["out_width"], g["out_height"], g["needs_resize"]) == (
            ow, oh, nr,
        ), doc_id
        # invariants: fits in the cap, orientation preserved, resize
        # touches the cap on the long side
        assert g["out_width"] <= RESIZE_MAX_W
        assert g["out_height"] <= RESIZE_MAX_H
        assert (g["width"] >= g["height"]) == (
            g["out_width"] >= g["out_height"]
        )
        if g["needs_resize"]:
            assert max(g["out_width"], g["out_height"]) == RESIZE_MAX_W


# ------------------------------------------------- autocorrelation

def test_autocorrelation_matches_python(spark, sf_dir, qs):
    import math

    from rippled_historical_database_spark.operators.candles import (
        ACF_MAX_LAG,
        bars,
    )

    closes: dict[str, list] = {}
    for r in (
        bars(spark, sf_dir)
        .select("pair", "bucket", "close")
        .orderBy("pair", "bucket")
        .collect()
    ):
        closes.setdefault(r["pair"], []).append(float(r["close"]))
    got = {
        (r["pair"], r["lag"]): (r["n_obs"], r["acf"])
        for r in qs["profile_autocorrelation"].spark(spark, sf_dir).collect()
    }
    for pair, series in closes.items():
        rets = [
            _r(math.log(c1 / c0)) for c0, c1 in zip(series, series[1:])
        ]
        for k in range(1, ACF_MAX_LAG + 1):
            xs, ys = rets[k:], rets[:-k]
            if not xs:
                assert (pair, k) not in got
                continue
            n = len(xs)
            sx, sy = sum(xs), sum(ys)
            sxy = sum(x * y for x, y in zip(xs, ys))
            sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
            den = math.sqrt(max(n * sxx - sx * sx, 0)) * math.sqrt(
                max(n * syy - sy * sy, 0)
            )
            g_n, g_acf = got[(pair, k)]
            assert g_n == n, (pair, k)
            if den == 0:
                assert g_acf is None
            else:
                assert g_acf == pytest.approx(
                    (n * sxy - sx * sy) / den, abs=1e-6
                ), (pair, k)
                assert -1.0 - 1e-9 <= g_acf <= 1.0 + 1e-9


# ----------------------------------------------- Amihud illiquidity

def test_amihud_matches_python(spark, sf_dir, qs):
    import math

    from rippled_historical_database_spark.sources.catalog import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    by_day: dict[tuple, list] = {}
    for r in rows:
        day = r["ts"].replace(hour=0, minute=0, second=0, microsecond=0)
        by_day.setdefault((r["event_type"], day), []).append(
            (r["ts"], r["event_id"], float(r["value"]))
        )
    daily: dict[str, list] = {}
    for (pair, day), evs in sorted(by_day.items()):
        evs.sort()
        daily.setdefault(pair, []).append((day, evs[-1][2], len(evs)))
    got = {
        r["pair"]: (r["n_days"], r["amihud_illiq"])
        for r in qs["agg_amihud_illiquidity"].spark(spark, sf_dir).collect()
    }
    for pair, series in daily.items():
        ratios = [
            _r(_r(abs(math.log(c1 / c0))) / v1, 12)
            for (_, c0, _v0), (_, c1, v1) in zip(series, series[1:])
        ]
        n = len(ratios)
        expect = round(1e6 * sum(ratios) / n, 6)
        assert got[pair][0] == n, pair
        assert got[pair][1] == pytest.approx(expect, abs=1e-5), pair
        assert got[pair][1] >= 0.0


# -------------------------------------------- Matryoshka recall

def test_matryoshka_recall_matches_python(spark, sf_dir, qs):
    import math

    from rippled_historical_database_spark.operators.similarity import (
        MRL_DIMS,
        N_QUERIES,
        TOP_K,
    )
    from rippled_historical_database_spark.sources.catalog import load_table

    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def topk(d):
        out = {}
        for q in range(N_QUERIES):
            qv = vecs[q][:d] if d else vecs[q]
            qn = math.sqrt(sum(x * x for x in qv))
            scored = []
            for cid, cv in vecs.items():
                if cid == q:
                    continue
                c = cv[:d] if d else cv
                cn = math.sqrt(sum(x * x for x in c))
                cos = sum(a * b for a, b in zip(qv, c)) / (qn * cn)
                scored.append((-cos, cid))
            scored.sort()
            out[q] = {cid for _, cid in scored[:TOP_K]}
        return out

    gt = topk(None)
    got = {
        (r["dim"], r["query_id"]): r
        for r in qs["ann_matryoshka_recall"].spark(spark, sf_dir).collect()
    }
    assert set(got) == {
        (d, q) for d in MRL_DIMS for q in range(N_QUERIES)
    }
    for d in MRL_DIMS:
        found = topk(d)
        for q in range(N_QUERIES):
            hits = len(gt[q] & found[q])
            r = got[(d, q)]
            assert r["n_true"] == TOP_K
            assert r["n_hit"] == hits, (d, q)
            assert r["recall_at_k"] == pytest.approx(hits / TOP_K, abs=1e-12)
            assert 0.0 <= r["recall_at_k"] <= 1.0


# ----------------------------------------------------- CUSUM drift

def test_cusum_matches_python(spark, sf_dir, qs):
    import math

    from rippled_historical_database_spark.operators.anomaly import (
        CUSUM_H,
        CUSUM_K,
    )
    from rippled_historical_database_spark.sources.catalog import load_table

    counts: dict[str, dict] = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .count()
        .collect()
    ):
        counts.setdefault(r["event_type"], {})[r["day"]] = r["count"]

    got: dict[str, list] = {}
    for r in qs["profile_cusum_drift"].spark(spark, sf_dir).collect():
        got.setdefault(r["event_type"], []).append(
            (r["day"], r["s_pos"], r["s_neg"], r["alarm"])
        )

    for et, by_day in counts.items():
        days = sorted(by_day)
        xs = [by_day[d] for d in days]
        n, sx, sxx = len(xs), sum(xs), sum(x * x for x in xs)
        sigma = math.sqrt(max(n * sxx - sx * sx, 1.0) / n / n)
        mu = sx / n
        zs = [_r((x - mu) / sigma) for x in xs]
        sp = sn = 0.0
        expect = []
        for d, z in zip(days, zs):
            sp = _r(max(0.0, sp + z - CUSUM_K))
            sn = _r(max(0.0, sn - z - CUSUM_K))
            expect.append((d, sp, sn, sp > CUSUM_H or sn > CUSUM_H))
        assert len(got[et]) == len(expect), et
        for g, e in zip(got[et], expect):
            assert g[0] == e[0] and g[3] == e[3], (et, g, e)
            assert g[1] == pytest.approx(e[1], abs=1e-9)
            assert g[2] == pytest.approx(e[2], abs=1e-9)
        # both sides are non-negative by construction
        assert all(g[1] >= 0.0 and g[2] >= 0.0 for g in got[et])


# -------------------------------------------- interval overlap join

def test_interval_overlap_segmentation_laws(spark, sf_dir, qs):
    """(1) every segment is inside both its session and a tier
    interval; (2) a session's segments tile it without overlap for
    users whose tier history covers the session; (3) replaying the
    overlap predicate in Python over the two registered relations
    reproduces the row set exactly."""
    sessions = {
        (r["user_id"], r["session_id"]): (r["session_start"], r["session_end"])
        for r in qs["window_sessionize"].spark(spark, sf_dir).collect()
    }
    tiers: dict[int, list] = {}
    for r in qs["scd2_user_tier"].spark(spark, sf_dir).collect():
        tiers.setdefault(r["user_id"], []).append(
            (r["valid_from"], r["valid_to"], r["tier"])
        )
    expect = set()
    for (uid, sid), (ss, se) in sessions.items():
        for vf, vt, tier in tiers.get(uid, []):
            if vf <= se and (vt is None or vt > ss):
                seg_s = max(ss, vf)
                seg_e = se if vt is None else min(se, vt)
                expect.add((uid, sid, tier, seg_s, seg_e))

    rows = qs["join_interval_overlap"].spark(spark, sf_dir).collect()
    got = {
        (r["user_id"], r["session_id"], r["tier"], r["seg_start"], r["seg_end"])
        for r in rows
    }
    assert got == expect
    by_session: dict[tuple, list] = {}
    for r in rows:
        ss, se = sessions[(r["user_id"], r["session_id"])]
        assert ss <= r["seg_start"] <= r["seg_end"] <= se
        by_session.setdefault((r["user_id"], r["session_id"]), []).append(
            (r["seg_start"], r["seg_end"])
        )
    # segments within a session are non-overlapping and ordered
    # (half-open tier intervals: next seg starts exactly at prev end)
    for segs in by_session.values():
        segs.sort()
        for (s1, e1), (s2, _e2) in zip(segs, segs[1:]):
            assert e1 <= s2 or e1 == s2, (segs,)
