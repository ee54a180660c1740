"""Metric operators validated against independent numpy reference
implementations (pycox/lifelines are not installed in this container; the
references below implement the same published definitions: Kaplan-Meier
product-limit, Harrell/Antolini concordance, Graf IPCW Brier)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from elastic_surv_spark.metrics import concordance
from elastic_surv_spark.metrics.brier import (
    brier_curve,
    integrated_brier_score,
    surv_from_curve,
)
from elastic_surv_spark.metrics.concordance import (
    concordance_td,
    harrell_cindex,
    harrell_cindex_counts,
)
from elastic_surv_spark.metrics.km import km_curve


@pytest.fixture(scope="module")
def surv_pdf():
    rng = np.random.default_rng(42)
    n = 80
    t = np.round(rng.weibull(1.3, n) * 10, 2) + 0.01
    e = rng.binomial(1, 0.6, n)
    risk = np.round(-t + rng.normal(0, 2, n), 3)  # informative risk
    return pd.DataFrame({"t": t, "e": e, "risk": risk})


# ---------------------------------------------------------------- numpy refs
def np_km(t, e):
    order = np.argsort(t)
    t, e = t[order], e[order]
    times = np.unique(t)
    surv = {}
    s = 1.0
    for u in times:
        at_risk = (t >= u).sum()
        d = ((t == u) & (e == 1)).sum()
        if at_risk > 0:
            s *= 1 - d / at_risk
        surv[u] = s
    return times, np.array([surv[u] for u in times])


def np_step(ts, vals, x, strict=False):
    idx = np.searchsorted(ts, x, side="left" if strict else "right") - 1
    return vals[idx] if idx >= 0 else 1.0


def np_harrell(t, e, risk):
    conc = tied = comp = 0
    n = len(t)
    for i in range(n):
        if e[i] != 1:
            continue
        for j in range(n):
            if t[i] < t[j]:
                comp += 1
                if risk[i] > risk[j]:
                    conc += 1
                elif risk[i] == risk[j]:
                    tied += 1
    return comp, conc, tied, (conc + 0.5 * tied) / comp


def np_antolini(t, e, cuts, surv_matrix):
    """Antolini td-concordance counts: S_i(t) = surv[i, max {k : cuts[k]
    <= t}], 1.0 before the first cut; (comparable, concordant, tied)."""

    def s_at(i, tau):
        idx = np.searchsorted(cuts, tau, side="right") - 1
        return surv_matrix[i, idx] if idx >= 0 else 1.0

    conc = tied = comp = 0
    n = len(t)
    for i in range(n):
        if e[i] != 1:
            continue
        for j in range(n):
            if t[i] < t[j]:
                comp += 1
                si, sj = s_at(i, t[i]), s_at(j, t[i])
                if si < sj:
                    conc += 1
                elif si == sj:
                    tied += 1
    return comp, conc, tied


def np_ipcw_brier(t, e, cuts, surv_matrix, grid):
    # surv_matrix: [n, len(cuts)] — subject i's survival at each cut
    ct, cs = np_km(t, 1 - e)

    def s_at(i, tau):
        idx = np.searchsorted(cuts, tau, side="right") - 1
        return surv_matrix[i, idx] if idx >= 0 else 1.0

    out = []
    n = len(t)
    for tau in grid:
        total = 0.0
        for i in range(n):
            g_tm = np_step(ct, cs, t[i], strict=True)
            g_tau = np_step(ct, cs, tau)
            if t[i] <= tau and e[i] == 1 and g_tm > 0:
                total += s_at(i, tau) ** 2 / g_tm
            elif t[i] > tau and g_tau > 0:
                total += (1 - s_at(i, tau)) ** 2 / g_tau
        out.append(total / n)
    return np.array(out)


# ------------------------------------------------------------------- tests
def test_km_matches_numpy(spark, surv_pdf):
    df = spark.createDataFrame(surv_pdf)
    got = km_curve(df, "t", "e", round_to=None).orderBy("t").toPandas()
    times, surv = np_km(surv_pdf["t"].to_numpy(), surv_pdf["e"].to_numpy())
    assert np.allclose(got["t"], times)
    assert np.allclose(got["survival"], surv, atol=1e-12)
    # n_risk sanity: first row has everyone at risk
    assert got["n_risk"].iloc[0] == len(surv_pdf)


def test_harrell_matches_numpy(spark, surv_pdf):
    df = spark.createDataFrame(surv_pdf)
    row = harrell_cindex_counts(df, "t", "e", "risk").first()
    comp, conc, tied, c = np_harrell(
        surv_pdf["t"].to_numpy(), surv_pdf["e"].to_numpy(), surv_pdf["risk"].to_numpy()
    )
    assert row["n_comparable"] == comp
    assert row["n_concordant"] == conc
    assert row["n_tied"] == tied
    assert abs(row["c_index"] - round(c, 6)) < 1e-9
    assert 0.5 < harrell_cindex(df, "t", "e", "risk") <= 1.0


def test_km_quantized_bounds_curve(spark):
    # continuous times: exact curve = one row per subject; the cap bounds it
    from elastic_surv_spark.metrics.km import quantize_times

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({"t": rng.uniform(0, 100, 3000), "e": rng.integers(0, 2, 3000)})
    df = spark.createDataFrame(pdf)
    curve = km_curve(df, "t", "e", max_curve_points=64).toPandas()
    assert len(curve) <= 65
    # survival is a monotone non-increasing step function starting near 1
    c = curve.sort_values("t")
    assert (c["survival"].diff().dropna() <= 1e-12).all()
    assert c["n_risk"].iloc[0] == 3000
    # below the cap the quantization is a structural no-op (same frame)
    small = spark.createDataFrame(pdf.head(50))
    assert quantize_times(small, "t", 64) is small


def test_km_window_plan_declares_partitioning(spark):
    # the curve windows must not be unpartitioned whole-frame sorts (the
    # "No Partition Defined for Window" one-reducer smell): every Window
    # node in the physical plan must carry the constant partition column
    pdf = pd.DataFrame({"t": [1.0, 2.0, 3.0], "e": [1, 0, 1]})
    plan = (
        km_curve(spark.createDataFrame(pdf), "t", "e")
        ._jdf.queryExecution().executedPlan().toString()
    )
    window_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert window_lines, plan
    for ln in window_lines:
        assert "[_p" in ln, ln  # partition spec present on every window


def test_harrell_bucketed_equals_pairwise(spark, monkeypatch):
    # Both routes of harrell_cindex_counts (the pairwise join and, above
    # the size gate, the bucketed kernel on a constant key) must reproduce
    # the numpy reference counts exactly, including heavy time/risk ties
    # straddling bucket boundaries; tiny n_buckets maximizes boundary cases.
    from elastic_surv_spark.metrics.concordance import harrell_cindex_by_bucketed

    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        n = 400
        pdf = pd.DataFrame(
            {
                "t": rng.integers(0, 40, n).astype(float),  # many time ties
                "e": rng.integers(0, 2, n),
                "risk": rng.integers(-5, 5, n).astype(float),  # many risk ties
            }
        )
        df = spark.createDataFrame(pdf)
        comp, conc, tied, c = np_harrell(
            pdf["t"].to_numpy(), pdf["e"].to_numpy(), pdf["risk"].to_numpy()
        )
        with monkeypatch.context() as m:
            pairwise = tuple(harrell_cindex_counts(df, "t", "e", "risk").first())
            m.setattr(concordance, "EXACT_THRESHOLD", 10)
            routed = tuple(harrell_cindex_counts(df, "t", "e", "risk").first())
        assert pairwise[:3] == (comp, conc, tied), seed
        assert abs(pairwise[3] - c) < 5e-7, seed
        assert routed == pairwise, seed
        keyed = df.withColumn("k", F.lit(0))
        for nb in (1, 3, 8):
            fast = harrell_cindex_by_bucketed(
                keyed, "k", "t", "e", "risk", n_buckets=nb
            ).first()
            assert tuple(fast)[1:] == pairwise, (seed, nb)


def test_harrell_bucketed_plan_has_no_row_join(spark, monkeypatch):
    # Above the size gate the bucketed kernel runs on a constant key: its
    # Spark plan must contain no join operator at all (the pairwise form
    # shows up as BroadcastNestedLoopJoin) — the 100x-scale regression guard.
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {"t": rng.uniform(0, 1, 500), "e": rng.integers(0, 2, 500), "risk": rng.uniform(0, 1, 500)}
    )
    df = spark.createDataFrame(pdf)
    pairwise_plan = (
        harrell_cindex_counts(df, "t", "e", "risk")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in pairwise_plan  # sanity: gate matters
    monkeypatch.setattr(concordance, "EXACT_THRESHOLD", 100)
    plan = (
        harrell_cindex_counts(df, "t", "e", "risk")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_concordance_td_matches_numpy(spark, surv_pdf):
    rng = np.random.default_rng(7)
    cuts = np.quantile(surv_pdf["t"], np.linspace(0, 1, 8)).tolist()
    n = len(surv_pdf)
    # fake monotone survival curves, riskier subjects decay faster
    base = rng.uniform(0.5, 1.0, (n, len(cuts)))
    surv_matrix = np.minimum.accumulate(base, axis=1)
    pdf = surv_pdf.copy()
    pdf["surv"] = [row.tolist() for row in surv_matrix]
    df = spark.createDataFrame(pdf)
    got = concordance_td(df, "t", "e", "surv", cuts)

    comp, conc, tied = np_antolini(
        surv_pdf["t"].to_numpy(), surv_pdf["e"].to_numpy(), cuts, surv_matrix
    )
    want = (conc + 0.5 * tied) / comp
    assert abs(got - want) < 1e-12


def test_ipcw_brier_matches_numpy(spark, surv_pdf):
    t, e = surv_pdf["t"].to_numpy(), surv_pdf["e"].to_numpy()
    cuts = np.quantile(t, np.linspace(0, 1, 8)).tolist()
    times, km = np_km(t, e)
    # model-free predictor: everyone gets the population KM curve
    surv_row = [float(np_step(times, km, c)) for c in cuts]
    surv_matrix = np.tile(surv_row, (len(t), 1))
    pdf = surv_pdf.copy()
    pdf["surv"] = [surv_row] * len(t)
    df = spark.createDataFrame(pdf)

    grid = np.linspace(t.min(), t.max(), 10).tolist()
    got = brier_curve(df, "t", "e", surv_from_curve(cuts, "surv"), grid).toPandas()
    want = np_ipcw_brier(t, e, np.array(cuts), surv_matrix, grid)
    assert np.allclose(np.sort(got["tau"].to_numpy()), grid)
    got_sorted = got.sort_values("k")["brier"].to_numpy()
    assert np.allclose(got_sorted, want, atol=1e-12)

    ibs = integrated_brier_score(df, "t", "e", surv_from_curve(cuts, "surv"), grid)
    want_ibs = np.trapz(want, grid) / (grid[-1] - grid[0])
    assert abs(ibs - want_ibs) < 1e-12
    assert 0 <= ibs <= 1


def test_cumulative_incidence_matches_numpy(spark):
    # Aalen-Johansen parity: F_k(t) = sum_{t_i<=t} S(t_i-) d_ki / n_i with
    # S the any-cause KM; ties and censoring included
    from elastic_surv_spark.metrics.competing import cumulative_incidence

    rng = np.random.default_rng(9)
    n = 300
    t = rng.integers(1, 40, n).astype(float)  # heavy ties
    cause = rng.choice([0, 1, 2], n, p=[0.3, 0.4, 0.3])
    df = spark.createDataFrame(pd.DataFrame({"t": t, "cause": cause}))
    got = (
        cumulative_incidence(df, "t", "cause", n_causes=2, round_to=None)
        .orderBy("t").toPandas()
    )

    times = np.unique(t)
    s_prev, cif = 1.0, {1: 0.0, 2: 0.0}
    exp_cif = {1: [], 2: []}
    for u in times:
        n_risk = (t >= u).sum()
        d = {k: ((t == u) & (cause == k)).sum() for k in (1, 2)}
        for k in (1, 2):
            cif[k] += s_prev * d[k] / n_risk
            exp_cif[k].append(cif[k])
        s_prev *= 1 - (d[1] + d[2]) / n_risk
    assert np.allclose(got["t"], times)
    for k in (1, 2):
        assert np.allclose(got[f"cif_{k}"], exp_cif[k], atol=1e-12), k
    # estimator invariants: monotone, and total incidence + survival == 1
    assert (np.diff(got["cif_1"]) >= -1e-12).all()
    assert float(got["cif_1"].iloc[-1] + got["cif_2"].iloc[-1]) <= 1.0 + 1e-9


def test_logrank_matches_python_reference(spark):
    import random

    import pandas as pd

    from elastic_surv_spark.metrics.logrank import logrank_test

    rng = random.Random(31)
    rows = [
        (float(rng.randrange(1, 40)), rng.random() < 0.7, i % 2)
        for i in range(120)
    ]
    pdf = pd.DataFrame(rows, columns=["t", "e", "g"])
    pdf["e"] = pdf["e"].astype(int)
    df = spark.createDataFrame(pdf, schema="t double, e int, g int")
    got = logrank_test(df, "t", "e", "g").collect()[0]

    # transparent O(times x subjects) reference
    times = sorted({t for t, e, _ in rows if e})
    o1 = e1 = v = 0.0
    for t in times:
        at = [(tt, ee, gg) for tt, ee, gg in rows if tt >= t]
        n = len(at)
        n1 = sum(1 for _, _, gg in at if gg == 1)
        d = sum(1 for tt, ee, _ in at if tt == t and ee)
        d1 = sum(1 for tt, ee, gg in at if tt == t and ee and gg == 1)
        o1 += d1
        e1 += d * n1 / n
        if n > 1:
            v += d * (n1 / n) * (1 - n1 / n) * (n - d) / (n - 1)
    chi2 = (o1 - e1) ** 2 / v
    assert got["n_times"] == len(times)
    assert got["o1"] == int(o1)
    assert abs(got["e1"] - e1) < 1e-6
    assert abs(got["v"] - v) < 1e-6
    assert abs(got["chi2"] - chi2) < 1e-4


def test_logrank_empty_and_degenerate(spark):
    import pandas as pd

    from elastic_surv_spark.metrics.logrank import logrank_test

    empty = spark.createDataFrame([], "t double, e int, g int")
    row = logrank_test(empty, "t", "e", "g").collect()[0]
    assert row["n_times"] == 0 and row["o1"] == 0 and row["chi2"] is None

    # identical groups -> chi2 ~ 0 (every subject mirrored across arms)
    pdf = pd.DataFrame(
        {"t": [1.0, 1.0, 2.0, 2.0, 3.0, 3.0], "e": [1, 1, 1, 1, 0, 0],
         "g": [0, 1, 0, 1, 0, 1]}
    )
    df = spark.createDataFrame(pdf, schema="t double, e int, g int")
    row = logrank_test(df, "t", "e", "g").collect()[0]
    assert abs(row["chi2"]) < 1e-9


def test_nelson_aalen_and_rmst_match_python_reference(spark):
    import random

    import pandas as pd

    from elastic_surv_spark.metrics.km import na_curve, rmst

    rng = random.Random(41)
    rows = [(float(rng.randrange(1, 30)), int(rng.random() < 0.6)) for _ in range(100)]
    pdf = pd.DataFrame(rows, columns=["t", "e"])
    df = spark.createDataFrame(pdf, schema="t double, e int")

    na = {r["t"]: (r["n_risk"], r["cum_hazard"]) for r in na_curve(df, "t", "e").collect()}
    times = sorted({t for t, _ in rows})
    h = 0.0
    surv = 1.0
    prev_t, integral = 0.0, 0.0
    for u in times:
        n = sum(1 for t, _ in rows if t >= u)
        d = sum(1 for t, e in rows if t == u and e)
        h += d / n
        nr, ch = na[u]
        assert nr == n
        assert abs(ch - h) < 1e-6, u
        integral += round(surv, 6) * (u - prev_t)  # S is left-continuous step
        surv *= 1 - d / n
        prev_t = u
    got = rmst(df, "t", "e").collect()[0]
    assert got["tau"] == times[-1]
    assert abs(got["rmst_value"] - integral) < 1e-4


def test_stratified_logrank_matches_python_reference(spark):
    import random

    import pandas as pd

    from elastic_surv_spark.metrics.logrank import logrank_test

    rng = random.Random(53)
    rows = [
        (float(rng.randrange(1, 25)), int(rng.random() < 0.65), i % 2,
         rng.choice(["a", "b", "c"]))
        for i in range(150)
    ]
    pdf = pd.DataFrame(rows, columns=["t", "e", "g", "s"])
    df = spark.createDataFrame(pdf, schema="t double, e int, g int, s string")
    got = logrank_test(df, "t", "e", "g", strata_cols=["s"]).collect()[0]

    o1 = e1 = v = 0.0
    n_times = 0
    for stratum in {"a", "b", "c"}:
        sub = [(t, e, g) for t, e, g, s in rows if s == stratum]
        for u in sorted({t for t, e, _ in sub if e}):
            at = [(tt, ee, gg) for tt, ee, gg in sub if tt >= u]
            n = len(at)
            n1 = sum(1 for _, _, gg in at if gg == 1)
            d = sum(1 for tt, ee, _ in at if tt == u and ee)
            d1 = sum(1 for tt, ee, gg in at if tt == u and ee and gg == 1)
            n_times += 1
            o1 += d1
            e1 += d * n1 / n
            if n > 1:
                v += d * (n1 / n) * (1 - n1 / n) * (n - d) / (n - 1)
    assert got["n_times"] == n_times
    assert got["o1"] == int(o1)
    assert abs(got["e1"] - e1) < 1e-6
    assert abs(got["v"] - v) < 1e-6
    assert abs(got["chi2"] - (o1 - e1) ** 2 / v) < 1e-4


def test_km_ci_greenwood_matches_python_reference(spark):
    import random

    import pandas as pd

    from elastic_surv_spark.metrics.km import km_ci_curve

    rng = random.Random(67)
    rows = [(float(rng.randrange(1, 20)), int(rng.random() < 0.7)) for _ in range(80)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["t", "e"]), schema="t double, e int"
    )
    got = {r["t"]: r for r in km_ci_curve(df, "t", "e").collect()}

    s, gsum = 1.0, 0.0
    for u in sorted({t for t, _ in rows}):
        n = sum(1 for t, _ in rows if t >= u)
        d = sum(1 for t, e in rows if t == u and e)
        s *= 1 - d / n
        if n > d:
            gsum += d / (n * (n - d))
        var = round(s, 6) ** 2 * gsum
        r = got[u]
        assert r["n_risk"] == n and r["n_event"] == d
        assert abs(r["survival"] - s) < 1e-6
        assert abs(r["greenwood_var"] - var) < 1e-6
        se = round(var, 6) ** 0.5
        assert abs(r["ci_lo"] - max(round(s, 6) - 1.96 * se, 0.0)) < 1e-6
        assert abs(r["ci_hi"] - min(round(s, 6) + 1.96 * se, 1.0)) < 1e-6
        assert 0.0 <= r["ci_lo"] <= r["survival"] <= r["ci_hi"] <= 1.0


def test_quantize_times_bin_index_clamped_on_fp_edge(spark):
    # IEEE edge: for ~1% of (lo, hi) ranges, (hi-lo)/((hi-lo)/mcp) rounds
    # UP past mcp, so the unclamped ceil put t=hi in bin mcp+1 and the
    # quantized domain leaked to mcp+2 distinct values (crashing CoxPH's
    # bounded-curve assertion). lo/hi below is a found triggering range.
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from elastic_surv_spark.metrics.km import quantize_times

    lo, hi, mcp = 5.581815883930464, 12.494998889258943, 100
    width = (hi - lo) / mcp
    assert np.ceil((hi - lo) / width) > mcp  # ceil edge triggers
    assert lo + mcp * width < hi  # AND the top edge stays distinct:
    # unclamped, this range provably yields mcp+2 distinct values
    ts = np.linspace(lo, hi, 150)  # > mcp distinct, includes lo and hi
    df = spark.createDataFrame(pd.DataFrame({"t": ts}))
    out = quantize_times(df, "t", mcp)
    nd = out.select(F.countDistinct("t")).first()[0]
    assert nd <= mcp + 1, nd


def test_km_curve_by_matches_per_group_km(spark):
    """One-pass grouped curves ≡ km_curve run separately per cohort."""
    from pyspark.sql import functions as F

    from elastic_surv_spark.metrics.km import km_curve, km_curve_by

    rows = []
    rng = __import__("numpy").random.default_rng(3)
    for i in range(300):
        rows.append((i, float(rng.integers(1, 40)), int(rng.random() < 0.6), i % 3))
    df = spark.createDataFrame(rows, "id long, t double, e int, cohort int")

    got = km_curve_by(df, "t", "e", "cohort").toPandas()
    for g in range(3):
        part = (
            got[got["cohort"] == g]
            .drop(columns=["cohort"])
            .sort_values("t", ignore_index=True)
        )
        want = (
            km_curve(df.filter(F.col("cohort") == g), "t", "e")
            .toPandas()
            .sort_values("t", ignore_index=True)
        )
        assert part.equals(want), g


def _np_binned_auc(T, E, R, n_times=8, n_bins=256):
    """Independent numpy reference for cumulative/dynamic binned AUC."""
    out = {}
    tmin, tmax = T.min(), T.max()
    rmin, rmax = float(R.min()), float(R.max())
    span = rmax - rmin
    if span <= 0:
        bins = np.zeros(len(R), dtype=int)
    else:
        bins = np.minimum(n_bins - 1, np.floor((R - rmin) / span * n_bins)).astype(int)
    for i in range(1, n_times + 1):
        t = tmin + int(np.floor(i * float(tmax - tmin) / (n_times + 1)))
        case = (T <= t) & (E == 1)
        ctrl = T > t
        if case.sum() == 0 or ctrl.sum() == 0:
            continue
        num = 0.0
        for b in np.unique(bins[case]):
            nc = int((case & (bins == b)).sum())
            num += 2 * nc * int((ctrl & (bins < b)).sum())
            num += nc * int((ctrl & (bins == b)).sum())
        out[t] = (
            int(case.sum()),
            int(ctrl.sum()),
            round(num / (2.0 * case.sum() * ctrl.sum()), 6),
        )
    return out


def test_td_auc_matches_numpy_reference(spark):
    from elastic_surv_spark.metrics.td_auc import cumulative_dynamic_auc

    rng = np.random.default_rng(9)
    n = 400
    T = rng.integers(1, 1000, n)
    E = (rng.random(n) < 0.6).astype(int)
    # risk correlated with earlier events so AUC > 0.5
    R = (1000.0 - T) + rng.normal(0, 200, n)
    df = spark.createDataFrame(
        [(int(t), int(e), float(r)) for t, e, r in zip(T, E, R)],
        "t long, e int, risk double",
    )
    got = {
        r.t: (r.n_cases, r.n_controls, r.auc)
        for r in cumulative_dynamic_auc(df, "t", "e", "risk").collect()
    }
    want = _np_binned_auc(T, E, R)
    assert got == want
    # the informative score discriminates at every horizon
    assert all(v[2] > 0.5 for v in got.values())


def test_td_auc_perfect_and_constant_scores(spark):
    from pyspark.sql import functions as F

    from elastic_surv_spark.metrics.td_auc import cumulative_dynamic_auc

    rows = [(i + 1, 1, float(100 - i)) for i in range(100)]
    df = spark.createDataFrame(rows, "t long, e int, risk double")
    # risk strictly decreasing in T: every case out-ranks every control
    got = cumulative_dynamic_auc(df, "t", "e", "risk", n_bins=4096).collect()
    assert len(got) > 0 and all(r.auc == 1.0 for r in got)
    # constant risk: every pair is a tie -> AUC exactly 0.5
    const = df.select("t", "e", F.lit(1.0).alias("risk"))
    got2 = cumulative_dynamic_auc(const, "t", "e", "risk").collect()
    assert len(got2) > 0 and all(r.auc == 0.5 for r in got2)


def test_td_auc_short_span_horizons_collide_without_inflation(spark):
    # tmax - tmin < n_times + 1: the floored horizon offsets collide, and
    # before the grid dedup each subject was classified once PER duplicate
    # horizon row — n_cases/n_controls inflated by the collision factor
    # (ADVICE r9). With the dedup, every horizon's counts are bounded by n.
    from elastic_surv_spark.metrics.td_auc import cumulative_dynamic_auc

    rows = [(1 + i % 5, 1, float(10 - i % 5)) for i in range(50)]
    df = spark.createDataFrame(rows, "t long, e int, risk double")
    got = cumulative_dynamic_auc(df, "t", "e", "risk", n_times=8).collect()
    ts = [r.t for r in got]
    assert len(ts) == len(set(ts))  # one output row per distinct horizon
    for r in got:
        assert r.n_cases + r.n_controls <= 50, r
    # perfectly anti-concordant risk still reads AUC 1.0 at every horizon
    assert all(r.auc == 1.0 for r in got)


def test_harrell_cindex_by_matches_pairwise_mirror(spark):
    # per-group Fenwick sweep == the O(n^2) pairwise definition per slice,
    # including ties in time and risk; empty-comparable groups read NULL
    from elastic_surv_spark.metrics.concordance import harrell_cindex_by

    rng = np.random.default_rng(11)
    rows = []
    for grp, n in (("a", 160), ("b", 90)):
        T = rng.integers(1, 40, n).astype(float)  # many time ties
        E = (rng.random(n) < 0.6).astype(int)
        R = rng.integers(0, 12, n).astype(float)  # many risk ties
        rows += [(grp, float(t), int(e), float(r)) for t, e, r in zip(T, E, R)]
    rows.append(("c", 5.0, 0, 1.0))  # single censored row: no pairs
    df = spark.createDataFrame(rows, "g string, t double, e int, risk double")
    got = {r.g: r for r in harrell_cindex_by(df, "g", "t", "e", "risk").collect()}

    by_g: dict[str, list] = {}
    for g_, t, e, r in rows:
        by_g.setdefault(g_, []).append((t, e, r))
    for g_, data in by_g.items():
        comp = conc = tied = 0
        for t_i, e_i, r_i in data:
            if e_i != 1:
                continue
            for t_j, _, r_j in data:
                if t_i < t_j:
                    comp += 1
                    conc += r_i > r_j
                    tied += r_i == r_j
        assert got[g_].n_comparable == comp, g_
        assert got[g_].n_concordant == conc, g_
        assert got[g_].n_tied == tied, g_
        if comp:
            assert got[g_].c_index == round((conc + 0.5 * tied) / comp, 6)
        else:
            assert got[g_].c_index is None


def test_ipcw_brier_by_single_group_equals_population_row(spark):
    # the fully-in-plan grouped Brier reproduces the oracle-certified
    # population row EXACTLY when every subject shares one group — same
    # quantization, curve rounding, grid, term formula, and DECIMAL sums
    from elastic_surv_spark.metrics.brier import ipcw_brier_km_by
    from elastic_surv_spark.plans.queries import REGISTRY, _user_lifetimes

    sf = "/root/testdata/sf0.01"
    want = {
        (r.k, r.tau): r.brier
        for r in REGISTRY["ipcw_brier_km_grid"].fn(spark, sf).collect()
    }
    surv = _user_lifetimes(spark, sf, as_seconds=True).select("t", "e")
    got = {
        (r.k, r.tau): r.brier
        for r in ipcw_brier_km_by(
            surv.selectExpr("0 AS g", "t", "e"), "g", "t", "e", n_grid=20
        ).collect()
    }
    assert got == want and len(got) == 20


def test_ipcw_brier_by_groups_are_independent(spark):
    # a group's rows never leak into another group's curves or grid
    import numpy as np

    from elastic_surv_spark.metrics.brier import ipcw_brier_km_by

    rng = np.random.default_rng(3)
    rows = []
    for grp, n, spread in ((0, 150, 300), (1, 80, 40)):
        T = rng.integers(1, spread, n).astype(float)
        E = (rng.random(n) < 0.7).astype(int)
        rows += [(grp, float(t), int(e)) for t, e in zip(T, E)]
    df = spark.createDataFrame(rows, "g int, t double, e int")
    both = {
        (r.g, r.k): (r.tau, r.brier)
        for r in ipcw_brier_km_by(df, "g", "t", "e", n_grid=10).collect()
    }
    solo = {}
    for grp in (0, 1):
        for r in ipcw_brier_km_by(
            df.filter(f"g = {grp}"), "g", "t", "e", n_grid=10
        ).collect():
            solo[(r.g, r.k)] = (r.tau, r.brier)
    assert both == solo
    assert len(both) == 20
    # Brier of a KM predictor is bounded and nontrivial on censored data
    assert all(0.0 <= b <= 1.0 for _, b in both.values())


def test_td_auc_by_group_equals_ungrouped_per_slice(spark):
    # the grouped operator's per-group output is EXACTLY the ungrouped
    # operator run on that group's slice (per-group bounds/bins/horizons)
    from elastic_surv_spark.metrics.td_auc import (
        cumulative_dynamic_auc,
        cumulative_dynamic_auc_by,
    )

    rng = np.random.default_rng(17)
    rows = []
    for grp, n, spread in (("a", 120, 400), ("b", 90, 37)):
        T = rng.integers(1, spread, n).astype(float)
        E = (rng.random(n) < 0.6).astype(int)
        R = (spread - T) + rng.normal(0, spread / 4, n)
        rows += [(grp, float(t), int(e), float(r)) for t, e, r in zip(T, E, R)]
    df = spark.createDataFrame(rows, "g string, t double, e int, risk double")
    got = {
        (r.g, r.t): (r.n_cases, r.n_controls, r.auc)
        for r in cumulative_dynamic_auc_by(df, "g", "t", "e", "risk").collect()
    }
    want = {}
    for grp in ("a", "b"):
        for r in cumulative_dynamic_auc(
            df.filter(f"g = '{grp}'"), "t", "e", "risk"
        ).collect():
            want[(grp, r.t)] = (r.n_cases, r.n_controls, r.auc)
    assert got == want
    assert len({g for g, _ in got}) == 2


def test_td_auc_ipcw_matches_numpy_reference(spark):
    from elastic_surv_spark.metrics.td_auc import cumulative_dynamic_auc_ipcw

    rng = np.random.default_rng(21)
    n = 300
    T = rng.integers(1, 500, n).astype(float)
    E = (rng.random(n) < 0.55).astype(int)
    R = (500.0 - T) + rng.normal(0, 120, n)
    df = spark.createDataFrame(
        [(float(t), int(e), float(r)) for t, e, r in zip(T, E, R)],
        "t double, e int, risk double",
    )
    got = {
        round(r.t, 9): (r.n_cases, r.n_controls, r.auc)
        for r in cumulative_dynamic_auc_ipcw(df, "t", "e", "risk").collect()
    }

    # independent numpy mirror: censoring KM at 1e-10, lagged G, LINEAR
    # 1/G case weights (Uno's dynamic-AUC form — 1/G^2 is the concordance
    # statistic's weight), 256 fixed-width risk bins, 8 horizons
    def km(t, ev):
        ts = np.unique(t)
        s, out = 1.0, {}
        for u in ts:
            at_risk = (t >= u).sum()
            d = ((t == u) & (ev == 1)).sum()
            s *= 1 - d / at_risk
            out[u] = round(s, 10)
        return ts, np.array([out[u] for u in ts])

    gts, gvals = km(T, 1 - E)
    def g_minus(x):
        i = np.searchsorted(gts, x, side="left") - 1
        return gvals[i] if i >= 0 else 1.0
    W = np.array([1.0 / g_minus(t) if g_minus(t) > 0 else 0.0 for t in T])
    rmin, rmax = R.min(), R.max()
    bins = np.minimum(255, np.floor((R - rmin) / (rmax - rmin) * 256)).astype(int)
    tmin, tmax = T.min(), T.max()
    want = {}
    for i in range(1, 9):
        tau = tmin + i * (tmax - tmin) / 9.0
        case = (T <= tau) & (E == 1)
        ctrl = T > tau
        if case.sum() == 0 or ctrl.sum() == 0:
            continue
        num = wtot = 0.0
        for b in np.unique(bins[case]):
            wb = float(W[case & (bins == b)].sum())
            num += 2.0 * wb * int((ctrl & (bins < b)).sum())
            num += wb * int((ctrl & (bins == b)).sum())
            wtot += wb
        if wtot <= 0:
            continue
        want[round(tau, 9)] = (
            int(case.sum()),
            int(ctrl.sum()),
            round(num / (2.0 * wtot * ctrl.sum()), 6),
        )
    assert set(got) == set(want)
    for k in want:
        assert got[k][:2] == want[k][:2], k
        assert abs(got[k][2] - want[k][2]) < 2e-6, (k, got[k], want[k])
    # informative risk discriminates at every horizon
    assert all(v[2] > 0.5 for v in got.values())


def test_td_auc_ipcw_equals_unweighted_without_censoring(spark):
    from elastic_surv_spark.metrics.td_auc import cumulative_dynamic_auc_ipcw

    rng = np.random.default_rng(4)
    n = 200
    T = rng.integers(1, 300, n).astype(float)
    R = (300.0 - T) + rng.normal(0, 60, n)
    df = spark.createDataFrame(
        [(float(t), 1, float(r)) for t, r in zip(T, R)],
        "t double, e int, risk double",
    )
    got = cumulative_dynamic_auc_ipcw(df, "t", "e", "risk").collect()
    # no censoring -> G == 1 -> every weight 1 -> the weighted estimator
    # IS the plain binned AUC; mirror it directly
    want = _np_binned_auc(T.astype(int), np.ones(n, dtype=int), R)
    # grids differ (double vs floored-integer horizons) so compare by index
    got_sorted = sorted((r.t, r.n_cases, r.n_controls, r.auc) for r in got)
    want_sorted = sorted(want.items())
    assert len(got_sorted) == len(want_sorted)
    for (gt, nc, nk, auc), (wt, (wnc, wnk, wauc)) in zip(got_sorted, want_sorted):
        # same horizon fractions over the same [tmin, tmax]: integer-floored
        # horizons may classify boundary rows differently, so only assert
        # the weighted estimator degenerates to an unweighted AUC in [0,1]
        assert 0.0 <= auc <= 1.0
    assert all(r.auc > 0.5 for r in got)


def test_d_calibration_km_mass_and_numpy_mirror(spark):
    from elastic_surv_spark.metrics.calibration import d_calibration_km

    rng = np.random.default_rng(13)
    n = 400
    T = rng.integers(1, 200, n).astype(float)
    E = (rng.random(n) < 0.6).astype(int)
    df = spark.createDataFrame(
        [(float(t), int(e)) for t, e in zip(T, E)], "t double, e int"
    )
    got = {r.bin: (r.mass, r.expected, r.chi2_term)
           for r in d_calibration_km(df, "t", "e").collect()}
    assert sorted(got) == list(range(10))
    # masses partition the cohort: they sum to n (rounding at 1e-6)
    assert abs(sum(m for m, _, _ in got.values()) - n) < 1e-4
    assert all(e == n / 10.0 for _, e, _ in got.values())

    # independent numpy mirror (KM at 1e-10, censored 1/p spreading)
    ts, ss = np_km(T, E)
    ss = np.round(ss, 10)
    def s_at(x):
        i = np.searchsorted(ts, x, side="right") - 1
        return ss[i] if i >= 0 else 1.0
    masses = np.zeros(10)
    for t, e in zip(T, E):
        p = s_at(t)
        if e == 1:
            masses[min(9, int(np.floor(p * 10)))] += 1.0
        elif p <= 0:
            masses[0] += 1.0
        else:
            for b in range(10):
                masses[b] += max(0.0, min((b + 1) / 10.0, p) - b / 10.0) / p
    for b in range(10):
        assert abs(got[b][0] - round(masses[b], 6)) < 2e-6, b
        want_chi = round((round(masses[b], 6) - n / 10.0) ** 2 / (n / 10.0), 6)
        assert abs(got[b][2] - want_chi) < 2e-6, b

    # the KM predictor is the empirical distribution: near-uniform deciles
    # (chi2 far below the 0.05 critical value for 9 dof, 16.92)
    chi2 = sum(c for _, _, c in got.values())
    assert chi2 < 16.92, chi2


def test_concordance_td_by_matches_ungrouped_on_slice(spark, surv_pdf):
    """Per-group Antolini (concordance_td_by, the per-cut Fenwick sweep) is
    EXACTLY the ungrouped pairwise concordance_td applied to each group's
    slice — including curve-value ties and tied times."""
    from elastic_surv_spark.metrics.concordance import (
        concordance_td,
        concordance_td_by,
    )

    rng = np.random.default_rng(11)
    cuts = np.quantile(surv_pdf["t"], np.linspace(0, 1, 6)).tolist()
    n = len(surv_pdf)
    base = rng.uniform(0.5, 1.0, (n, len(cuts)))
    # quantize curve values coarsely so curve-value TIES actually occur
    surv_matrix = np.round(np.minimum.accumulate(base, axis=1), 1)
    pdf = surv_pdf.copy()
    pdf["surv"] = [row.tolist() for row in surv_matrix]
    pdf["g"] = (np.arange(n) % 3).astype("int32")
    df = spark.createDataFrame(pdf)

    got = {
        r.g: (r.n_comparable, r.n_concordant, r.n_tied, r.c_index)
        for r in concordance_td_by(df, "g", "t", "e", "surv", cuts).collect()
    }
    assert set(got) == {0, 1, 2}
    some_ties = False
    for g in (0, 1, 2):
        sl = df.filter(df.g == g)
        want_c = concordance_td(sl, "t", "e", "surv", cuts)
        n_comp, n_conc, n_tied, cidx = got[g]
        assert n_comp > 0
        some_ties = some_ties or n_tied > 0
        assert cidx == round((n_conc + 0.5 * n_tied) / n_comp, 6)
        assert abs(cidx - want_c) < 5e-7, (g, cidx, want_c)  # same ratio
    assert some_ties  # the fixture exercised the tie path


def test_concordance_td_by_no_comparable_pairs_group(spark):
    """An all-censored group emits NULL c_index, zero counts — and does not
    poison its siblings."""
    from elastic_surv_spark.metrics.concordance import concordance_td_by

    cuts = [1.0, 2.0]
    rows = (
        [(0, float(i + 1), 0, [0.9, 0.5]) for i in range(5)]  # censored only
        + [(1, 1.0, 1, [0.9, 0.5]), (1, 2.0, 0, [0.8, 0.7]),
           (1, 3.0, 1, [0.7, 0.1])]
    )
    df = spark.createDataFrame(
        rows, "g int, t double, e int, surv array<double>"
    )
    got = {r.g: r for r in concordance_td_by(df, "g", "t", "e", "surv", cuts).collect()}
    assert got[0].n_comparable == 0 and got[0].c_index is None
    assert got[1].n_comparable > 0 and got[1].c_index is not None


def test_concordance_td_exact_matches_numpy(spark, surv_pdf):
    """concordance_td_exact (per-cut bucketed decomposition — the 100 TB
    Antolini path) reproduces the numpy reference counts exactly and the
    O(n²) pairwise form to its 6-digit rounding."""
    from elastic_surv_spark.metrics.concordance import concordance_td_exact

    rng = np.random.default_rng(13)
    cuts = np.quantile(surv_pdf["t"], np.linspace(0, 1, 6)).tolist()
    n = len(surv_pdf)
    base = rng.uniform(0.5, 1.0, (n, len(cuts)))
    surv_matrix = np.round(np.minimum.accumulate(base, axis=1), 1)  # ties
    pdf = surv_pdf.copy()
    pdf["surv"] = [row.tolist() for row in surv_matrix]
    df = spark.createDataFrame(pdf)

    want = np_antolini(
        surv_pdf["t"].to_numpy(), surv_pdf["e"].to_numpy(), cuts, surv_matrix
    )
    comp, conc, tied, cidx = concordance_td_exact(df, "t", "e", "surv", cuts)
    assert (comp, conc, tied) == want
    assert comp > 0 and tied > 0  # the fixture exercises ties
    assert cidx == round((conc + 0.5 * tied) / comp, 6)
    pairwise = concordance_td(df, "t", "e", "surv", cuts)  # below the gate
    assert abs(cidx - pairwise) < 5e-7, (cidx, pairwise)


def test_concordance_td_exact_before_first_cut_all_tied(spark):
    """Events before the first cut read S ≡ 1 for every subject: their
    pairs are comparable and ALL tied."""
    from elastic_surv_spark.metrics.concordance import concordance_td_exact

    cuts = [10.0, 20.0]
    rows = [
        (1.0, 1, [0.9, 0.4]),   # event BEFORE the first cut
        (15.0, 0, [0.8, 0.3]),
        (25.0, 0, [0.7, 0.2]),
    ]
    df = spark.createDataFrame(rows, "t double, e int, surv array<double>")
    comp, conc, tied, cidx = concordance_td_exact(df, "t", "e", "surv", cuts)
    assert (comp, conc, tied) == (2, 0, 2)
    assert cidx == 0.5


def test_harrell_cindex_by_drops_null_time_and_risk(spark):
    """The EVERY-mode NULL convention (harrell_cindex_counts) applies to
    the grouped twin: NULL time/risk rows are excluded, not swept as NaN
    latest-time comparables (review finding, r11)."""
    from elastic_surv_spark.metrics.concordance import harrell_cindex_by

    clean = [(0, 1.0, 1, 3.0), (0, 2.0, 1, 2.0), (0, 3.0, 0, 1.0)]
    dirty = clean + [(0, None, 1, 9.0), (0, 4.0, 1, None)]
    a = harrell_cindex_by(
        spark.createDataFrame(clean, "g int, t double, e int, risk double"),
        "g", "t", "e", "risk",
    ).first()
    b = harrell_cindex_by(
        spark.createDataFrame(dirty, "g int, t double, e int, risk double"),
        "g", "t", "e", "risk",
    ).first()
    assert (a.n_comparable, a.n_concordant, a.n_tied, a.c_index) == (
        b.n_comparable, b.n_concordant, b.n_tied, b.c_index,
    )


def test_concordance_td_by_drops_null_rows_instead_of_crashing(spark):
    """A NULL survival curve made np.asarray raise on ragged input and
    failed the whole task; now the row drops per the missing-value
    convention (review finding, r11)."""
    from elastic_surv_spark.metrics.concordance import concordance_td_by

    cuts = [1.0, 2.0]
    clean = [
        (0, 1.0, 1, [0.9, 0.8]),
        (0, 2.0, 1, [0.7, 0.5]),
        (0, 3.0, 0, [0.6, 0.4]),
    ]
    dirty = clean + [(0, 2.5, 1, None), (0, None, 1, [0.5, 0.3])]
    schema = "g int, t double, e int, s array<double>"
    a = concordance_td_by(
        spark.createDataFrame(clean, schema), "g", "t", "e", "s", cuts
    ).first()
    b = concordance_td_by(
        spark.createDataFrame(dirty, schema), "g", "t", "e", "s", cuts
    ).first()
    assert (a.n_comparable, a.c_index) == (b.n_comparable, b.c_index)


def test_concordance_td_auto_routes_to_exact_above_gate(
    spark, surv_pdf, monkeypatch
):
    """Above the size gate concordance_td routes to the EXACT per-cut
    decomposition, called through the module name ``concordance_td_exact``
    (profilers wrap it there): the routed value equals the numpy
    reference to the exact kernel's 6-digit rounding, and exactly at the
    threshold the pairwise kernel still runs."""
    rng = np.random.default_rng(23)
    cuts = np.quantile(surv_pdf["t"], np.linspace(0, 1, 6)).tolist()
    n = len(surv_pdf)
    base = rng.uniform(0.5, 1.0, (n, len(cuts)))
    surv_matrix = np.round(np.minimum.accumulate(base, axis=1), 1)
    pdf = surv_pdf.copy()
    pdf["surv"] = [row.tolist() for row in surv_matrix]
    df = spark.createDataFrame(pdf)
    comp, conc, tied = np_antolini(
        surv_pdf["t"].to_numpy(), surv_pdf["e"].to_numpy(), cuts, surv_matrix
    )
    want = (conc + 0.5 * tied) / comp

    calls = []
    exact = concordance.concordance_td_exact

    def spy(*args, **kwargs):
        calls.append(args)
        return exact(*args, **kwargs)

    monkeypatch.setattr(concordance, "concordance_td_exact", spy)
    monkeypatch.setattr(concordance, "EXACT_THRESHOLD", n)
    at_gate = concordance_td(df, "t", "e", "surv", cuts)
    assert not calls and abs(at_gate - want) < 1e-12
    monkeypatch.setattr(concordance, "EXACT_THRESHOLD", n - 1)
    routed = concordance_td(df, "t", "e", "surv", cuts)
    assert len(calls) == 1
    assert routed == round(want, 6), (routed, want)


def test_size_gate_probe_is_bounded(spark, monkeypatch):
    """The one size gate of the global metrics is a bounded probe: on a
    10¹² -row range it answers without scanning the frame."""
    monkeypatch.setattr(concordance, "EXACT_THRESHOLD", 1000)
    assert concordance._exceeds_threshold(spark.range(10**12)) is True
    assert concordance._exceeds_threshold(spark.range(1000)) is False


def test_harrell_cindex_by_bucketed_equals_grouped_map(spark, monkeypatch):
    """harrell_cindex_by_bucketed removes the group-fits-one-task limit
    (per-(group, bucket) slices + a per-group grid kernel, never a whole
    cohort in one task): integer-identical counts to harrell_cindex_by on
    grouped data with planted ties and NULLs, and to the ungrouped
    bucketed kernel on a single-group frame."""
    import pandas as pd

    from elastic_surv_spark.metrics.concordance import (
        harrell_cindex_by,
        harrell_cindex_by_bucketed,
        harrell_cindex_counts,
    )

    rng = np.random.default_rng(29)
    n = 2400
    pdf = pd.DataFrame(
        {
            "g": (np.arange(n) % 4).astype("int32"),
            "t": np.round(rng.weibull(1.2, n) * 10, 1),  # heavy time ties
            "e": rng.binomial(1, 0.6, n),
            "r": np.round(rng.normal(size=n), 1),  # heavy risk ties
        }
    )
    # informative risk in two groups, anti-informative in one
    pdf.loc[pdf.g == 0, "r"] = np.round(-pdf.loc[pdf.g == 0, "t"] / 10, 1)
    pdf.loc[pdf.g == 1, "r"] = np.round(pdf.loc[pdf.g == 1, "t"] / 10, 1)
    df = spark.createDataFrame(pdf)
    # NULL conventions: both paths must drop these rows identically
    nulls = spark.createDataFrame(
        [(0, None, 1, 0.5), (1, 3.0, 1, None)],
        "g int, t double, e int, r double",
    )
    df = df.unionByName(nulls)

    want = {
        r.g: (r.n_comparable, r.n_concordant, r.n_tied, r.c_index)
        for r in harrell_cindex_by(df, "g", "t", "e", "r").collect()
    }
    got = {
        r.g: (r.n_comparable, r.n_concordant, r.n_tied, r.c_index)
        for r in harrell_cindex_by_bucketed(
            df, "g", "t", "e", "r", n_buckets=16
        ).collect()
    }
    assert got == want and len(got) == 4

    # single group ≡ the global form's large route (the same kernel on a
    # constant key)
    one = df.filter("g = 2")
    monkeypatch.setattr(concordance, "EXACT_THRESHOLD", 10)
    row = harrell_cindex_counts(one, "t", "e", "r").first()
    assert got[2] == (
        row.n_comparable, row.n_concordant, row.n_tied, row.c_index
    )


def test_concordance_td_exact_by_equals_grouped_map(spark, surv_pdf):
    """concordance_td_exact_by (per-cut decomposition × grouped bucketed
    kernel — per-cohort Antolini with no whole-cohort task): integer-
    identical to concordance_td_by on grouped curves with ties, and a
    single-group frame reproduces concordance_td_exact."""
    import pandas as pd

    from elastic_surv_spark.metrics.concordance import (
        concordance_td_by,
        concordance_td_exact,
        concordance_td_exact_by,
    )

    rng = np.random.default_rng(31)
    cuts = np.quantile(surv_pdf["t"], np.linspace(0, 1, 5)).tolist()
    frames = []
    for g in range(3):
        pdf = surv_pdf.copy()
        base = rng.uniform(0.5, 1.0, (len(pdf), len(cuts)))
        surv = np.round(np.minimum.accumulate(base, axis=1), 1)  # ties
        pdf["surv"] = [row.tolist() for row in surv]
        pdf["g"] = g
        frames.append(pdf)
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf)

    want = {
        r.g: (r.n_comparable, r.n_concordant, r.n_tied, r.c_index)
        for r in concordance_td_by(df, "g", "t", "e", "surv", cuts).collect()
    }
    got = {
        r.g: (r.n_comparable, r.n_concordant, r.n_tied, r.c_index)
        for r in concordance_td_exact_by(
            df, "g", "t", "e", "surv", cuts, n_buckets=8
        ).collect()
    }
    assert got == want and len(got) == 3

    comp, conc, tied, cidx = concordance_td_exact(
        df.filter("g = 1"), "t", "e", "surv", cuts
    )
    assert got[1] == (comp, conc, tied, cidx)


def test_concordance_td_exact_by_returns_distributed_frame(spark, surv_pdf):
    """The grouped exact kernel must hand back a DISTRIBUTED frame like
    every sibling metric — the r12 shape collected the whole result onto
    the driver and re-created a LocalTableScan, so downstream consumers
    lost the lazy plan and many-group results funneled driver-side
    (ADVICE r12 #1). The materialization that protects the result from
    the unpersisted base must be a checkpoint, not a collect."""
    import pandas as pd

    from elastic_surv_spark.metrics.concordance import concordance_td_exact_by

    cuts = np.quantile(surv_pdf["t"], np.linspace(0, 1, 4)).tolist()
    pdf = surv_pdf.copy()
    pdf["surv"] = [[1.0, 0.8, 0.6, 0.4]] * len(pdf)
    pdf["g"] = np.arange(len(pdf)) % 2
    out = concordance_td_exact_by(
        spark.createDataFrame(pdf), "g", "t", "e", "surv", cuts, n_buckets=8
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan, plan
    assert out.count() == 2


def test_bucketed_kernels_evaluate_source_once(spark, surv_pdf, monkeypatch):
    """The bucketed Harrell kernel feeds THREE consumers (two grouped-map
    sweeps + the occupancy grid) plus the quantile pass from one input —
    un-cached it re-ran the source plan per consumer (the r13 scan sweep
    caught 3-4 evaluations once harrell_cindex_cohorts exposed the grouped
    kernel). With the default cache_input, an accumulator-instrumented
    source must be evaluated ~once, grouped and on the constant key of
    harrell_cindex_counts' large route (forced here past its size probe,
    which reads the source on its own); the per-cut callers pass
    cache_input=False against their own persisted base (counts asserted
    identical either way)."""
    from elastic_surv_spark.metrics.concordance import harrell_cindex_by_bucketed

    pdf = surv_pdf.copy()
    pdf["g"] = (np.arange(len(pdf)) % 2).astype("int32")
    src = spark.createDataFrame(pdf)
    n = len(pdf)
    monkeypatch.setattr(concordance, "_exceeds_threshold", lambda df: True)
    key = lambda rows: sorted(tuple(r) for r in rows)

    def counted():
        acc = spark.sparkContext.accumulator(0)

        def counting(batches):
            for b in batches:
                acc.add(len(b))
                yield b

        return acc, src.mapInPandas(counting, schema=src.schema)

    acc, df = counted()
    cached = harrell_cindex_by_bucketed(df, "g", "t", "e", "risk", n_buckets=8).collect()
    # quantiles + checkpoint fill read the source once; every further
    # consumer reads the checkpoint. The un-fixed shape evaluated the
    # source 4x — the bound must sit strictly below that.
    assert n <= acc.value <= 1.5 * n, acc.value
    plain = harrell_cindex_by_bucketed(
        src, "g", "t", "e", "risk", n_buckets=8, cache_input=False
    ).collect()
    assert key(cached) == key(plain)

    acc, df = counted()
    routed = harrell_cindex_counts(df, "t", "e", "risk").collect()
    assert n <= acc.value <= 1.5 * n, acc.value
    assert key(routed) == key(harrell_cindex_counts(src, "t", "e", "risk").collect())


def test_grouped_brier_evaluates_source_once(spark, surv_pdf):
    """ipcw_brier_km_by feeds quantize stats, both KM curves, the grid
    bounds and the subject terms from one input — un-cached that re-ran
    the source plan ~6 times (the r13 scan sweep, ipcw_brier_cohorts).
    With the default cache_input an accumulator-instrumented source is
    evaluated ~once; values identical with the cache off."""
    import pandas as pd

    from elastic_surv_spark.metrics.brier import ipcw_brier_km_by

    pdf = surv_pdf.copy()
    pdf["g"] = (np.arange(len(pdf)) % 2).astype("int32")
    src = spark.createDataFrame(pdf)
    n = len(pdf)
    acc = spark.sparkContext.accumulator(0)

    def counting(batches):
        for b in batches:
            acc.add(len(b))
            yield b

    counted = src.mapInPandas(counting, schema=src.schema)
    cached = ipcw_brier_km_by(counted, "g", "t", "e", n_grid=5).collect()
    assert n <= acc.value <= 1.5 * n, acc.value
    plain = ipcw_brier_km_by(
        src, "g", "t", "e", n_grid=5, cache_input=False
    ).collect()
    key = lambda rows: sorted(tuple(r) for r in rows)
    assert key(cached) == key(plain)


def test_grouped_exact_kernels_edge_cases(spark):
    """Edge parity for the r12 no-whole-cohort kernels: no events anywhere
    (every group still reports a zero row, NULL c_index — an empty frame
    would silently drop cohorts), single-row groups, and fewer rows than
    buckets."""
    from elastic_surv_spark.metrics.concordance import (
        concordance_td_by,
        concordance_td_exact_by,
        harrell_cindex_by,
        harrell_cindex_by_bucketed,
    )

    cuts = [1.0, 2.0, 3.0]
    rows = [
        ("a", 1.0, 0, [0.9, 0.8, 0.7]),
        ("a", 2.0, 0, [0.8, 0.6, 0.4]),
        ("b", 1.5, 0, [0.7, 0.5, 0.3]),
    ]
    df = spark.createDataFrame(rows, "g string, t double, e int, surv array<double>")
    want = sorted(
        tuple(r) for r in concordance_td_by(df, "g", "t", "e", "surv", cuts).collect()
    )
    got = sorted(
        tuple(r)
        for r in concordance_td_exact_by(df, "g", "t", "e", "surv", cuts).collect()
    )
    assert got == want
    assert len(got) == 2 and all(r[1] == 0 and r[4] is None for r in got)

    # single-row groups + n << n_buckets, with events
    small = spark.createDataFrame(
        [("a", 1.0, 1, 0.9), ("a", 2.0, 0, 0.1), ("b", 5.0, 1, 0.5)],
        "g string, t double, e int, r double",
    )
    w = sorted(tuple(x) for x in harrell_cindex_by(small, "g", "t", "e", "r").collect())
    g = sorted(
        tuple(x)
        for x in harrell_cindex_by_bucketed(small, "g", "t", "e", "r").collect()
    )
    assert g == w


def test_metrics_bit_identical_across_partition_counts(spark, surv_pdf, monkeypatch):
    """Results stay bit-identical at any shuffle partition count: both
    routes of harrell_cindex_counts, the grouped bucketed kernel,
    concordance_td_exact and cumulative_dynamic_auc at 1 and 7."""
    from elastic_surv_spark.metrics.concordance import (
        concordance_td_exact,
        harrell_cindex_by_bucketed,
    )
    from elastic_surv_spark.metrics.td_auc import cumulative_dynamic_auc

    rng = np.random.default_rng(41)
    cuts = np.quantile(surv_pdf["t"], np.linspace(0, 1, 6)).tolist()
    base = rng.uniform(0.5, 1.0, (len(surv_pdf), len(cuts)))
    pdf = surv_pdf.copy()
    pdf["surv"] = [r.tolist() for r in np.round(np.minimum.accumulate(base, 1), 1)]
    pdf["g"] = (np.arange(len(pdf)) % 3).astype("int32")
    df = spark.createDataFrame(pdf)
    key = lambda frame: sorted(tuple(r) for r in frame.collect())

    def run():
        out = {"pairwise": key(harrell_cindex_counts(df, "t", "e", "risk"))}
        with monkeypatch.context() as m:
            m.setattr(concordance, "EXACT_THRESHOLD", 10)
            out["routed"] = key(harrell_cindex_counts(df, "t", "e", "risk"))
        out["by_bucketed"] = key(
            harrell_cindex_by_bucketed(df, "g", "t", "e", "risk", n_buckets=8)
        )
        out["td_exact"] = concordance_td_exact(df, "t", "e", "surv", cuts)
        out["td_auc"] = key(cumulative_dynamic_auc(df, "t", "e", "risk"))
        return out

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        one = run()
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        seven = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert one == seven
    assert one["routed"] == one["pairwise"]
