"""Quantile-regression kernel properties: pinball optimality, quantile
coverage, embed contract vs the reference's own embed."""

from __future__ import annotations

import numpy as np

from fforma_spark.functions.quantile import (
    embed,
    pinball_loss,
    quantile_ar_forecast,
    quantile_regression,
)


def test_embed_matches_reference():
    from ref_stubs import install_reference_stubs

    install_reference_stubs()
    from fforma.base._quantile_models import embed as ref_embed

    x = np.arange(10, dtype=np.float64) ** 1.5
    for p in (1, 2, 4):
        np.testing.assert_array_equal(embed(x, p), ref_embed(x, p))


def test_median_regression_beats_ols_on_pinball():
    rng = np.random.RandomState(0)
    n = 300
    X = np.column_stack([np.ones(n), rng.rand(n, 2)])
    beta_true = np.array([1.0, 2.0, -3.0])
    y = X @ beta_true + rng.standard_t(df=2, size=n)  # heavy tails
    b_q = quantile_regression(X, y, 0.5)
    b_ols, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert pinball_loss(y, X @ b_q, 0.5) <= pinball_loss(y, X @ b_ols, 0.5) + 1e-9


def test_quantile_coverage():
    rng = np.random.RandomState(1)
    n = 2000
    X = np.column_stack([np.ones(n), rng.rand(n)])
    y = X @ np.array([0.5, 2.0]) + rng.normal(0, 1, n)
    for tau in (0.1, 0.5, 0.9):
        b = quantile_regression(X, y, tau)
        frac_below = float((y <= X @ b).mean())
        assert abs(frac_below - tau) < 0.03, (tau, frac_below)


def test_qar_forecast_shapes_and_fallbacks():
    # constant series -> naive
    out = quantile_ar_forecast(np.full(30, 7.0), 5, 0.9)
    np.testing.assert_array_equal(out, np.full(5, 7.0))
    # AR(1)-ish series: forecasts finite, ordered by tau on average
    rng = np.random.RandomState(2)
    y = np.zeros(200)
    for t in range(1, 200):
        y[t] = 5 + 0.8 * y[t - 1] + rng.normal(0, 1)
    lo = quantile_ar_forecast(y, 8, 0.1, ar_terms=[1, 2])
    md = quantile_ar_forecast(y, 8, 0.5, ar_terms=[1, 2])
    hi = quantile_ar_forecast(y, 8, 0.9, ar_terms=[1, 2])
    assert np.isfinite(lo).all() and np.isfinite(md).all() and np.isfinite(hi).all()
    assert lo.mean() < md.mean() < hi.mean()


def test_quantile_forecast_query(spark):
    from fforma_spark.queries import QUERIES

    out = QUERIES["quantile_forecasts_documents"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) > 0
    # per-row quantile crossings are possible (independent IRLS fits),
    # but the aggregate ordering must hold
    q10 = np.mean([r["q10"] for r in out])
    q90 = np.mean([r["q90"] for r in out])
    assert q10 <= q90 + 1e-9
    for r in out:
        assert np.isfinite(r["q50"])


# ---------------------------------------------------------------------------
# Round 2: ADF differencing branch, FQRA, QRAL1
# ---------------------------------------------------------------------------


def test_adf_routes_random_walk_vs_noise():
    from fforma_spark.functions.quantile import (
        adf_is_stationary,
        difference_until_stationary,
    )

    rng = np.random.RandomState(0)
    noise = rng.randn(200)
    walk = np.cumsum(rng.randn(200))
    assert adf_is_stationary(noise)
    assert not adf_is_stationary(walk)
    _, d_noise = difference_until_stationary(noise, 10)
    z, d_walk = difference_until_stationary(walk, 10)
    assert d_noise == 0
    assert d_walk >= 1
    assert adf_is_stationary(z)


def test_adf_tstat_magnitude():
    """White noise t-stat is strongly negative; random walk near 0."""
    from fforma_spark.functions.quantile import adf_tstat

    rng = np.random.RandomState(7)
    t_noise, _ = adf_tstat(rng.randn(300))
    t_walk, _ = adf_tstat(np.cumsum(rng.randn(300)))
    assert t_noise < -6.0
    assert t_walk > -3.0


def test_qar_differencing_continues_linear_trend():
    """Pure linear series: one diff → constant; intercept-only QR →
    the constant step; cumsum undiff → exact linear continuation."""
    from fforma_spark.functions.quantile import quantile_ar_forecast

    y = 3.0 * np.arange(60) + 7.0
    fc = quantile_ar_forecast(y, 5, 0.5, ar_terms=[1, 2], max_diffs=10)
    expected = y[-1] + 3.0 * np.arange(1, 6)
    assert np.allclose(fc, expected, atol=1e-6)


def test_qar_reference_class_parity_with_and_without_diff():
    """Run the reference QuantileAutoRegression with QuantReg/adfuller
    functionally stubbed by THIS engine's IRLS + ADF; its forecasts
    must match quantile_ar_forecast on stationary AND unit-root
    series (differenced-and-not, per VERDICT item 6)."""
    from tests.ref_stubs import install_reference_stubs

    install_reference_stubs()
    import importlib

    import fforma.base._quantile_models as qm

    from fforma_spark.functions.quantile import (
        adf_is_stationary,
        quantile_ar_forecast,
        quantile_regression,
    )

    class IRLSResult:
        def __init__(self, beta, X):
            self.params = np.asarray(beta)
            self.fittedvalues = X @ self.params

        def predict(self, Xn):
            return np.asarray(Xn, dtype=np.float64) @ self.params

    class IRLSQuantReg:
        def __init__(self, y, X):
            self.y = np.asarray(y, dtype=np.float64)
            self.X = np.asarray(X, dtype=np.float64)

        def fit(self, tau):
            return IRLSResult(quantile_regression(self.X, self.y, tau), self.X)

    def my_adfuller(y, *a, **k):
        return (0.0, 0.01 if adf_is_stationary(np.asarray(y)) else 0.99)

    qm.QuantReg = IRLSQuantReg
    qm.adfuller = my_adfuller

    rng = np.random.RandomState(11)
    stationary = 50 + rng.randn(80)
    unit_root = np.cumsum(rng.randn(80) + 0.2) + 100
    for y in (stationary, unit_root):
        ref_model = qm.QuantileAutoRegression(
            tau=0.5, ar_terms=[1, 2], max_diffs=10
        ).fit(None, y.copy())
        ref_fc = ref_model.predict(np.zeros((6, 1)))
        ours = quantile_ar_forecast(y, 6, 0.5, ar_terms=[1, 2], max_diffs=10)
        assert ref_model.differences == (
            0 if adf_is_stationary(y) else ref_model.differences
        )
        assert np.allclose(ref_fc, ours, rtol=1e-7, atol=1e-7), (ref_fc, ours)


def test_fqra_recovers_best_model():
    """One regressor IS the target (plus junk columns): FQRA with
    enough components reproduces it closely."""
    from fforma_spark.functions.quantile import fqra_fit_predict

    rng = np.random.RandomState(5)
    n, h = 40, 8
    truth = np.cumsum(rng.rand(n + h)) + 10
    X = np.column_stack(
        [truth[:n] + rng.randn(n) * 0.01, rng.rand(n) * 5, rng.rand(n) * 5]
    )
    Xt = np.column_stack(
        [truth[n:] + rng.randn(h) * 0.01, rng.rand(h) * 5, rng.rand(h) * 5]
    )
    pred = fqra_fit_predict(X, truth[:n], Xt, 0.5, n_components=3)
    assert np.abs(pred - truth[n:]).mean() < 0.5


def test_pca_fit_orthonormal_and_deterministic():
    from fforma_spark.functions.quantile import pca_fit

    rng = np.random.RandomState(2)
    X = rng.rand(50, 6) @ np.diag([5, 3, 2, 1, 0.5, 0.1])
    mu, comps = pca_fit(X, 3)
    assert np.allclose(comps @ comps.T, np.eye(3), atol=1e-10)
    mu2, comps2 = pca_fit(X, 3)
    assert np.array_equal(comps, comps2)
    # projection captures more variance than any 3 raw columns
    Z = (X - mu) @ comps.T
    assert Z.var(axis=0).sum() > np.sort(X.var(axis=0))[-3:].sum() * 0.99


def test_qral1_limits():
    """λ=0 → matches the unpenalized IRLS pinball fit (same loss);
    λ→∞ → beta collapses to equal weights (the reference's
    average_weights fallback direction)."""
    from fforma_spark.functions.quantile import (
        pinball_loss,
        qral1_fit_stack,
        quantile_regression,
    )

    rng = np.random.RandomState(8)
    n, k = 30, 4
    X = rng.rand(n, k) * 10
    w_true = np.array([0.7, 0.2, 0.1, 0.0])
    y = X @ w_true + rng.randn(n) * 0.05
    b0 = qral1_fit_stack(X[None], y[None], 0.5, lambd=0.0)[0]
    b_irls = quantile_regression(X, y, 0.5)
    assert pinball_loss(y, X @ b0, 0.5) <= pinball_loss(y, X @ b_irls, 0.5) * 1.1
    b_inf = qral1_fit_stack(X[None], y[None], 0.5, lambd=1e9)[0]
    assert np.allclose(b_inf, np.ones(k) / k, atol=1e-6)


def test_regression_averaging_queries(spark):
    from fforma_spark.queries import QUERIES

    for name in ("qra_ensembles_documents", "quantile_forecasts_documents"):
        rows = QUERIES[name](spark, "/root/testdata/sf0.001").collect()
        assert len(rows) > 0, name
        for r in rows[:50]:
            for c in r.asDict():
                if c not in ("doc_id", "method"):
                    assert np.isfinite(r[c]), (name, r)
        if name == "qra_ensembles_documents":
            methods = {r["method"] for r in rows}
            assert methods == {"fqra", "lqra"}


def test_quantile_ar_n_diffs_edge_values():
    """n_diffs beyond the series length stops at the last possible
    diff (no IndexError); negative n_diffs means no differencing and
    no undiff shift; n_diffs=d matches the max_diffs search that
    chose d."""
    import numpy as np

    from fforma_spark.functions.quantile import (
        difference_until_stationary,
        quantile_ar_forecast,
    )

    rng = np.random.default_rng(3)
    y = rng.normal(50, 3, 40).cumsum()
    out = quantile_ar_forecast(y, 4, 0.5, n_diffs=100)
    assert np.all(np.isfinite(out))
    neg = quantile_ar_forecast(y, 4, 0.5, n_diffs=-1)
    plain = quantile_ar_forecast(y, 4, 0.5)
    assert np.allclose(neg, plain)
    _, d = difference_until_stationary(y, 10)
    via_search = quantile_ar_forecast(y, 4, 0.5, max_diffs=10)
    via_ndiffs = quantile_ar_forecast(y, 4, 0.5, n_diffs=d)
    assert np.allclose(via_search, via_ndiffs)


def test_whale_cap_engages_for_quantile_and_qra(spark):
    """Sequential-kernel stages (quantile AR, FQRA/LQRA) must bound
    per-task cost via cap_whales: a 200k-token whale enters the kernel
    as its trailing window — output equals running the kernel on the
    manually-sliced doc — while docs under the cap are bit-identical
    to the uncapped path (VERDICT r2 item 7)."""
    import numpy as np

    from fforma_spark.functions.quantile import quantile_forecasts
    from fforma_spark.functions.regression_averaging import (
        regression_averaging_forecasts,
    )

    rng = np.random.default_rng(7)
    whale = (rng.integers(1, 9, 200_000) + np.arange(200_000) % 5).tolist()
    small = rng.integers(1, 9, 60).tolist()
    rows = [("whale", whale, len(whale)), ("small", small, len(small))]
    seq = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int"
    ).repartition(2)
    cap = 1000
    sliced = spark.createDataFrame(
        [("whale", whale[-cap:], cap), ("small", small, len(small))],
        "doc_id string, tokens array<int>, n_tok int",
    ).repartition(2)

    def rows_of(df):
        keys = [k for k in ("method", "doc_id", "pos") if k in df.columns]
        return {
            tuple(r[k] for k in keys): tuple(
                round(v, 9) if isinstance(v, float) else v
                for k, v in sorted(r.asDict().items())
                if k not in keys
            )
            for r in df.collect()
        }

    got = rows_of(quantile_forecasts(seq, h=8, max_series_len=cap))
    want = rows_of(quantile_forecasts(sliced, h=8))
    assert got == want
    # small doc unchanged vs the fully-uncapped path
    uncapped = rows_of(quantile_forecasts(seq.filter("doc_id = 'small'"), h=8))
    assert {k: v for k, v in got.items() if k[0] == "small"} == uncapped

    got_ra = rows_of(regression_averaging_forecasts(seq, max_series_len=cap))
    want_ra = rows_of(regression_averaging_forecasts(sliced))
    assert got_ra == want_ra

    # the cap is pure Catalyst: a slice CASE in the plan, no extra
    # python stage
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        quantile_forecasts(seq, h=8, max_series_len=cap).explain("formatted")
    plan = buf.getvalue()
    assert "slice" in plan
    assert plan.count("ArrowEvalPython") == 0  # mapInPandas shows as MapInPandas
