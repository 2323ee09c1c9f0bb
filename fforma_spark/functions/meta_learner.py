"""FFORMA meta-learner: from-scratch numpy gradient-boosted trees with
the FFORMA softmax objective (no xgboost/scipy in this container).

Semantics follow the reference implementation structurally (citations
into /root/reference for the behavior contract; the algorithm itself is
the public XGBoost/FFORMA formulation — Chen & Guestrin 2016,
Montero-Manso et al. 2020):

* contribution-to-error = err_model / (err_benchmark + 1e-3), losers
  (never-argmin models) dropped (fforma/meta_learner/_XGBoost.py:98-116).
* objective over per-series raw scores F (n,K), p = softmax(F):
    weighted loss  L_i = Σ_k p_ik · err_ik      (_XGBoost.py:60-62,74-78)
    grad           g_ik = p_ik (err_ik − L_i)    (_XGBoost.py:64)
    hess           h_ik = err_ik p_ik (1−p_ik) − g_ik p_ik  (_XGBoost.py:65)
* one regression tree per class per boosting round; leaf value
  −G/(H+λ), split gain ½[G_l²/(H_l+λ) + G_r²/(H_r+λ) − G²/(H+λ)]
  (XGBoost exact greedy algorithm — public).
* predict: weights = softmax(F(x)); y_hat = Σ_k w_k · forecast_k
  (_XGBoost.py:137-163).

Tree layout and fit: ``fit`` argsorts every feature column once
(stable), and each node keeps its rows' share of that order, shape
(d, rows), so no node sorts again. A node searches all d features in
one array pass: per-feature prefix sums of g and h, then a (d, rows-1)
gain matrix. A fitted tree is five flat arrays (feature, threshold,
left, right, value; leaves have feature -1 and point to themselves),
so ``predict`` is a vectorized descent of ``depth`` steps, and ``fit``
updates the raw scores from the leaf membership the build already
computed rather than predicting again. The fit is bit-identical to a
per-node loop over features that argsorts each node afresh (pinned by
tests/test_meta_learner_parity.py against that recursive tree):

1. a stable sort filtered to a subset of rows is that subset's stable
   sort, so every node sees the same row order per feature;
2. ``np.cumsum`` along an axis adds sequentially, element by element,
   exactly as the 1-D cumsum of each feature did; node totals are 1-D
   sums over the node's rows in their original order, as before;
3. the split is the first maximum within a feature, then the first
   feature holding the overall maximum, taken only if its gain is > 0:
   the loop's strict ``>`` tie-break, feature by feature.

Scale shape: training data is ONE row per series (features + per-model
errors) — collected to the driver, which is the same shape the
reference trains on and is small even for millions of series;
weight APPLICATION is distributed (broadcast join + weighted sum).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np


def softmax(z: np.ndarray) -> np.ndarray:
    z = z - z.max(axis=1, keepdims=True)
    e = np.exp(z)
    return e / e.sum(axis=1, keepdims=True)


# ---------------------------------------------------------------------------
# Regression tree (exact greedy, second-order)
# ---------------------------------------------------------------------------


class _Tree:
    """One fitted regression tree as flat node arrays.

    Node 0 is the root. An inner node sends a row to ``left`` when
    ``x[feature] < threshold``, else to ``right``; a leaf has feature -1
    and points to itself on both sides, so a descent of ``depth`` steps
    ends on every row's leaf, however deep that leaf is.
    """

    def __init__(self, feature, threshold, left, right, value, depth):
        self.feature = np.asarray(feature, dtype=np.intp)
        self.threshold = np.asarray(threshold, dtype=np.float64)
        self.left = np.asarray(left, dtype=np.intp)
        self.right = np.asarray(right, dtype=np.intp)
        self.value = np.asarray(value, dtype=np.float64)
        self.depth = depth

    def predict(self, X: np.ndarray) -> np.ndarray:
        node = np.zeros(len(X), dtype=np.intp)
        rows = np.arange(len(X))
        for _ in range(self.depth):
            go_left = X[rows, self.feature[node]] < self.threshold[node]
            node = np.where(go_left, self.left[node], self.right[node])
        return self.value[node]


def _best_split(idx, xs, g, h, G, H, lam, mcw):
    """Best (feature, threshold) of one node, or None.

    ``idx``/``xs`` are the node's row ids and values sorted per feature,
    shape (d, cnt). Every feature is searched in one array pass: the
    left prefix sums of g and h after each sorted position, then the
    gain of splitting there, allowed only between distinct values and
    when both sides hold at least ``mcw`` of hessian.
    """
    gl = np.cumsum(g[idx], axis=1)[:, :-1]
    hl = np.cumsum(h[idx], axis=1)[:, :-1]
    gr, hr = G - gl, H - hl
    parent = G * G / (H + lam)
    ok = (xs[:, 1:] != xs[:, :-1]) & (hl >= mcw) & (hr >= mcw)
    gain = 0.5 * (gl * gl / (hl + lam) + gr * gr / (hr + lam) - parent)
    gain = np.where(ok, gain, -np.inf)
    # the first maximum in feature-major order is the first position of
    # the first feature holding the largest gain; a feature with a NaN
    # gain never wins (its own argmax would be that NaN)
    at = int(gain.argmax())
    if np.isnan(gain.flat[at]):
        gain[np.isnan(gain).any(axis=1)] = -np.inf
        at = int(gain.argmax())
    if not gain.flat[at] > 0.0:
        return None
    j, i = divmod(at, gain.shape[1])
    return j, float((xs[j, i] + xs[j, i + 1]) / 2)


@np.errstate(divide="ignore", invalid="ignore")  # gains masked by ok
def _grow(X, idx, xs, g, h, max_depth, lam, mcw):
    """Fit one tree to gradients ``g`` and hessians ``h``.

    ``idx``/``xs`` are X's presorted row ids and values, shape (d, n);
    each child that may split again keeps its rows' share of them in the
    same order, so no node sorts again. Returns the tree and every
    training row's leaf value.
    """
    n, d = len(g), len(idx)
    feature, threshold, left, right, value = [], [], [], [], []
    per_row = np.empty(n)
    depth = 0
    # breadth first; a node's id is its position in this list
    nodes = [(np.arange(n), idx, xs, 0)]
    for k, (rows, n_idx, n_xs, level) in enumerate(nodes):
        G, H = g[rows].sum(), h[rows].sum()
        split = None
        if level < max_depth and len(rows) >= 2:
            split = _best_split(n_idx, n_xs, g, h, G, H, lam, mcw)
        if split is None:
            # FFORMA hessians can be negative (softmax objective is
            # non-convex); xgboost handles that by pruning leaves whose
            # summed hessian is below min_child_weight. Take no step
            # rather than a Newton step against untrusted curvature.
            v = 0.0 if H < mcw else -G / (H + lam)
            feature.append(-1)
            threshold.append(0.0)
            left.append(k)
            right.append(k)
            value.append(v)
            per_row[rows] = v
            depth = max(depth, level)
            continue
        j, thr = split
        goes = X[:, j] < thr
        feature.append(j)
        threshold.append(thr)
        left.append(len(nodes))
        right.append(len(nodes) + 1)
        value.append(0.0)
        on_left = goes[rows]
        if level + 1 < max_depth:
            sel = goes[n_idx]
            nodes.append((rows[on_left], n_idx[sel].reshape(d, -1),
                          n_xs[sel].reshape(d, -1), level + 1))
            nodes.append((rows[~on_left], n_idx[~sel].reshape(d, -1),
                          n_xs[~sel].reshape(d, -1), level + 1))
        else:  # the children are leaves: only their rows matter
            nodes.append((rows[on_left], None, None, level + 1))
            nodes.append((rows[~on_left], None, None, level + 1))
    return _Tree(feature, threshold, left, right, value, depth), per_row


# ---------------------------------------------------------------------------
# FFORMA gradient boosting
# ---------------------------------------------------------------------------


@dataclass
class NumpyFFORMA:
    """Gradient-boosted FFORMA weight model (driver-side numpy)."""

    n_rounds: int = 50
    learning_rate: float = 0.1
    max_depth: int = 4
    reg_lambda: float = 1.0
    min_child_weight: float = 1e-6
    trees_: list = field(default_factory=list, repr=False)
    loss_curve_: list = field(default_factory=list, repr=False)
    fit_s_: float = field(default=0.0, init=False, repr=False)

    def _grad_hess(self, errors: np.ndarray, F: np.ndarray):
        p = softmax(F)
        L = (p * errors).sum(axis=1, keepdims=True)
        grad = p * (errors - L)
        hess = errors * p * (1.0 - p) - grad * p
        # hessians are handed to the trees RAW (possibly negative),
        # exactly like the reference hands them to xgboost
        # (fforma/meta_learner/_XGBoost.py:65); the trees guard
        # low/negative curvature via min_child_weight (split gate +
        # leaf no-step).
        return grad, hess, float(L.mean())

    def fit(self, X: np.ndarray, errors: np.ndarray) -> "NumpyFFORMA":
        t0 = time.perf_counter()
        X = np.asarray(X, dtype=np.float64)
        errors = np.asarray(errors, dtype=np.float64)
        n, k = errors.shape
        # presort once: a stable sort filtered to a node's rows is that
        # node's own stable sort
        idx = np.argsort(X.T, axis=1, kind="stable")
        xs = np.take_along_axis(X.T, idx, axis=1)
        F = np.zeros((n, k))
        for _ in range(self.n_rounds):
            grad, hess, loss = self._grad_hess(errors, F)
            self.loss_curve_.append(loss)
            round_trees = []
            for c in range(k):
                t, leaf_values = _grow(
                    X, idx, xs, grad[:, c], hess[:, c], self.max_depth,
                    self.reg_lambda, self.min_child_weight,
                )
                F[:, c] += self.learning_rate * leaf_values
                round_trees.append(t)
            self.trees_.append(round_trees)
        _, _, loss = self._grad_hess(errors, F)
        self.loss_curve_.append(loss)
        self.fit_s_ = time.perf_counter() - t0
        return self

    def raw_scores(self, X: np.ndarray) -> np.ndarray:
        X = np.asarray(X, dtype=np.float64)
        k = len(self.trees_[0])
        F = np.zeros((len(X), k))
        for round_trees in self.trees_:
            for c, t in enumerate(round_trees):
                F[:, c] += self.learning_rate * t.predict(X)
        return F

    def predict_weights(self, X: np.ndarray) -> np.ndarray:
        return softmax(self.raw_scores(X))


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------


def collect_training_matrix(
    features_df,
    errors_df,
    loss_cols: list[str],
    benchmark: str,
    feature_cols: list[str] | None = None,
    train_row_budget: int | None = 2_000_000,
    sample_seed: int = 2024,
):
    """Budget-capped collect of the per-series (features ⋈ errors)
    matrix (see fit_fforma_spark for the scale contract).

    Returns (X, err, kept_models, feature_cols, doc_ids) with
    benchmark-relative errors and loser pruning already applied.
    """
    from pyspark.sql import functions as SF

    joined = features_df.join(errors_df, "doc_id")
    cached = None
    try:
        if train_row_budget is not None:
            # cache before the budget count: the upstream plan includes
            # the full feature mapInPandas pass, and without the cache
            # the count + (possible) prefix-distinct + final toPandas
            # would each re-execute it from scratch
            cached = joined.cache()
            joined = cached
            n_total = joined.count()
            if n_total > train_row_budget:
                frac = train_row_budget / n_total
                joined = joined.withColumn(
                    "_pfx", SF.substring("doc_id", 1, 1)
                )
                prefixes = [
                    r[0] for r in joined.select("_pfx").distinct().collect()
                ]
                joined = joined.sampleBy(
                    "_pfx", {p: frac for p in prefixes}, seed=sample_seed
                ).drop("_pfx")
        # order on the driver (the collect is budget-bounded): a Spark
        # orderBy adds a range-partition sampling job and an exchange.
        # Spark orders strings by UTF-8 bytes, which is Python's code
        # point order, so the rows come out as orderBy("doc_id") would.
        pdf = joined.toPandas().sort_values(
            "doc_id", kind="stable", ignore_index=True
        )
    finally:
        if cached is not None:
            cached.unpersist()
    if feature_cols is None:
        feature_cols = [c for c in features_df.columns if c != "doc_id"]
    models = [c for c in loss_cols if c != benchmark]
    err = pdf[models].to_numpy(dtype=np.float64)
    bench = pdf[benchmark].to_numpy(dtype=np.float64)
    err = err / (bench[:, None] + 1e-3)
    winners = set(np.unique(err.argmin(axis=1)))
    kept = [m for i, m in enumerate(models) if i in winners]
    err = err[:, [i for i in range(len(models)) if i in winners]]
    X = pdf[feature_cols].to_numpy(dtype=np.float64)
    X = np.nan_to_num(X, nan=0.0, posinf=0.0, neginf=0.0)
    return X, err, kept, feature_cols, pdf["doc_id"].to_numpy()


def fit_fforma_spark(
    features_df,
    errors_df,
    loss_cols: list[str],
    benchmark: str,
    feature_cols: list[str] | None = None,
    train_row_budget: int | None = 2_000_000,
    sample_seed: int = 2024,
    **params,
) -> tuple[NumpyFFORMA, list[str], list[str]]:
    """Train on the collected per-series (features ⋈ errors) matrix —
    1 row/series, the same driver-side shape the reference uses.

    The collect is CAPPED: above ``train_row_budget`` rows a seeded
    stratified sample (by doc_id first character, Spark ``sampleBy``)
    is taken first, so at the 10^12-doc target the driver pulls a
    bounded ~budget×(features+errors) matrix instead of ~10 TB. GBT
    weight functions are smooth in the feature distribution, so a
    multi-million-series sample preserves them (test:
    tests/test_meta_learner.py sampled-vs-full agreement). Scoring is
    always fully distributed (fforma_weights_df).

    Returns (model, kept_models, feature_cols). Benchmark-relative
    scaling and loser pruning per _XGBoost.py:98-116.
    """
    X, err, kept, feature_cols, _ = collect_training_matrix(
        features_df,
        errors_df,
        loss_cols,
        benchmark,
        feature_cols,
        train_row_budget,
        sample_seed,
    )
    model = NumpyFFORMA(**params).fit(X, err)
    return model, kept, feature_cols


def fforma_weights_df(spark, model: NumpyFFORMA, features_df,
                      feature_cols: list[str], kept: list[str]):
    """Distributed weight application: score features with the trained
    trees inside a mapInPandas pass (model broadcast via closure),
    yielding the per-series weight table for weighted_rollup."""
    import pandas as pd

    schema = "doc_id string, " + ", ".join(f"w_{m} double" for m in kept)

    def score(it):
        for pdf in it:
            X = pdf[feature_cols].to_numpy(dtype=np.float64)
            X = np.nan_to_num(X, nan=0.0, posinf=0.0, neginf=0.0)
            w = model.predict_weights(X)
            out = pd.DataFrame({"doc_id": pdf["doc_id"]})
            for i, m in enumerate(kept):
                out[f"w_{m}"] = w[:, i]
            yield out

    from fforma_spark.util import ensure_parallelism

    src = ensure_parallelism(features_df.select("doc_id", *feature_cols))
    return src.mapInPandas(score, schema)
