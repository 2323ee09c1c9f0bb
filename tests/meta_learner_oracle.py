"""Test oracle for the meta-learner: the recursive exact-greedy tree and
boosting loop that `NumpyFFORMA` replaced with presorted, array-wide
split search and flat-array trees. Kept verbatim in behaviour so the
package's fit can be pinned bit-for-bit against it."""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from fforma_spark.functions.meta_learner import NumpyFFORMA


@dataclass
class _Node:
    feature: int = -1
    threshold: float = 0.0
    left: "_Node | None" = None
    right: "_Node | None" = None
    value: float = 0.0
    is_leaf: bool = False


class RecursiveTree:
    def __init__(self, max_depth, reg_lambda, min_child_weight):
        self.max_depth = max_depth
        self.lam = reg_lambda
        self.mcw = min_child_weight
        self.root = None

    def _leaf(self, g, h):
        H = h.sum()
        if H < self.mcw:
            return _Node(value=0.0, is_leaf=True)
        return _Node(value=-g.sum() / (H + self.lam), is_leaf=True)

    def _best_split(self, X, g, h):
        n, d = X.shape
        G, H = g.sum(), h.sum()
        parent = G * G / (H + self.lam)
        best = (0.0, -1, 0.0)  # gain, feature, threshold
        for j in range(d):
            order = np.argsort(X[:, j], kind="stable")
            xs = X[order, j]
            gl = np.cumsum(g[order])[:-1]
            hl = np.cumsum(h[order])[:-1]
            valid = xs[1:] != xs[:-1]
            if not valid.any():
                continue
            hr = H - hl
            ok = valid & (hl >= self.mcw) & (hr >= self.mcw)
            if not ok.any():
                continue
            gr = G - gl
            gain = 0.5 * (
                gl * gl / (hl + self.lam) + gr * gr / (hr + self.lam) - parent
            )
            gain = np.where(ok, gain, -np.inf)
            i = int(np.argmax(gain))
            if gain[i] > best[0]:
                best = (float(gain[i]), j, float((xs[i] + xs[i + 1]) / 2))
        return best

    def _build(self, X, g, h, depth):
        if depth >= self.max_depth or len(g) < 2:
            return self._leaf(g, h)
        gain, j, thr = self._best_split(X, g, h)
        if j < 0 or gain <= 0.0:
            return self._leaf(g, h)
        mask = X[:, j] < thr
        node = _Node(feature=j, threshold=thr)
        node.left = self._build(X[mask], g[mask], h[mask], depth + 1)
        node.right = self._build(X[~mask], g[~mask], h[~mask], depth + 1)
        return node

    def fit(self, X, g, h):
        self.root = self._build(X, g, h, 0)
        return self

    def predict(self, X):
        out = np.empty(len(X))
        for i, row in enumerate(X):
            node = self.root
            while not node.is_leaf:
                node = node.left if row[node.feature] < node.threshold else node.right
            out[i] = node.value
        return out


class RecursiveFFORMA(NumpyFFORMA):
    """NumpyFFORMA with the recursive tree and per-row predict."""

    def fit(self, X, errors):
        X = np.asarray(X, dtype=np.float64)
        errors = np.asarray(errors, dtype=np.float64)
        n, k = errors.shape
        F = np.zeros((n, k))
        for _ in range(self.n_rounds):
            grad, hess, loss = self._grad_hess(errors, F)
            self.loss_curve_.append(loss)
            round_trees = []
            for c in range(k):
                t = RecursiveTree(
                    self.max_depth, self.reg_lambda, self.min_child_weight
                )
                t.fit(X, grad[:, c], hess[:, c])
                F[:, c] += self.learning_rate * t.predict(X)
                round_trees.append(t)
            self.trees_.append(round_trees)
        _, _, loss = self._grad_hess(errors, F)
        self.loss_curve_.append(loss)
        return self
