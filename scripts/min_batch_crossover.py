#!/usr/bin/env python
"""Measure the batched-vs-scalar feature-kernel crossover (VERDICT r4
#3): at which (group rows B, series length n) does the length-batched
``feature_matrix`` beat B calls of scalar ``feature_vector``?

The dispatch constants MIN_BATCH_ROWS / MIN_BATCH_LEN in
functions/batch_kernels.py gate _feature_batches' group dispatch; until
round 5 they were asserted (3, 20), not measured. This script times
both paths on identical synthetic groups (the engine's own Philox
series, truncated/tiled to each length), best-of-R, and prints one
JSON line per cell plus a recommendation. Pure numpy — no Spark, no
JVM — so a clean window only needs a quiet CPU: run it on an otherwise
idle host.

Usage: python scripts/min_batch_crossover.py [--reps 5]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fforma_spark.functions.batch_kernels import feature_matrix  # noqa: E402
from fforma_spark.functions.kernels import feature_vector  # noqa: E402
from fforma_spark.sources.synth import _gen_one  # noqa: E402


def make_group(b: int, n: int, seed_base: int) -> np.ndarray:
    """(b, n) group from the engine's own synthetic series: tile or
    truncate real token sequences so values are kernel-shaped (counts,
    zeros, seasonality) rather than white noise."""
    rows = []
    i = seed_base
    while len(rows) < b:
        _, toks, _ = _gen_one(42, i)
        x = np.asarray(toks, dtype=np.float64)
        while len(x) < n:
            x = np.concatenate([x, x])
        rows.append(x[:n])
        i += 1
    return np.stack(rows)


def best_of(reps: int, fn) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--inner", type=int, default=20,
                    help="kernel calls per timed rep (amortizes timer noise)")
    args = ap.parse_args()

    sizes = [1, 2, 3, 4, 6, 8, 16, 64]
    lengths = [8, 20, 50, 100, 500, 2000]
    season = 7
    cells = []
    for n in lengths:
        for b in sizes:
            X = make_group(b, n, seed_base=1000 * n + b)
            rows = [np.ascontiguousarray(X[j]) for j in range(b)]

            def run_batched():
                for _ in range(args.inner):
                    feature_matrix(X, season)

            def run_scalar():
                for _ in range(args.inner):
                    for r in rows:
                        feature_vector(r, season)

            tb = best_of(args.reps, run_batched) / args.inner
            ts = best_of(args.reps, run_scalar) / args.inner
            cell = {
                "rows": b,
                "len": n,
                "batched_ms": round(tb * 1e3, 3),
                "scalar_ms": round(ts * 1e3, 3),
                "speedup": round(ts / tb, 2),
            }
            cells.append(cell)
            print(json.dumps(cell), flush=True)

    # recommendation: smallest B where batched wins (>5% margin) at
    # every measured length >= the length floor
    by_rows: dict[int, list] = {}
    for c in cells:
        by_rows.setdefault(c["rows"], []).append(c)
    rec_rows = None
    for b in sorted(by_rows):
        if b >= 2 and all(
            c["speedup"] >= 1.05 for c in by_rows[b] if c["len"] >= 20
        ):
            rec_rows = b
            break
    print(json.dumps({"recommended_min_batch_rows": rec_rows,
                      "len_floor_checked": 20}), flush=True)


if __name__ == "__main__":
    main()
