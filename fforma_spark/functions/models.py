"""Per-series base forecast models → prediction panel.

The reference fits ~10 univariate models per series inside a dask
process pool (fforma/base/trainer.py:77-146). Here each series' train
split and all model forecasts are produced in ONE Arrow-batched
mapInPandas pass over the wide sequences table — stateless, shuffle-
free, embarrassingly parallel over docs (the dask fan-out collapses
into plain data parallelism).

Output long panel: (doc_id, pos, <model>_forec ...) where pos counts
horizon steps 0..h-1 after the train cutoff — mirrors preds_df
(fforma/base/trainer.py:120-146, fforma/experiments/base/common.py:194-211).

:func:`forecast_columns` is the one forecast dispatch: every consumer of
base forecasts (this fabric, and the regression-averaging pass in
regression_averaging.py) hands it a batch of train series, and it alone
chooses between the batched kernels (forecast_batch.py) and the scalar
oracle :func:`forecast_series`.

The closed-form members (naive/snaive/rw_drift/average) are checked
against DuckDB oracles in fforma_spark.queries: base_forecasts_closed_form
oracles this fabric's own output, and forecasts_sql_events computes the
same closed forms Catalyst-only through
fforma_spark.plans.backtest.closed_form_stats / closed_form_forecasts,
the one implementation the rolling ensemble backtest also uses.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from fforma_spark.functions import kernels as K
from fforma_spark.functions.features import SEASONALITY_BY_PREFIX

MODELS = [
    "naive",
    "snaive",
    "naive2",
    "rw_drift",
    "average",
    "mavg",
    "smavg",
    "ses",
    "croston",
    "croston_sba",
    "croston_opt",
    "tsb",
    "adida",
    "imapa",
]

FORECAST_COLS = [f"{m}_forec" for m in MODELS]
FORECASTS_SCHEMA = "doc_id string, pos long, " + ", ".join(
    f"{c} double" for c in FORECAST_COLS
)


def forecast_series(
    y: np.ndarray, h: int, seasonality: int
) -> dict[str, np.ndarray]:
    """All model forecasts for one train series (numpy oracle)."""
    y = np.asarray(y, dtype=np.float64)
    _, ses_fc = K.ses_run(0.1, y)
    return {
        "naive_forec": K.naive(y, h),
        "snaive_forec": K.seasonal_naive(y, h, seasonality),
        "naive2_forec": K.naive2(y, h, seasonality),
        "rw_drift_forec": K.rw_drift(y, h),
        "average_forec": K.average(y, h),
        "mavg_forec": K.moving_average(y, h, n_obs=min(2, len(y))),
        "smavg_forec": K.seasonal_moving_average(
            y, h, seasonality, n_seasons=2
        )
        if len(y) >= 2 * seasonality
        else K.average(y, h),
        "ses_forec": np.full(h, ses_fc),
        "croston_forec": K.croston(y, h, "classic"),
        "croston_sba_forec": K.croston(y, h, "sba"),
        "croston_opt_forec": K.croston(y, h, "optimized"),
        "tsb_forec": K.tsb(y, h),
        "adida_forec": K.adida(y, h),
        "imapa_forec": K.imapa(y, h),
    }


def _split(tokens: np.ndarray, h: int) -> tuple[np.ndarray, np.ndarray]:
    """Last-h holdout per series (fforma/fforma_python_futuro.py:83-88)."""
    y = np.asarray(tokens, dtype=np.float64)
    return y[:-h], y[-h:]


def forecast_columns(
    trains: list[np.ndarray], hs: list[int], ss: list[int]
) -> dict[str, np.ndarray]:
    """All model forecasts for many train series: FORECAST_COL -> one
    flat float64 array holding row k's ``hs[k]`` forecasts at offset
    ``sum(hs[:k])``.

    The one place production code chooses between the batched kernels
    and the scalar oracle. Rows are grouped by (train-length,
    seasonality, horizon, all-positive); every all-positive group runs
    through the vectorized :func:`forecast_batch.forecast_group_matrix`
    with its optimal SES alphas taken from ONE pooled
    :func:`forecast_batch.optimize_alpha_ragged` sweep — bit-identical
    to :func:`forecast_series` per row (pinned by
    tests/test_forecast_batch.py). Rows whose train series contains a
    non-positive value keep the per-row scalar :func:`forecast_series`
    (ragged intermittent-demand shapes)."""
    from fforma_spark.functions.forecast_batch import (
        forecast_group_matrix,
        optimize_alpha_ragged,
    )

    h_arr = np.asarray(hs, dtype=np.int64)
    offsets = np.concatenate([[0], np.cumsum(h_arr)])
    out_cols = {c: np.full(int(offsets[-1]), np.nan) for c in FORECAST_COLS}
    groups: dict[tuple[int, int, int, bool], list[int]] = {}
    for k, (train, h, s) in enumerate(zip(trains, hs, ss)):
        fast = bool(np.all(train > 0))
        groups.setdefault((len(train), s, h, fast), []).append(k)
    fast_items = [
        (key, rows, np.stack([trains[k] for k in rows]))
        for key, rows in groups.items()
        if key[3]
    ]
    alphas = (
        optimize_alpha_ragged([Y for _, _, Y in fast_items])
        if fast_items
        else []
    )
    for ((_n, s, h, _fast), rows, Y), al in zip(fast_items, alphas):
        idx = np.asarray(rows, dtype=np.int64)
        dest = (offsets[idx][:, None] + np.arange(h)).ravel()
        fc = forecast_group_matrix(Y, h, s, alpha_opt=al)
        if {f"{m}_forec" for m in fc} != set(FORECAST_COLS):
            raise ValueError(
                f"forecast_group_matrix models {sorted(fc)} do not "
                f"match FORECAST_COLS {FORECAST_COLS}"
            )
        for m, mat in fc.items():
            out_cols[f"{m}_forec"][dest] = mat.ravel()
    for (_n, s, h, fast), rows in groups.items():
        if fast:
            continue  # handled above
        for k in rows:  # scalar fallback: non-positive values present
            fc1 = forecast_series(trains[k], h, s)
            lo = int(offsets[k])
            for c in FORECAST_COLS:
                out_cols[c][lo : lo + h] = fc1[c]
    return out_cols


def _forecast_batches(
    it: Iterator[pd.DataFrame], h_by_prefix: dict[str, int], default_h: int
) -> Iterator[pd.DataFrame]:
    """Batch engine for :func:`base_forecasts`: each Arrow batch's
    train splits go through ONE :func:`forecast_columns` call. Row
    order (doc order as received, pos ascending within doc) is
    preserved exactly."""
    cols = ["doc_id", "pos", *FORECAST_COLS]
    for pdf in it:
        kept_ids: list = []
        trains: list[np.ndarray] = []
        hs: list[int] = []
        ss: list[int] = []
        for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
            pfx = str(doc_id)[:1]
            h = h_by_prefix.get(pfx, default_h)
            y = np.asarray(tokens, dtype=np.float64)
            if len(y) <= h:  # too short to split — skip (min-length filter
                continue  # analog: fforma/utils/utils.py:44-52)
            kept_ids.append(doc_id)
            trains.append(_split(y, h)[0])
            hs.append(h)
            ss.append(SEASONALITY_BY_PREFIX.get(pfx, 1))
        if not kept_ids:
            yield pd.DataFrame(columns=cols)
            continue
        h_arr = np.asarray(hs, dtype=np.int64)
        starts = np.repeat(np.cumsum(h_arr) - h_arr, h_arr)
        yield pd.DataFrame(
            {
                "doc_id": np.repeat(
                    np.asarray(kept_ids, dtype=object), h_arr
                ),
                "pos": np.arange(len(starts), dtype=np.int64) - starts,
                **forecast_columns(trains, hs, ss),
            }
        )[cols]


# horizon convention per M4 group (fforma/utils/m4_data.py:14-25)
HORIZON_BY_PREFIX = {"H": 48, "D": 14, "W": 13, "M": 18, "Q": 8, "Y": 6, "S": 8}


def base_forecasts(
    seq_df: DataFrame,
    h_by_prefix: dict[str, int] | None = None,
    default_h: int = 8,
    max_series_len: int | None = None,
) -> DataFrame:
    """Prediction panel for every model over every (long-enough) doc.

    ``max_series_len`` arms whale protection: whale docs enter the
    kernels as their trailing window (plans/skew.cap_whales) — the
    sequential models are tail-dominated, the per-task cost bound is
    what matters at 100 TB, and docs ≤ cap are bit-identical."""
    from fforma_spark.plans.skew import map_sequences

    hmap = HORIZON_BY_PREFIX if h_by_prefix is None else h_by_prefix
    gen = lambda it: _forecast_batches(it, hmap, default_h)  # noqa: E731
    return map_sequences(seq_df, gen, FORECASTS_SCHEMA, max_series_len)


def holdout_truth(seq_df: DataFrame, h_by_prefix: dict[str, int] | None = None,
                  default_h: int = 8) -> DataFrame:
    """The last-h actuals per doc as a long panel (doc_id, pos, y) —
    validation split (fforma/fforma_python_futuro.py:83-88) done with
    pure array ops (slice on the wide table, no window shuffle)."""
    from pyspark.sql import functions as F

    hmap = HORIZON_BY_PREFIX if h_by_prefix is None else h_by_prefix
    h_expr = F.lit(default_h)
    for pfx, h in hmap.items():
        h_expr = F.when(F.substring("doc_id", 1, 1) == pfx, h).otherwise(h_expr)
    return (
        seq_df.withColumn("_h", h_expr)
        .filter(F.col("n_tok") > F.col("_h"))
        .select(
            "doc_id",
            F.posexplode(
                F.slice(F.col("tokens"), -F.col("_h"), F.col("_h"))
            ).alias("pos", "y"),
        )
        .select("doc_id", F.col("pos").cast("long"), F.col("y").cast("double"))
    )


def train_split(seq_df: DataFrame, h_by_prefix: dict[str, int] | None = None,
                default_h: int = 8) -> DataFrame:
    """All-but-last-h tokens per doc (train side of the holdout), as a
    wide table — slice() on arrays, zero shuffle."""
    from pyspark.sql import functions as F

    hmap = HORIZON_BY_PREFIX if h_by_prefix is None else h_by_prefix
    h_expr = F.lit(default_h)
    for pfx, h in hmap.items():
        h_expr = F.when(F.substring("doc_id", 1, 1) == pfx, h).otherwise(h_expr)
    return (
        seq_df.withColumn("_h", h_expr)
        .filter(F.col("n_tok") > F.col("_h"))
        .select(
            "doc_id",
            # greatest(...,0) keeps the slice total: Generate/explode
            # downstream can collapse this projection past the filter
            # and evaluate it on pre-filter rows (observed on 4.1)
            F.slice(
                F.col("tokens"),
                F.lit(1),
                F.greatest(F.col("n_tok") - F.col("_h"), F.lit(0)),
            ).alias("tokens"),
            (F.col("n_tok") - F.col("_h")).cast("int").alias("n_tok"),
            "source",
        )
    )
