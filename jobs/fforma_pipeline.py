#!/usr/bin/env python
"""FFORMA forecasting pipeline job — the reference's fit/predict flow
(fforma/fforma_python_futuro.py:168-260) as one spark-submit run:

    spark-submit --py-files fforma_spark.zip jobs/fforma_pipeline.py \\
        --input /path/to/sequences_parquet --output /path/to/out [--synth N]

Stages: last-h holdout split → 13 base models per series (mapInPandas)
→ per-series sMAPE/MASE/OWA vs the Naive2 benchmark → T0 features →
numpy-GBT meta-learner (driver; 1 row/series) → distributed weight
scoring → weighted ensemble rollup. Writes parquet: forecasts/,
errors/, features/, weights/, y_hat/ + one JSON metrics line, whose
``meta_fit_s`` is the driver-side meta-learner fit of the final model
(seconds inside ``NumpyFFORMA.fit``; with --hpo the search's
cross-validation fits are not included) and whose ``codegen_compiles``
counts the generated classes the JVM compiled
(``session.codegen_compiles``).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input")
    ap.add_argument("--synth", type=int, default=0)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--output", required=True)
    ap.add_argument("--horizon", type=int, default=8)
    ap.add_argument("--rounds", type=int, default=30)
    ap.add_argument(
        "--hpo",
        choices=("none", "grid", "tpe"),
        default="none",
        help="meta-learner hyper-parameter search: exhaustive grid CV, "
        "or the from-scratch TPE+median-pruner study (the reference's "
        "optuna flow, cross_validation/common.py:100-117)",
    )
    ap.add_argument("--hpo-trials", type=int, default=20)
    args = ap.parse_args()

    import os

    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    from pyspark.sql import SparkSession, functions as F

    from fforma_spark.functions.ensemble import weighted_rollup
    from fforma_spark.functions.features import features_wide
    from fforma_spark.functions.meta_learner import (
        fforma_weights_df,
        fit_fforma_spark,
    )
    from fforma_spark.functions.metrics import evaluate_with_owa, mase_scale
    from fforma_spark.functions.models import (
        FORECAST_COLS,
        base_forecasts,
        holdout_truth,
        train_split,
    )
    from fforma_spark.operators.reshape import explode_panel
    from fforma_spark.session import (
        SESSION_CONF,
        codegen_compiles,
        warm_python_workers,
    )
    from fforma_spark.sources.synth import synth_sequences

    spark = (
        SparkSession.builder.appName("fforma_pipeline")
        .config(map=SESSION_CONF)
        .getOrCreate()
    )
    warm_python_workers(spark)
    t0 = time.time()

    if args.synth:
        seq = synth_sequences(spark, args.synth, args.seed)
    elif args.input:
        seq = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --synth is required")
        return
    seq = seq.cache()

    h = args.horizon
    train = train_split(seq, default_h=h).cache()
    fc = base_forecasts(seq, default_h=h).cache()
    truth = holdout_truth(seq, default_h=h)
    fc.write.mode("overwrite").parquet(f"{args.output}/forecasts")

    scale = mase_scale(
        explode_panel(train).select("doc_id", "pos", "val"), F.lit(1)
    )
    ev = evaluate_with_owa(
        truth, fc, FORECAST_COLS, scale, bench="naive2_forec"
    ).cache()
    ev.write.mode("overwrite").parquet(f"{args.output}/errors")

    feats = features_wide(train).na.fill(0.0).cache()
    feats.write.mode("overwrite").parquet(f"{args.output}/features")

    loss_cols = [c.removesuffix("_forec") + "_owa" for c in FORECAST_COLS]
    errors = ev.select("doc_id", *loss_cols).na.fill(0.0)
    hpo_info = None
    if args.hpo == "none":
        model, kept, fcols = fit_fforma_spark(
            feats, errors, loss_cols, benchmark="naive2_owa",
            n_rounds=args.rounds, max_depth=3,
        )
    elif args.hpo == "grid":
        from fforma_spark.functions.cross_validation import (
            cross_validate_fforma,
        )

        best, loss, trials, model, kept, fcols = cross_validate_fforma(
            feats, errors, loss_cols, benchmark="naive2_owa",
        )
        hpo_info = {"mode": "grid", "best": best, "cv_loss": round(loss, 6),
                    "n_trials": len(trials)}
    else:
        from fforma_spark.functions.hpo import tpe_cross_validate_fforma

        best, loss, study, model, kept, fcols = tpe_cross_validate_fforma(
            feats, errors, loss_cols, benchmark="naive2_owa",
            n_trials=args.hpo_trials, seed=args.seed,
        )
        pruned = sum(t["state"] == "pruned" for t in study.trials)
        hpo_info = {"mode": "tpe", "best": best, "cv_loss": round(loss, 6),
                    "n_trials": len(study.trials), "n_pruned": pruned}
    w = fforma_weights_df(spark, model, feats, fcols, kept)
    w.write.mode("overwrite").parquet(f"{args.output}/weights")

    kept_models = [m.removesuffix("_owa") + "_forec" for m in kept]
    y_hat = weighted_rollup(fc, spark.read.parquet(f"{args.output}/weights"),
                            kept_models, kept)
    y_hat.write.mode("overwrite").parquet(f"{args.output}/y_hat")

    # headline: mean OWA of the ensemble vs the best single model
    tr = truth.join(y_hat, ["doc_id", "pos"])
    ens_smape = tr.select(
        (200 * F.avg(
            F.when(
                F.abs("y") + F.abs("y_hat") != 0,
                F.abs(F.col("y") - F.col("y_hat"))
                / (F.abs("y") + F.abs("y_hat")),
            )
        )).alias("s")
    ).collect()[0]["s"]
    n_series = seq.count()
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "metric": "fforma pipeline",
                "value": round(wall, 3),
                "unit": "sec",
                "n_series": n_series,
                "kept_models": kept_models,
                "train_loss_curve": [
                    round(x, 5) for x in model.loss_curve_[:: max(1, args.rounds // 5)]
                ],
                "ensemble_smape": round(float(ens_smape), 4),
                "meta_fit_s": round(model.fit_s_, 3),
                "codegen_compiles": codegen_compiles(spark),
                "series_per_sec": round(n_series / max(wall, 1e-9), 1),
                **({"hpo": hpo_info} if hpo_info else {}),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
