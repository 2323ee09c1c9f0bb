#!/usr/bin/env python
"""Per-query isolation bench (optimization guide §1.4) — NOT the driver
bench. `bench.py` is frozen for measurement; this file exists so the
optimization rounds can time individual operators with the noop sink
(every column of every row computed, no count-pruning, no sink cost)
and capture formatted plans, without perturbing the frozen harness.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py [--plans DIR]

Prints one JSON line: {"queries": {name: best_sec}, "rep_times": {...},
"sf": ...}. With --plans DIR, writes DIR/<name>.txt containing
explain("formatted") for each query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fforma_spark.session import default_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or default_cpus())
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from pyspark.sql import functions as F

    from fforma_spark.functions.compress import compressed_blocks
    from fforma_spark.functions.ensemble import softmin_weights, weighted_rollup
    from fforma_spark.functions.features import features_wide
    from fforma_spark.functions.metrics import evaluate_models
    from fforma_spark.functions.models import base_forecasts, holdout_truth
    from fforma_spark.operators.gapfill import locf_fill
    from fforma_spark.operators.rollup import rollup_from_tier, rollup_tier
    from fforma_spark.session import get_spark, warm_python_workers
    from fforma_spark.sources.tables import (
        panel_from_events,
        sequences_from_documents,
    )
    from fforma_spark.util import best_of

    plans_dir = None
    if "--plans" in sys.argv:
        plans_dir = sys.argv[sys.argv.index("--plans") + 1]
        os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark("fforma_spark_bench_extra", master=f"local[{CPUS}]")
    warm_python_workers(spark)
    panel = panel_from_events(spark, SF_DIR).cache()
    seq = sequences_from_documents(spark, SF_DIR).cache()
    panel.count()
    seq.count()

    def ensemble_df():
        fc = base_forecasts(seq, default_h=8)
        truth = holdout_truth(seq, default_h=8)
        model_cols = ["naive_forec", "snaive_forec", "ses_forec"]
        ev = evaluate_models(
            truth, fc.select("doc_id", "pos", *model_cols), model_cols
        )
        loss_cols = [c.removesuffix("_forec") + "_smape" for c in model_cols]
        w = softmin_weights(ev.select("doc_id", *loss_cols), loss_cols)
        return weighted_rollup(fc, w, model_cols, loss_cols)

    targets = {
        "rollup_t1": lambda: rollup_tier(panel, 16),
        "rollup_cascade_t3": lambda: rollup_from_tier(
            rollup_from_tier(rollup_tier(panel, 16), 4), 4
        ),
        "locf_gapfill": lambda: locf_fill(rollup_tier(panel, 16), ["vmean"]),
        "features_t0": lambda: features_wide(seq),
        "compress_blocks": lambda: compressed_blocks(seq).agg(
            F.sum("raw_bytes").alias("rb"), F.sum("comp_bytes").alias("cb")
        ),
        "base_forecasts_only": lambda: base_forecasts(seq, default_h=8),
        "ensemble_rollup": ensemble_df,
    }
    timings: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    for name, mk in targets.items():
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        best, times, _ = best_of(REPS, lambda m=mk: _noop(m()))
        timings[name] = best
        reps[name] = times
        if plans_dir is not None:
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                mk().explain("formatted")
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    print(json.dumps({"queries": timings, "rep_times": reps, "sf": SF_DIR,
                      "cpus": CPUS, "wall": round(time.time(), 1)}))


if __name__ == "__main__":
    main()
