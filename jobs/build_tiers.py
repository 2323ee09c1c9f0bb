#!/usr/bin/env python
"""Production tier-build job — the spark-submit entry point.

    spark-submit --master <cluster> --py-files fforma_spark.zip \\
        jobs/build_tiers.py --input /path/to/sequences_parquet \\
        --output /path/to/tiers --tiers t1m:60,t1h:3600,t1d:86400

Pipeline: load sequences (doc_id, tokens, n_tok, source) → skew report
on the n_tok distribution → explode to the long panel → salted
repartition → checkpointed tier cascade (resumes past completed tiers
on rerun) → metrics JSON on stdout (one line, like bench.py; its
``codegen_compiles`` counts the generated classes the JVM compiled).

With --synth N the input is the deterministic generator instead of a
table (for cluster smoke tests with no data dependency).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir of the sequences table")
    ap.add_argument("--synth", type=int, default=0, help="generate N docs instead")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--store-input",
        help="with --synth: write the generated sequences parquet here "
        "and exit (so scaling legs read identical stored bytes)",
    )
    ap.add_argument("--output", required=False, help="tier output base dir")
    ap.add_argument(
        "--tiers",
        default="t1m:60,t1h:3600,t1d:86400",
        help="comma list of name:bucket (buckets must cascade evenly)",
    )
    ap.add_argument("--salts", type=int, default=16)
    ap.add_argument(
        "--max-series-len",
        type=int,
        default=65536,
        help="whale cap: longer docs enter sequential kernels as a "
        "trailing window (plans/skew.cap_whales)",
    )
    ap.add_argument("--exact-decimals", type=int, default=None)
    ap.add_argument(
        "--compress",
        action="store_true",
        help="also build the compressed-block tier (delta-of-delta codec)",
    )
    ap.add_argument(
        "--features",
        action="store_true",
        help="also build the T0 feature rollup tier (pandas-UDF kernels)",
    )
    args = ap.parse_args()

    import os

    # pin BLAS pools BEFORE the JVM (and its python workers) inherit the
    # env: 32 workers × unpinned OpenMP = thousands of spinning threads
    # (reference pins BLAS too: fforma/utils/utils.py:28-32)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    from pyspark.sql import SparkSession

    from fforma_spark.operators.reshape import explode_panel
    from fforma_spark.operators.rollup import TierSpec
    from fforma_spark.plans.checkpoint import check_ladder, materialize_ladder
    from fforma_spark.plans.skew import skew_report
    from fforma_spark.sources.synth import synth_sequences

    from fforma_spark.session import (
        SESSION_CONF,
        codegen_compiles,
        warm_python_workers,
    )

    tiers = tuple(
        TierSpec(name, int(bucket))
        for name, bucket in (t.split(":") for t in args.tiers.split(","))
    )
    # a ladder that does not cascade, or a configured Iceberg catalog the
    # parquet-only ladder cannot write to, fails before any Spark work
    check_ladder(tiers)

    spark = (
        SparkSession.builder.appName("fforma_spark_build_tiers")
        .config(map=SESSION_CONF)
        .getOrCreate()
    )
    if args.store_input:
        if not args.synth:
            ap.error("--store-input requires --synth N")
        synth_sequences(spark, args.synth, args.seed).write.mode(
            "overwrite"
        ).parquet(args.store_input)
        n = spark.read.parquet(args.store_input).count()
        print(json.dumps({"stored": args.store_input, "n_docs": n}))
        return
    if not args.output:
        ap.error("--output is required")
    if args.compress or args.features:
        warm_python_workers(spark)
    t0 = time.time()

    if args.synth:
        # cache: seq feeds skew_report, the ladder, the compress tier
        # and the feature tier — generate once, not once per consumer
        seq = synth_sequences(spark, args.synth, args.seed).cache()
        fingerprint = f"synth:{args.synth}:{args.seed}"
    elif args.input:
        seq = spark.read.parquet(args.input)
        fingerprint = f"parquet:{args.input}"
    else:
        ap.error("one of --input / --synth is required")
        return

    phase = {}
    tp = time.time()
    report = skew_report(seq)
    phase["gen_cache_skew_sec"] = round(time.time() - tp, 3)
    tp = time.time()
    # NOTE: no explicit repartition before the ladder — rollup_tier's
    # groupBy(doc_id, bucket) already shuffles AND spreads whale docs
    # across bucket keys; salting here would add a redundant full
    # shuffle of the raw panel. salted_repartition (plans.skew) is for
    # kernel stages that must co-locate whole docs, not for the
    # associative tier agg.
    panel = explode_panel(seq)
    manifests = materialize_ladder(
        panel, args.output, tiers, fingerprint, args.exact_decimals
    )
    phase["ladder_sec"] = round(time.time() - tp, 3)

    extra = {"phases": phase}
    if args.compress:
        from pyspark.sql import functions as F

        from fforma_spark.functions.compress import compressed_blocks

        tc = time.time()
        cb = compressed_blocks(seq)
        cb.write.mode("overwrite").parquet(f"{args.output}/cb/data")
        stats = spark.read.parquet(f"{args.output}/cb/data").agg(
            F.sum("raw_bytes").alias("rb"), F.sum("comp_bytes").alias("cmb")
        ).collect()[0]
        extra["compress"] = {
            "wall_sec": round(time.time() - tc, 3),
            "raw_bytes": int(stats["rb"] or 0),
            "comp_bytes": int(stats["cmb"] or 0),
            "bytes_per_sec": round(
                (stats["rb"] or 0) / max(time.time() - tc, 1e-9), 1
            ),
        }
    if args.features:
        from fforma_spark.functions.features import features_wide

        tf = time.time()
        # whale protection armed: a 200k-token doc enters the Python
        # kernels as a bounded trailing window instead of dominating
        # one task (plans/skew.cap_whales; exact associative moments
        # re-merged JVM-side)
        features_wide(seq, max_series_len=args.max_series_len).write.mode(
            "overwrite"
        ).parquet(f"{args.output}/t0_features/data")
        extra["features"] = {"wall_sec": round(time.time() - tf, 3)}

    wall = time.time() - t0
    total_points = report["total_tokens"]
    print(
        json.dumps(
            {
                "metric": "tier build",
                "value": round(wall, 3),
                "unit": "sec",
                "points_per_sec": round(total_points / max(wall, 1e-9), 1),
                "skew": {k: v for k, v in report.items() if k != "whales"},
                "n_whales": len(report["whales"]),
                "tiers": {
                    name: {
                        "rows": m["rows"],
                        "bytes": m["bytes"],
                        "resumed": m.get("resumed", False),
                        "partitions": len(m.get("partitions", [])),
                    }
                    for name, m in manifests.items()
                },
                "codegen_compiles": codegen_compiles(spark),
                **extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
