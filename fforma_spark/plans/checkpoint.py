"""Checkpointed, resumable tier materialization with per-partition
lineage records (north_rule).

The reference's resume mechanism is skip-if-artifact-exists
(fforma/experiments/business/base_forecasts.py:83-86,
fforma/experiments/base/main.py:45-50, fforma/utils/m4_data.py:232-236).
Here each tier writes parquet plus a ``_manifest.json`` carrying the
input fingerprint, tier spec, row/byte counts, per-partition lineage
(partition id → rows), and wall time. A rerun with the same
fingerprint skips completed tiers and resumes at the first missing or
stale one — a killed job never recomputes finished tiers.

Writes are idempotent (mode="overwrite" into the tier directory, then
manifest last), so a tier killed mid-write is simply rebuilt: the
manifest is the commit record.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession, functions as F

from fforma_spark.operators.rollup import (
    TierSpec,
    rollup_from_tier,
    rollup_tier,
)

MANIFEST = "_manifest.json"


def _manifest_path(base_dir: str, tier: TierSpec) -> str:
    return os.path.join(base_dir, tier.name, MANIFEST)


def _tier_path(base_dir: str, tier: TierSpec) -> str:
    return os.path.join(base_dir, tier.name, "data")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _write_tier(
    df: DataFrame,
    base_dir: str,
    tier: TierSpec,
    fingerprint: str,
    source_tier: str,
) -> dict:
    t0 = time.time()
    path = _tier_path(base_dir, tier)
    # lineage: rows produced per output partition, captured in the same
    # pass that writes the data (spark_partition_id tags the write-side
    # partition; cheap groupBy on the small tier output)
    tagged = df.withColumn("_pid", F.spark_partition_id())
    # format-pluggable: parquet dir, or Iceberg writeTo when
    # FFORMA_SPARK_ICEBERG_CATALOG is set (SCALE.md §1 partition spec)
    from fforma_spark.sources.tables import write_output

    target = write_output(tagged, path, table_name=f"tier_{tier.name}")
    if target == path:
        written = df.sparkSession.read.parquet(path)
        nbytes = _dir_bytes(path)
    else:  # pragma: no cover — needs an Iceberg runtime jar
        written = df.sparkSession.read.table(target)
        nbytes = None
    # one row per partition: order on the driver, since a Spark
    # orderBy adds a range-partition sampling job and an exchange
    lineage_rows = sorted(
        written.groupBy("_pid").count().collect(), key=lambda r: r["_pid"]
    )
    rows = sum(r["count"] for r in lineage_rows)
    manifest = {
        "tier": asdict(tier),
        "fingerprint": fingerprint,
        "source_tier": source_tier,
        "rows": rows,
        "bytes": nbytes,
        "partitions": [
            {"partition_id": r["_pid"], "rows": r["count"]}
            for r in lineage_rows
        ],
        "wall_sec": round(time.time() - t0, 3),
        "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(_manifest_path(base_dir, tier), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def tier_is_complete(base_dir: str, tier: TierSpec, fingerprint: str) -> bool:
    mp = _manifest_path(base_dir, tier)
    if not os.path.exists(mp):
        return False
    try:
        with open(mp) as f:
            m = json.load(f)
    except (OSError, json.JSONDecodeError):
        return False
    return (
        m.get("fingerprint") == fingerprint
        and m.get("tier", {}).get("bucket") == tier.bucket
    )


def read_tier(spark: SparkSession, base_dir: str, tier: TierSpec) -> DataFrame:
    return spark.read.parquet(_tier_path(base_dir, tier)).drop("_pid")


def materialize_ladder(
    panel: DataFrame,
    base_dir: str,
    tiers: tuple[TierSpec, ...],
    fingerprint: str,
    exact_decimals: int | None = None,
) -> dict[str, dict]:
    """Build (or resume) the tier cascade under ``base_dir``.

    Returns {tier_name: manifest}; manifests of skipped tiers are the
    previously persisted ones (marked "resumed": True). Each tier
    derives from the previous one, so the whole cascade's bucket
    widths are checked before the first write.
    """
    for fine, coarse in zip(tiers, tiers[1:]):
        if coarse.bucket % fine.bucket != 0:
            raise ValueError(
                f"{coarse.name} bucket {coarse.bucket} not a multiple of "
                f"{fine.name} bucket {fine.bucket}"
            )
    spark = panel.sparkSession
    results: dict[str, dict] = {}
    prev: TierSpec | None = None
    for tier in tiers:
        if tier_is_complete(base_dir, tier, fingerprint):
            with open(_manifest_path(base_dir, tier)) as f:
                m = json.load(f)
            m["resumed"] = True
            results[tier.name] = m
            prev = tier
            continue
        if prev is None:
            df = rollup_tier(panel, tier.bucket, exact_decimals)
            src = "raw"
        else:
            df = rollup_from_tier(
                read_tier(spark, base_dir, prev),
                tier.bucket // prev.bucket,
                exact_decimals,
            )
            src = prev.name
        results[tier.name] = _write_tier(df, base_dir, tier, fingerprint, src)
        prev = tier
    return results
