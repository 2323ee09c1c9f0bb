"""Checkpointed, resumable tier materialization with per-partition
lineage records (north_rule).

The reference's resume mechanism is skip-if-artifact-exists
(fforma/experiments/business/base_forecasts.py:83-86,
fforma/experiments/base/main.py:45-50, fforma/utils/m4_data.py:232-236).
Here each tier writes parquet plus a ``_manifest.json`` carrying the
input fingerprint, tier spec, row/byte counts, per-partition lineage
(partition id → rows), the written schema and wall time. A rerun with
the same fingerprint skips completed tiers and resumes at the first
missing or stale one — a killed job never recomputes finished tiers.

Committing a tier runs no Spark job beyond its write: the lineage
comes from the written files' parquet footers, and ``read_tier`` reads
with the manifest's schema instead of inferring it.

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
from pyspark.sql.types import StructField, StructType

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


def _footer_lineage(path: str) -> dict[int, int]:
    """Rows per write-side partition id, read from the footers of the
    parquet files under ``path``: each row group's ``num_rows`` under
    its ``_pid`` statistics. A task writes only its own partition's
    rows, so a row group whose min and max ``_pid`` differ (or that
    has no statistics) means the lineage cannot be read and raises."""
    import pyarrow.parquet as pq

    rows: dict[int, int] = {}
    for name in sorted(os.listdir(path)):
        if name.startswith(("_", ".")):  # _SUCCESS, .crc: not data
            continue
        meta = pq.read_metadata(os.path.join(path, name))
        col = meta.schema.names.index("_pid")
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            st = group.column(col).statistics
            lo, hi = (None, None)
            if st is not None and st.has_min_max:
                lo, hi = st.min, st.max
            if lo is None or lo != hi:
                raise ValueError(
                    f"{name} row group {g}: _pid statistics {lo}..{hi} "
                    "do not name one partition"
                )
            rows[lo] = rows.get(lo, 0) + group.num_rows
    return rows


def _write_tier(
    df: DataFrame,
    base_dir: str,
    tier: TierSpec,
    fingerprint: str,
    source_tier: str,
) -> dict:
    t0 = time.time()
    path = _tier_path(base_dir, tier)
    # lineage: rows produced per output partition, tagged in the same
    # pass that writes the data (spark_partition_id is the write-side
    # partition) and read back from the written files' footers
    tagged = df.withColumn("_pid", F.spark_partition_id())
    tagged.write.mode("overwrite").parquet(path)
    counts = _footer_lineage(path)
    manifest = {
        "tier": asdict(tier),
        "fingerprint": fingerprint,
        "source_tier": source_tier,
        "rows": sum(counts.values()),
        "bytes": _dir_bytes(path),
        "partitions": [
            {"partition_id": pid, "rows": counts[pid]}
            for pid in sorted(counts)
        ],
        # what read_tier passes to the reader, so no read infers it: the
        # tier's flat columns, all nullable as a parquet read returns them
        "schema": StructType(
            [
                StructField(f.name, f.dataType, True, f.metadata)
                for f in df.schema
            ]
        ).jsonValue(),
        "wall_sec": round(time.time() - t0, 3),
        "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(_manifest_path(base_dir, tier), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def _read_manifest(base_dir: str, tier: TierSpec) -> dict:
    with open(_manifest_path(base_dir, tier)) as f:
        return json.load(f)


def tier_is_complete(base_dir: str, tier: TierSpec, fingerprint: str) -> bool:
    """A tier is complete when its manifest (the commit record) exists,
    matches the input fingerprint and the tier's bucket, and records
    the written schema."""
    try:
        m = _read_manifest(base_dir, tier)
    except (OSError, json.JSONDecodeError):
        return False
    return (
        m.get("fingerprint") == fingerprint
        and m.get("tier", {}).get("bucket") == tier.bucket
        and "schema" in m
    )


def read_tier(spark: SparkSession, base_dir: str, tier: TierSpec) -> DataFrame:
    """A committed tier's rows (without the lineage ``_pid`` column),
    read with the schema its manifest recorded: no schema-inference
    job."""
    schema = StructType.fromJson(_read_manifest(base_dir, tier)["schema"])
    return spark.read.schema(schema).parquet(_tier_path(base_dir, tier))


def check_ladder(tiers: tuple[TierSpec, ...]) -> None:
    """Each tier rolls up from the one before it, so every bucket must
    be a multiple of the previous tier's; raises ValueError otherwise.

    The ladder is parquet-only: its manifests, lineage and resume live
    under its base directory, so it also raises ValueError when
    ``FFORMA_SPARK_ICEBERG_CATALOG`` is set."""
    if os.environ.get("FFORMA_SPARK_ICEBERG_CATALOG"):
        raise ValueError(
            "the tier ladder writes parquet tiers under base_dir only; "
            "unset FFORMA_SPARK_ICEBERG_CATALOG to build it"
        )
    for fine, coarse in zip(tiers, tiers[1:]):
        if coarse.bucket % fine.bucket != 0:
            raise ValueError(
                f"{coarse.name} bucket {coarse.bucket} not a multiple of "
                f"{fine.name} bucket {fine.bucket}"
            )


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
    derives from the previous one, so the whole cascade is checked
    (:func:`check_ladder`: bucket widths, no Iceberg catalog) before the
    first write.
    """
    check_ladder(tiers)
    spark = panel.sparkSession
    results: dict[str, dict] = {}
    prev: TierSpec | None = None
    for tier in tiers:
        if tier_is_complete(base_dir, tier, fingerprint):
            m = _read_manifest(base_dir, tier)
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
