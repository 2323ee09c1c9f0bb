"""Cascading retention-tier rollups (the engine's core operator).

Tier k buckets sequence positions by ``floor(pos / bucket_size)`` and
aggregates (cnt, vmin, vmax, vsum, vfirst, vlast, vmean). The reference
analog is ADIDA's rebucket-aggregate (fforma/base/_models.py:770-779,
chunks at :561-566) and iMAPA's multi-level ladder (:799-815).

Scale design:
- T1 from raw is ONE shuffle on (doc_id, bucket) — a long doc splits
  across buckets, so whale docs do NOT concentrate in one task (the
  groupBy key includes bucket). Partial (map-side) aggregation makes
  the shuffle carry one row per (doc_id, bucket) per input partition.
- Tier k+1 re-aggregates tier k (partial→final: min of mins, max of
  maxes, sum of sums/counts; first/last picked by min_by/max_by on the
  child bucket id) — NO raw rescan, exactly the north_rule "continuous
  aggregate" cascade. Token sums are integer-exact in doubles
  (< 2^53), so tiers match a single-node oracle bit-for-bit.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F


@dataclass(frozen=True)
class TierSpec:
    """One retention tier: a name and a bucket width in positions."""

    name: str
    bucket: int


# "1m" → "1h" → "1d" equivalents over sequence position (north_rule).
DEFAULT_TIERS = (TierSpec("t1m", 60), TierSpec("t1h", 3600), TierSpec("t1d", 86400))

TIER_COLS = ["doc_id", "bucket", "cnt", "vmin", "vmax", "vsum", "vfirst", "vlast", "vmean"]


def _finalize(df: DataFrame) -> DataFrame:
    return df.withColumn("vmean", F.col("vsum") / F.col("cnt"))


def _sum_expr(col: str, exact_decimals: int | None):
    """Summation expression with an order-independence guarantee.

    exact_decimals=None → plain double sum (fastest; exact anyway for
    integer-token panels since int sums in double stay < 2^53).
    exact_decimals=k → sum in decimal(30,k): decimal addition is
    associative/commutative, so the result is identical regardless of
    partitioning — required for bit-stable parity with single-node
    oracles on double-valued panels (SURVEY.md §7.3 sort-before-reduce
    discipline, solved here algebraically instead of by sorting).
    Result is cast back to double so tier schemas stay uniform.
    """
    if exact_decimals is None:
        return F.sum(col)
    return F.sum(F.col(col).cast(f"decimal(30,{exact_decimals})")).cast("double")


def rollup_tier(
    panel: DataFrame, bucket: int, exact_decimals: int | None = None
) -> DataFrame:
    """T1 from the raw long panel: one shuffle, map-side partials."""
    g = panel.groupBy(
        "doc_id", (F.col("pos") / F.lit(bucket)).cast("long").alias("bucket")
    )
    agg = g.agg(
        F.count("*").alias("cnt"),
        F.min("val").alias("vmin"),
        F.max("val").alias("vmax"),
        _sum_expr("val", exact_decimals).alias("vsum"),
        F.min_by("val", "pos").alias("vfirst"),
        F.max_by("val", "pos").alias("vlast"),
    )
    return _finalize(agg)


def rollup_from_tier(
    tier: DataFrame, factor: int, exact_decimals: int | None = None
) -> DataFrame:
    """Tier k+1 from tier k when bucket_{k+1} = factor * bucket_k.

    Pure partial→final re-aggregation — never rescans raw data. With
    exact_decimals, vsum (a double holding an exact k-dp decimal)
    round-trips losslessly back through decimal for the re-sum.
    """
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    g = tier.groupBy(
        "doc_id", (F.col("bucket") / F.lit(factor)).cast("long").alias("bucket")
    )
    agg = g.agg(
        F.sum("cnt").alias("cnt"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        _sum_expr("vsum", exact_decimals).alias("vsum"),
        F.min_by("vfirst", tier["bucket"]).alias("vfirst"),
        F.max_by("vlast", tier["bucket"]).alias("vlast"),
    )
    return _finalize(agg)


def apply_retention(tier: DataFrame, keep_buckets: int) -> DataFrame:
    """Retention-policy enforcement: keep only the trailing
    ``keep_buckets`` buckets of each series (the drop-chunks half of a
    rollup+downsample+retention engine — once a tier has absorbed a
    range, the finer data behind it expires).

    Semantics: bucket > max(bucket) − keep_buckets per doc. Physically
    this dataframe op is the SPEC; at production scale tiers are
    written partitioned by a bucket range, so enforcement is dropping
    whole partitions (a metadata-only Iceberg delete), and the per-doc
    variant here covers ragged series ends. One agg (1 row/doc) + a
    co-partitioned join — no window sort.
    """
    if keep_buckets < 1:
        raise ValueError(f"keep_buckets must be >= 1, got {keep_buckets}")
    mx = tier.groupBy("doc_id").agg(F.max("bucket").alias("_mx"))
    return (
        tier.join(mx, "doc_id")
        .filter(F.col("bucket") > F.col("_mx") - keep_buckets)
        .drop("_mx")
    )


def apply_retention_sql(tier_sql: str, keep_buckets: int) -> str:
    """DuckDB twin of :func:`apply_retention`."""
    return f"""
        SELECT * EXCLUDE (_mx)
        FROM (
            SELECT t.*, max(bucket) OVER (PARTITION BY doc_id) AS _mx
            FROM ({tier_sql}) t
        )
        WHERE bucket > _mx - {keep_buckets}
    """


def rollup_tier_sql(
    bucket: int, panel_sql: str, exact_decimals: int | None = 6
) -> str:
    """DuckDB oracle SQL for ``rollup_tier`` over the same panel.

    Mirrors the exact-decimal summation: both engines sum in
    decimal(30,k) and cast to double, so vsum/vmean are bit-identical
    doubles before the 6dp display rounding.
    """
    from fforma_spark.util import sql_round6

    if exact_decimals is None:
        s = "sum(val)"
    else:
        s = f"CAST(sum(CAST(val AS DECIMAL(30,{exact_decimals}))) AS DOUBLE)"
    return f"""
        SELECT doc_id,
               CAST(floor(pos / {bucket}) AS BIGINT) AS bucket,
               count(*) AS cnt,
               min(val) AS vmin,
               max(val) AS vmax,
               {sql_round6(s)} AS vsum,
               arg_min(val, pos) AS vfirst,
               arg_max(val, pos) AS vlast,
               {sql_round6(f"{s} / count(*)")} AS vmean
        FROM ({panel_sql}) panel
        GROUP BY 1, 2
    """
