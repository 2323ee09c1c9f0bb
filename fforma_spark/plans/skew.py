"""Skew detection + mitigation over the n_tok distribution (north_rule).

The reference's skew tactic is a blind random shuffle before
partitioning (fforma/base/trainer.py:88 ``.sample(frac=1)``). Here it
is explicit and measured:

* ``skew_report`` — n_tok percentiles + whale list from ONE aggregate.
* ``salted_repartition`` — panel rows spread over (doc_id, salt) so a
  whale doc's rows land on many tasks; correct for the (doc_id,bucket)
  rollup because the groupBy key already splits docs.
* ``chunk_sequences`` — wide-table whales split into bounded sub-
  blocks (doc_id, chunk_id, tokens) with pure array slices, for
  associative kernels (rollups, compression) where per-chunk results
  re-merge; sequential kernels (SES etc.) instead enforce the
  max-length contract (SURVEY §7.3).
* ``map_sequences`` — the whale-capped ``mapInPandas`` stage every
  sequential-kernel fabric (base forecasts, regression averaging,
  quantile AR) runs through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fforma_spark.util import ensure_parallelism


def skew_report(seq_df: DataFrame, whale_factor: float = 10.0) -> dict:
    """n_tok distribution stats + docs > whale_factor × p50."""
    row = seq_df.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.expr(
            "percentile_approx(n_tok, array(0.5, 0.9, 0.99), 10000)"
        ).alias("pcts"),
        F.max("n_tok").alias("max_n_tok"),
    ).collect()[0]
    p50, p90, p99 = [float(x) for x in row["pcts"]]
    threshold = max(p50 * whale_factor, 1.0)
    whales = (
        seq_df.filter(F.col("n_tok") > threshold)
        .select("doc_id", "n_tok")
        .orderBy(F.desc("n_tok"))
        .limit(100)
        .collect()
    )
    return {
        "n_docs": row["n_docs"],
        "total_tokens": int(row["total_tokens"] or 0),
        "p50": p50,
        "p90": p90,
        "p99": p99,
        "max": int(row["max_n_tok"] or 0),
        "whale_threshold": threshold,
        "whales": [(r["doc_id"], r["n_tok"]) for r in whales],
    }


def salted_repartition(
    panel: DataFrame, n_partitions: int, n_salts: int = 16
) -> DataFrame:
    """Repartition the long panel on (doc_id, salt) where salt is a
    deterministic function of pos — a whale doc's rows spread across
    up to n_salts partitions instead of hot-spotting one."""
    return panel.repartition(
        n_partitions, "doc_id", F.pmod(F.col("pos"), F.lit(n_salts))
    )


def chunk_sequences(
    seq_df: DataFrame, max_len: int, keep_source: bool = True
) -> DataFrame:
    """Split token arrays into ≤max_len sub-blocks — pure Catalyst
    (sequence + transform + posexplode), no UDF.

    Output: (doc_id, chunk_id, chunk_pos0, tokens, n_tok[, source]);
    chunk_pos0 is the absolute position of the chunk's first token, so
    bucketed rollups re-base exactly.
    """
    n_chunks = F.ceil(F.col("n_tok") / F.lit(max_len)).cast("int")
    starts = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("chunk_id"),
            (i * max_len).alias("chunk_pos0"),
            F.slice(
                F.col("tokens"),
                i * max_len + 1,
                F.least(
                    F.lit(max_len), F.col("n_tok") - i * max_len
                ),
            ).alias("tokens"),
        ),
    )
    cols = ["doc_id"]
    if keep_source and "source" in seq_df.columns:
        cols.append("source")
    out = seq_df.filter(F.col("n_tok") > 0).select(
        *cols, F.explode(chunks).alias("_c")
    )
    return out.select(
        *cols,
        F.col("_c.chunk_id").alias("chunk_id"),
        F.col("_c.chunk_pos0").alias("chunk_pos0"),
        F.col("_c.tokens").alias("tokens"),
        F.size("_c.tokens").alias("n_tok"),
    )


def assert_max_series_length(seq_df: DataFrame, max_len: int) -> None:
    """Sequential-kernel contract: fail fast with the offending docs
    rather than OOM an executor (SURVEY §7.3)."""
    over = (
        seq_df.filter(F.col("n_tok") > max_len)
        .select("doc_id", "n_tok")
        .limit(20)
        .collect()
    )
    if over:
        names = ", ".join(f"{r['doc_id']}({r['n_tok']})" for r in over)
        raise ValueError(
            f"series exceed max_len={max_len} for sequential kernels: "
            f"{names}; chunk them (chunk_sequences) or raise the cap"
        )


def cap_whales(seq_df: DataFrame, max_series_len: int) -> DataFrame:
    """Bounded-window whale protection for SEQUENTIAL kernels.

    Docs longer than ``max_series_len`` are sliced (pure Catalyst, no
    UDF) to their TRAILING window before entering a pandas-UDF stage,
    so no single Arrow batch/task is dominated by a 200k-token whale.
    The true length rides along as ``n_true`` so length-dependent
    features stay exact. Tail-window semantics are the honest contract
    for the sequential kernels: naive/snaive/SES/Croston forecasts are
    tail-dominated anyway, and any doc ≤ cap is bit-exact unchanged.

    Associative stats (mean/variance/nonzero) for whales are better
    served exactly by :func:`whale_exact_moments` (JVM array fold) —
    the "re-merge where associative" half of the contract.
    """
    cap = int(max_series_len)
    return seq_df.withColumn("n_true", F.col("n_tok")).select(
        *[c for c in seq_df.columns if c not in ("tokens", "n_tok")],
        "n_true",
        F.when(
            F.col("n_tok") > cap, F.slice(F.col("tokens"), -cap, cap)
        )
        .otherwise(F.col("tokens"))
        .alias("tokens"),
        F.least(F.col("n_tok"), F.lit(cap)).cast("int").alias("n_tok"),
    )


def map_sequences(
    seq_df: DataFrame, gen, schema: str, max_series_len: int | None
) -> DataFrame:
    """Run a sequential-kernel ``mapInPandas`` body over (doc_id,
    tokens), whale-capped by :func:`cap_whales` when
    ``max_series_len`` is set, on a frame spread over the task slots
    (util.ensure_parallelism)."""
    if max_series_len is not None:
        seq_df = cap_whales(
            seq_df.select("doc_id", "tokens", "n_tok"), max_series_len
        )
    src = ensure_parallelism(seq_df.select("doc_id", "tokens"))
    return src.mapInPandas(gen, schema)


def whale_exact_moments(seq_df: DataFrame) -> DataFrame:
    """(doc_id, w_mean, w_variance, w_nonzero_ratio) computed EXACTLY
    from the FULL token array with JVM-side folds — O(n) per row, no
    Python — used to overwrite the window estimates for whale docs.
    Sample variance (ddof=1), matching kernels.feature_vector."""
    n = F.col("n_tok").cast("double")
    s = F.aggregate(
        "tokens", F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    s2 = F.aggregate(
        "tokens",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    nz = F.size(F.filter("tokens", lambda x: x != 0)).cast("double")
    mean = s / n
    var = F.when(n > 1, (s2 - s * s / n) / (n - 1)).otherwise(F.lit(0.0))
    return seq_df.select(
        "doc_id",
        mean.alias("w_mean"),
        var.alias("w_variance"),
        (nz / n).alias("w_nonzero_ratio"),
    )
