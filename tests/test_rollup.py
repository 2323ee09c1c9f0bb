"""Tier rollup correctness: DuckDB oracle + numpy oracle + cascade
consistency (tier k+1 from tier k == tier k+1 from raw)."""

from __future__ import annotations

import numpy as np
import pytest

from fforma_spark.operators.gapfill import locf_fill, locf_fill_sql
from fforma_spark.operators.reshape import collect_series, explode_panel
from fforma_spark.operators.rollup import (
    rollup_from_tier,
    rollup_tier,
    rollup_tier_sql,
    TierSpec,
)
from fforma_spark.sources.synth import synth_sequences, synth_sequences_pandas
from fforma_spark.sources.tables import panel_from_events, PANEL_FROM_EVENTS_SQL

from tests.conftest import SF_DIR, assert_df_equal


def test_rollup_tier_matches_duckdb(spark, ddb):
    panel = panel_from_events(spark, SF_DIR)
    from pyspark.sql import functions as F

    got = (
        rollup_tier(panel, 16, exact_decimals=6)
        .withColumn("vsum", F.round("vsum", 6))
        .withColumn("vmean", F.round("vmean", 6))
    )
    oracle = ddb.execute(rollup_tier_sql(16, PANEL_FROM_EVENTS_SQL))
    assert_df_equal(got, oracle, ["doc_id", "bucket"], atol=1e-6)


def test_cascade_equals_direct(spark):
    """T2 re-aggregated from T1 must equal T2 computed from raw —
    the partial/final-aggregate equivalence the north_rule demands."""
    seq = synth_sequences(spark, n_docs=60, seed=7)
    panel = explode_panel(seq)
    t1 = rollup_tier(panel, 8)
    t2_from_t1 = rollup_from_tier(t1, 4)
    t2_direct = rollup_tier(panel, 32)
    a = {tuple(r[:2]): tuple(r[2:]) for r in t2_from_t1.collect()}
    b = {tuple(r[:2]): tuple(r[2:]) for r in t2_direct.collect()}
    assert a == b  # integer-token sums are exact → bitwise equality


def test_rollup_matches_numpy_oracle(spark):
    """Every tier value matches a single-node numpy reference exactly
    (integer tokens → exact sums; reference analog: ADIDA chunking
    fforma/base/_models.py:561-566,770-779)."""
    n_docs, seed, bucket = 40, 11, 8
    seq_pd = synth_sequences_pandas(n_docs, seed)
    got = {
        (r["doc_id"], r["bucket"]): (
            r["cnt"], r["vmin"], r["vmax"], r["vsum"], r["vfirst"], r["vlast"]
        )
        for r in rollup_tier(
            explode_panel(synth_sequences(spark, n_docs, seed)), bucket
        ).collect()
    }
    exp = {}
    for _, row in seq_pd.iterrows():
        toks = np.asarray(row["tokens"], dtype=np.float64)
        for b in range(int(np.ceil(len(toks) / bucket))):
            blk = toks[b * bucket : (b + 1) * bucket]
            exp[(row["doc_id"], b)] = (
                len(blk),
                blk.min(),
                blk.max(),
                float(blk.sum()),
                blk[0],
                blk[-1],
            )
    assert got == exp


def test_ladder_tiers_divide(spark, tmp_path):
    """A cascade whose bucket widths do not divide fails before the
    first tier is written (no full shuffle of the raw panel for a
    ladder that cannot finish)."""
    from fforma_spark.plans.checkpoint import materialize_ladder

    panel = explode_panel(synth_sequences(spark, n_docs=4, seed=3))
    tiers = (TierSpec("a", 10), TierSpec("b", 20), TierSpec("c", 50))
    with pytest.raises(ValueError, match="c bucket 50 not a multiple of b"):
        materialize_ladder(panel, str(tmp_path), tiers, fingerprint="fp")
    assert list(tmp_path.iterdir()) == []


def test_locf_fill_matches_duckdb(spark, ddb):
    from pyspark.sql import functions as F

    panel = panel_from_events(spark, SF_DIR)
    tier = rollup_tier(panel, 16, exact_decimals=6).withColumn(
        "vmean", F.round("vmean", 6)
    )
    # knock out buckets to create gaps, deterministically
    sparse = tier.filter((F.col("bucket") % 3 != 1) | (F.col("bucket") == 0))
    got = locf_fill(sparse, ["vmean"], key="bucket").select(
        "doc_id", "bucket", F.round("vmean", 6).alias("vmean"), "is_gap"
    )
    tier_sql = (
        "SELECT doc_id, bucket, vmean FROM ("
        + rollup_tier_sql(16, PANEL_FROM_EVENTS_SQL)
        + ") WHERE (bucket % 3 <> 1) OR bucket = 0"
    )
    oracle = ddb.execute(locf_fill_sql(tier_sql, ["vmean"]))
    assert_df_equal(got, oracle, ["doc_id", "bucket"], atol=1e-6)


def test_reshape_roundtrip(spark):
    seq = synth_sequences(spark, n_docs=20, seed=3)
    panel = explode_panel(seq, value_type="int")
    back = collect_series(panel, value_type="int")
    orig = {r["doc_id"]: list(r["tokens"]) for r in seq.collect()}
    got = {r["doc_id"]: list(r["vals"]) for r in back.collect()}
    assert orig == got


def test_apply_retention_keeps_trailing_buckets(spark):
    """Retention keeps exactly the trailing K buckets per doc and
    leaves their aggregates untouched."""
    import pyspark.sql.functions as F

    from fforma_spark.operators.rollup import apply_retention, rollup_tier
    from fforma_spark.sources.tables import panel_from_events

    panel = panel_from_events(spark, "/root/testdata/sf0.001")
    t1 = rollup_tier(panel, 8)
    kept = apply_retention(t1, 3)
    full = {(r["doc_id"], r["bucket"]): r["vsum"] for r in t1.collect()}
    got = {(r["doc_id"], r["bucket"]): r["vsum"] for r in kept.collect()}
    assert set(got) < set(full)
    for k, v in got.items():
        assert v == full[k]
    import collections

    mx = collections.defaultdict(int)
    for d, b in full:
        mx[d] = max(mx[d], b)
    expect = {(d, b) for d, b in full if b > mx[d] - 3}
    assert set(got) == expect
