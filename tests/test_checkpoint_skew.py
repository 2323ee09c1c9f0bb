"""Checkpointed tier resume + lineage, skew report, chunking."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from fforma_spark.operators.reshape import explode_panel
from fforma_spark.operators.rollup import TierSpec, rollup_tier
from fforma_spark.plans.checkpoint import (
    materialize_ladder,
    read_tier,
    tier_is_complete,
)
from fforma_spark.plans.skew import (
    assert_max_series_length,
    chunk_sequences,
    salted_repartition,
    skew_report,
)
from fforma_spark.sources.synth import synth_sequences

TIERS = (TierSpec("t1", 8), TierSpec("t2", 32), TierSpec("t3", 128))


@pytest.fixture()
def panel(spark):
    return explode_panel(synth_sequences(spark, n_docs=40, seed=17))


def _tier_as_dict(df):
    return {
        (r["doc_id"], r["bucket"]): (r["cnt"], r["vmin"], r["vmax"], r["vsum"])
        for r in df.collect()
    }


def test_materialize_and_resume(spark, panel, tmp_path):
    base = str(tmp_path / "tiers")
    m1 = materialize_ladder(panel, base, TIERS, fingerprint="fp1")
    assert all(not m.get("resumed") for m in m1.values())
    assert all(m["rows"] > 0 for m in m1.values())
    assert m1["t2"]["source_tier"] == "t1"
    # lineage present and consistent
    for m in m1.values():
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"]

    # manifests make tiers complete
    for t in TIERS:
        assert tier_is_complete(base, t, "fp1")
        assert not tier_is_complete(base, t, "other-fp")

    # full rerun: everything resumed, nothing rewritten
    mtimes = {
        t.name: os.path.getmtime(os.path.join(base, t.name, "_manifest.json"))
        for t in TIERS
    }
    m2 = materialize_ladder(panel, base, TIERS, fingerprint="fp1")
    assert all(m.get("resumed") for m in m2.values())
    for t in TIERS:
        assert (
            os.path.getmtime(os.path.join(base, t.name, "_manifest.json"))
            == mtimes[t.name]
        )

    # kill after t1: drop t2+t3 manifests → only those rebuild
    for t in TIERS[1:]:
        os.remove(os.path.join(base, t.name, "_manifest.json"))
    m3 = materialize_ladder(panel, base, TIERS, fingerprint="fp1")
    assert m3["t1"].get("resumed")
    assert not m3["t2"].get("resumed") and not m3["t3"].get("resumed")

    # resumed outputs equal direct computation from raw
    direct_t3 = rollup_tier(panel, 128)
    assert _tier_as_dict(read_tier(spark, base, TIERS[2])) == _tier_as_dict(
        direct_t3
    )


def test_lineage_partitions_match_spark_order(spark, panel, tmp_path):
    """The manifest's per-partition lineage is sorted on the driver; it
    must list what a Spark ``orderBy("_pid")`` over the written tier
    lists, on a tier written as several partitions."""
    base = str(tmp_path / "tiers")
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")  # keep every shuffle partition
    try:
        m = materialize_ladder(panel, base, TIERS[:1], fingerprint="fp1")
    finally:
        spark.conf.set(coalesce, saved)
    want = [
        {"partition_id": r["_pid"], "rows": r["count"]}
        for r in spark.read.parquet(os.path.join(base, "t1", "data"))
        .groupBy("_pid")
        .count()
        .orderBy("_pid")
        .collect()
    ]
    assert len(want) > 1
    assert m["t1"]["partitions"] == want


def test_skew_report_and_whales(spark):
    seq = synth_sequences(spark, n_docs=120, seed=42)
    rep = skew_report(seq)
    assert rep["n_docs"] == 120
    assert rep["max"] >= rep["p99"] >= rep["p50"] > 0
    # generator plants ~100x whales at idx%97==3 → must be detected
    assert len(rep["whales"]) >= 1
    assert rep["whales"][0][1] > rep["whale_threshold"]


def test_salted_repartition_spreads_whale(spark):
    seq = synth_sequences(spark, n_docs=120, seed=42)
    panel = explode_panel(seq)
    whale = skew_report(seq)["whales"][0][0]
    parts = (
        salted_repartition(panel.filter(F.col("doc_id") == whale), 16, 16)
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert parts > 4  # one doc spread over many partitions


def test_chunk_sequences_rebuilds_exactly(spark):
    seq = synth_sequences(spark, n_docs=30, seed=5)
    chunks = chunk_sequences(seq, max_len=64)
    assert chunks.filter(F.col("n_tok") > 64).count() == 0
    # re-assemble: explode chunks with absolute positions == raw panel
    rebuilt = chunks.select(
        "doc_id",
        F.posexplode("tokens").alias("rel", "val"),
        "chunk_pos0",
    ).select(
        "doc_id",
        (F.col("chunk_pos0") + F.col("rel")).cast("long").alias("pos"),
        F.col("val").cast("int").alias("val"),
    )
    orig = explode_panel(seq, value_type="int")
    assert rebuilt.exceptAll(orig).count() == 0
    assert orig.exceptAll(rebuilt).count() == 0


def test_max_len_contract(spark):
    seq = synth_sequences(spark, n_docs=120, seed=42)
    with pytest.raises(ValueError, match="exceed max_len"):
        assert_max_series_length(seq, 100)
    assert_max_series_length(seq.filter(F.col("n_tok") <= 100), 100)


def test_cap_whales_bounds_and_preserves(spark):
    """cap_whales slices only whales (trailing window), keeps true
    length in n_true, and leaves short docs byte-identical."""
    from fforma_spark.plans.skew import cap_whales

    rows = [
        ("short", list(range(100))),
        ("whale", list(range(5000))),
    ]
    seq = spark.createDataFrame(
        [(d, t, len(t)) for d, t in rows],
        "doc_id string, tokens array<int>, n_tok int",
    )
    out = {r["doc_id"]: r for r in cap_whales(seq, 1024).collect()}
    assert out["short"]["n_tok"] == 100 and out["short"]["n_true"] == 100
    assert out["short"]["tokens"] == list(range(100))
    assert out["whale"]["n_tok"] == 1024 and out["whale"]["n_true"] == 5000
    assert out["whale"]["tokens"] == list(range(5000 - 1024, 5000))


def test_features_wide_whale_protection(spark):
    """A 200k-token whale: features_wide(max_series_len=...) completes
    with the Python kernel bounded to the window, while series_length
    and the associative moments stay EXACT for the full array; short
    docs are bit-identical to the uncapped path."""
    import numpy as np

    from fforma_spark.functions.features import FEATURE_NAMES, features_wide

    rng = np.random.RandomState(0)
    whale = rng.randint(0, 7, size=200_000).tolist()
    shorts = [rng.randint(1, 9, size=60).tolist() for _ in range(5)]
    seq = spark.createDataFrame(
        [("whale", whale, len(whale))]
        + [(f"s{i}", t, len(t)) for i, t in enumerate(shorts)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    capped = {
        r["doc_id"]: r for r in features_wide(seq, max_series_len=4096).collect()
    }
    plain_short = {
        r["doc_id"]: r
        for r in features_wide(seq.filter("doc_id != 'whale'")).collect()
    }
    w = capped["whale"]
    x = np.asarray(whale, dtype=np.float64)
    assert w["series_length"] == 200_000.0
    assert np.isclose(w["mean"], x.mean())
    assert np.isclose(w["variance"], x.var(ddof=1))
    assert np.isclose(w["nonzero_ratio"], (x != 0).mean())
    for doc in plain_short:
        for f in FEATURE_NAMES:
            assert capped[doc][f] == plain_short[doc][f], (doc, f)


def test_base_forecasts_whale_protection(spark):
    """base_forecasts with the cap returns the same forecasts for
    short docs and completes on the whale (tail-window contract)."""
    import numpy as np

    from fforma_spark.functions.models import base_forecasts

    rng = np.random.RandomState(1)
    whale = rng.randint(1, 9, size=150_000).tolist()
    short = rng.randint(1, 9, size=80).tolist()
    seq = spark.createDataFrame(
        [("whale", whale, len(whale)), ("s0", short, len(short))],
        "doc_id string, tokens array<int>, n_tok int",
    )
    capped = base_forecasts(seq, default_h=8, max_series_len=2048).collect()
    plain_s0 = {
        (r["doc_id"], r["pos"]): r
        for r in base_forecasts(
            seq.filter("doc_id = 's0'"), default_h=8
        ).collect()
    }
    got_whale = [r for r in capped if r["doc_id"] == "whale"]
    assert len(got_whale) == 8
    assert all(np.isfinite(r["naive_forec"]) for r in got_whale)
    for r in capped:
        if r["doc_id"] == "s0":
            ref = plain_s0[(r["doc_id"], r["pos"])]
            for c in r.asDict():
                assert r[c] == ref[c], (c, r[c], ref[c])


def test_train_to_horizontal_assert_is_load_bearing(spark):
    """A misaligned X/y panel must FAIL the job (the reference's
    'ds_x and ds_y not corresponding' assert) — guard against Catalyst
    optimizing the check away."""
    import pytest

    from fforma_spark.operators.reshape import train_to_horizontal

    x = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 2.0)], "doc_id string, pos long, val double"
    )
    y = spark.createDataFrame(
        [("a", 0, 1.0)], "doc_id string, pos long, val double"
    )
    with pytest.raises(Exception, match="ds_x and ds_y not corresponding"):
        train_to_horizontal(x, y).collect()
    # the check must survive column pruning: consumers that never
    # select X still fail (guard lives in a Filter, not a column)
    with pytest.raises(Exception, match="ds_x and ds_y not corresponding"):
        train_to_horizontal(x, y).select("doc_id", "y", "n").collect()


def test_incremental_refresh_on_changed_fingerprint(spark, panel, tmp_path):
    """A NEW input fingerprint (changed Iceberg snapshot) must rebuild
    every tier — the incremental-refresh half of the resume contract —
    and the rebuilt tiers must reflect the new data, not the old."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tiers_refresh")
    m1 = materialize_ladder(panel, base, TIERS, fingerprint="snap1")
    assert all(not m.get("resumed") for m in m1.values())
    old_t1 = _tier_as_dict(read_tier(spark, base, TIERS[0]))

    changed = panel.withColumn("val", F.col("val") + 1.0)
    m2 = materialize_ladder(changed, base, TIERS, fingerprint="snap2")
    assert all(not m.get("resumed") for m in m2.values())
    assert all(m["fingerprint"] == "snap2" for m in m2.values())
    new_t1 = _tier_as_dict(read_tier(spark, base, TIERS[0]))
    assert set(new_t1) == set(old_t1)  # same (doc, bucket) grid
    for k, (cnt, vmin, vmax, vsum) in new_t1.items():
        ocnt, ovmin, ovmax, ovsum = old_t1[k]
        assert cnt == ocnt
        assert vmin == ovmin + 1.0 and vmax == ovmax + 1.0
        assert abs(vsum - (ovsum + cnt)) < 1e-6

    # and the new snapshot now resumes under ITS fingerprint
    m3 = materialize_ladder(changed, base, TIERS, fingerprint="snap2")
    assert all(m.get("resumed") for m in m3.values())


def test_read_tier_schema_is_the_parquet_schema(spark, panel, tmp_path):
    """read_tier passes the manifest's schema instead of inferring one;
    it must be exactly what a parquet read of the tier infers."""
    base = str(tmp_path / "tiers")
    materialize_ladder(panel, base, TIERS[:2], fingerprint="fp1")
    for tier in TIERS[:2]:
        path = os.path.join(base, tier.name, "data")
        inferred = spark.read.parquet(path).drop("_pid").schema
        assert read_tier(spark, base, tier).schema == inferred


def test_manifest_without_schema_is_incomplete(spark, panel, tmp_path):
    """A manifest that records no schema cannot feed read_tier, so the
    tier counts as unwritten and is rebuilt."""
    base = str(tmp_path / "tiers")
    materialize_ladder(panel, base, TIERS[:1], fingerprint="fp1")
    mp = os.path.join(base, "t1", "_manifest.json")
    with open(mp) as f:
        m = json.load(f)
    del m["schema"]
    with open(mp, "w") as f:
        json.dump(m, f)
    assert not tier_is_complete(base, TIERS[0], "fp1")
    again = materialize_ladder(panel, base, TIERS[:1], fingerprint="fp1")
    assert not again["t1"].get("resumed") and "schema" in again["t1"]


def test_ladder_refuses_a_catalog_before_writing(panel, tmp_path, monkeypatch):
    """The ladder's manifests, lineage and resume are parquet files
    under base_dir, so with an Iceberg catalog configured it raises
    before any tier is written."""
    monkeypatch.setenv("FFORMA_SPARK_ICEBERG_CATALOG", "icecat.db")
    base = tmp_path / "tiers"
    base.mkdir()
    with pytest.raises(ValueError, match="FFORMA_SPARK_ICEBERG_CATALOG"):
        materialize_ladder(panel, str(base), TIERS, fingerprint="fp1")
    assert list(base.rglob("*")) == []


def test_footer_lineage_rejects_a_row_group_of_two_partitions(tmp_path):
    """Lineage is read from each row group's _pid statistics; a row
    group holding two partitions' rows cannot be attributed and
    raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fforma_spark.plans.checkpoint import _footer_lineage

    pq.write_table(
        pa.table({"v": [1.0, 2.0, 3.0], "_pid": pa.array([4, 4, 4], pa.int32())}),
        str(tmp_path / "part-0.parquet"),
    )
    (tmp_path / "_SUCCESS").write_text("")
    assert _footer_lineage(str(tmp_path)) == {4: 3}
    pq.write_table(
        pa.table({"v": [1.0, 2.0], "_pid": pa.array([4, 5], pa.int32())}),
        str(tmp_path / "part-1.parquet"),
    )
    with pytest.raises(ValueError, match="part-1.parquet row group 0"):
        _footer_lineage(str(tmp_path))


def _run_build_tiers_without_session(monkeypatch, tmp_path, tiers: str):
    """Run jobs/build_tiers.py with --tiers ``tiers`` and its output
    under ``tmp_path/tiers``, where touching any SparkSession attribute
    fails."""
    import runpy
    import sys

    import pyspark.sql

    class Unbuildable:
        def __getattr__(self, name):
            raise AssertionError("session built before the ladder check")

    monkeypatch.setattr(pyspark.sql, "SparkSession", Unbuildable())
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        monkeypatch.setenv(var, os.environ.get(var, "1"))
    out = tmp_path / "tiers"
    job = os.path.join(os.path.dirname(__file__), "..", "jobs", "build_tiers.py")
    monkeypatch.setattr(
        sys, "argv", [job, "--synth", "20", "--output", str(out), "--tiers", tiers]
    )
    runpy.run_path(job, run_name="__main__")


def test_build_tiers_job_rejects_bad_ladder_before_spark(monkeypatch, tmp_path):
    """jobs/build_tiers.py checks the cascade straight after parsing
    --tiers: a bad ladder raises before the job builds its session, so
    no Spark job (synth, skew report) runs for it."""
    with pytest.raises(ValueError, match="t1h bucket 3601 not a multiple"):
        _run_build_tiers_without_session(monkeypatch, tmp_path, "t1m:60,t1h:3601")
    assert not (tmp_path / "tiers").exists()


def test_build_tiers_job_rejects_a_catalog_before_spark(monkeypatch, tmp_path):
    """With FFORMA_SPARK_ICEBERG_CATALOG set the parquet-only ladder is
    refused by the same check, before the job builds its session."""
    monkeypatch.setenv("FFORMA_SPARK_ICEBERG_CATALOG", "icecat.db")
    with pytest.raises(ValueError, match="FFORMA_SPARK_ICEBERG_CATALOG"):
        _run_build_tiers_without_session(monkeypatch, tmp_path, "t1m:60,t1h:3600")
    assert not (tmp_path / "tiers").exists()
