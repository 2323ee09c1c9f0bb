"""ensure_parallelism: the partition count comes from the plan where
the plan fixes it, so planning a kernel stage runs no Spark job."""

from __future__ import annotations

import pytest

from fforma_spark.util import ensure_parallelism

from conftest import SF_DIR


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_repartitioned_frame_runs_no_job(spark):
    """A repartition(n) ending the plan fixes n: the call must not run
    the round-robin stage to count partitions (it did, one job per
    call, through df.rdd)."""
    target = spark.sparkContext.defaultParallelism
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .repartition(target)
        .select("doc_id", "text")
    )
    before = _jobs(spark)
    out = ensure_parallelism(df)
    assert _jobs(spark) == before
    assert out is df
    # a single partition is fixed too: raised, again without a job
    out = ensure_parallelism(df.repartition(1))
    assert _jobs(spark) == before
    assert out.rdd.getNumPartitions() == target


def test_single_split_scan_is_repartitioned(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert df.rdd.getNumPartitions() == 1
    out = ensure_parallelism(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_coalesced_shuffle_is_still_probed(spark):
    """A hash exchange after the repartition is not fixed: adaptive
    execution may coalesce it below the target, which only the RDD
    probe sees."""
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
        .groupBy("source")
        .count()
    )
    assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = ensure_parallelism(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_rejects_non_dataframe():
    with pytest.raises(TypeError, match="DataFrame"):
        ensure_parallelism([1, 2, 3])
