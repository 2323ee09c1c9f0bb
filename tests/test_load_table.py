"""load_table infers a parquet table's schema once per version of its
files: a repeated read of an unchanged table starts no Spark job."""

from __future__ import annotations

import contextlib
import itertools

from fforma_spark.sources.tables import load_table


_GROUPS = itertools.count()


@contextlib.contextmanager
def _jobs_started(spark):
    """Collects the ids of the Spark jobs started inside the block."""
    sc, group, ids = spark.sparkContext, f"load-table-{next(_GROUPS)}", []
    sc.setJobGroup(group, "load_table job count")
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids += sc.statusTracker().getJobIdsForGroup(group)


def test_second_load_of_unchanged_table_starts_no_job(spark, tmp_path):
    spark.createDataFrame(
        [("a", 1, 2.5), ("b", 2, None)], "doc_id string, n int, v double"
    ).write.parquet(str(tmp_path / "t.parquet"))
    with _jobs_started(spark) as first:
        inferred = load_table(spark, str(tmp_path), "t").schema
    with _jobs_started(spark) as second:
        again = load_table(spark, str(tmp_path), "t").schema
    assert first  # inference runs a job, so the count sees jobs
    assert second == []
    assert again == inferred == spark.read.parquet(str(tmp_path / "t.parquet")).schema


def test_rewritten_table_returns_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([("a", 1)], "doc_id string, n int").write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["doc_id", "n"]
    spark.createDataFrame([(1.5, "x", 3)], "w double, s string, n long").write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema == spark.read.parquet(path).schema
    assert df.columns == ["w", "s", "n"]
    assert df.collect()[0]["s"] == "x"
