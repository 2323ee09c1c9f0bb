"""The Iceberg-gated read path is config plumbing that must actually
execute, not dead code: with the env var set (no jar in the sandbox),
``load_table`` must reach Spark's catalog resolution and fail THERE,
proving read.table ran with the right target."""

from __future__ import annotations

import pytest

from fforma_spark.sources.tables import load_table


def _iceberg_jar_present(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 — py4j raises wrapped ClassNotFound
        return False


def test_load_table_selects_iceberg_branch(spark, monkeypatch):
    monkeypatch.setenv("FFORMA_SPARK_ICEBERG_CATALOG", "icecat.db")
    if _iceberg_jar_present(spark):  # pragma: no cover
        pytest.skip("jar present: the catalog resolves")
    with pytest.raises(Exception) as ei:
        load_table(spark, "/root/testdata/sf0.001", "documents").count()
    assert "icecat" in str(ei.value)
