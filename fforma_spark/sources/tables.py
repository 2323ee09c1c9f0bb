"""Readers over the driver-provided parquet tables and deterministic
derivations of the canonical engine inputs from them.

Format-pluggable: ``load_table`` reads parquet today; an Iceberg catalog
path is config-gated (no Iceberg runtime jar in the sandbox — SURVEY.md
§7.3), so production would swap ``spark.read.parquet`` for
``spark.read.table("catalog.db.tbl")`` without touching callers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


# parquet path -> (_files_signature of its files, the schema Spark
# inferred from them). Shared by every caller in the process: an entry
# is used only while the files still match its signature.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _files_signature(
    spark: SparkSession, path: str
) -> tuple[tuple[str, int, int], ...]:
    """(name, size, mtime) of every file under ``path``, sorted, listed
    through the Hadoop FileSystem that Spark reads the path with (any
    scheme); empty when nothing exists there."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return ()
    files = fs.listFiles(hpath, True)
    out = []
    while files.hasNext():
        st = files.next()
        out.append(
            (st.getPath().toString(), st.getLen(), st.getModificationTime())
        )
    return tuple(sorted(out))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table; Iceberg-gated for production catalogs.

    ``spark.read.parquet`` without a schema runs a one-task job that
    reads a footer to infer it. The inferred schema is kept per path
    with the signature (name, size, mtime) of its files, and later reads
    pass it while the signature still matches: no job, same schema. A
    rewritten table has a new signature and is inferred again."""
    catalog = os.environ.get("FFORMA_SPARK_ICEBERG_CATALOG")
    if catalog:  # pragma: no cover — no Iceberg jar in sandbox
        return spark.read.table(f"{catalog}.{name}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    sig = _files_signature(spark, path)
    known = _SCHEMAS.get(path)
    if known is not None and known[0] == sig:
        return spark.read.schema(known[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (sig, df.schema)
    return df


def sequences_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic tokenization of ``documents`` into the canonical
    sequence table (doc_id, tokens:array<int>, n_tok, source).

    Token = length of each whitespace-separated word — deterministic,
    engine-portable (the DuckDB oracle derives the identical array with
    list_transform(string_split(...))), and entirely JVM-side here.
    Mirrors the reference's wide/"horizontal" panel form
    (fforma/utils/reshaping.py:12-40).
    """
    from fforma_spark.util import ensure_parallelism

    # The driver parquet files carry ONE row group, so the scan arrives
    # as a single split and everything up to the first exchange —
    # including this tokenization — would run on one core. Repartition
    # straight after the read (optimization guide §2.5, unsplittable
    # input) so tokenization parallelizes and a cache of this table is
    # already distribution-ready for the mapInPandas fabrics (their own
    # ensure_parallelism then no-ops). At production scale scans have
    # many splits and this is a no-op.
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = F.transform(F.split(F.col("text"), " "), lambda w: F.length(w))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        toks.cast("array<int>").alias("tokens"),
        F.size(toks).cast("int").alias("n_tok"),
        F.col("source"),
    )


def panel_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long panel (doc_id, pos, val) from the events stream table.

    doc_id = user_id; pos = 0-based rank of the event within the user's
    stream ordered by (ts, event_id); val = event value. This is the
    reference's canonical long panel (unique_id, ds, y)
    (fforma/fforma_python_futuro.py:128-138) with a real timestamp axis
    behind the integer position.
    """
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.col("user_id").cast("string").alias("doc_id"),
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
        F.col("value").cast("double").alias("val"),
    )


# DuckDB-side equivalent of panel_from_events, reused by oracle SQL.
PANEL_FROM_EVENTS_SQL = """
    SELECT CAST(user_id AS VARCHAR) AS doc_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS pos,
           CAST(value AS DOUBLE) AS val
    FROM events
"""

# DuckDB-side equivalent of sequences_from_documents.
SEQUENCES_FROM_DOCUMENTS_SQL = """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           list_transform(string_split(text, ' '), w -> CAST(length(w) AS INT)) AS tokens,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
           source
    FROM documents
"""
