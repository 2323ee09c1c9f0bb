"""fforma_spark — a from-scratch PySpark-native time-series rollup,
downsample and retention engine with the query/data-processing
capabilities of the reference (AzulGarza/fforma).

Architecture (SURVEY.md §7): DataFrame/Catalyst-first; per-series
sequential kernels as Arrow-vectorized grouped pandas UDFs; no per-row
Python anywhere on the hot path.

Canonical input table (BASELINE input_hint):
    doc_id: string, tokens: array<int>, n_tok: int, source: string
"""

__version__ = "0.1.0"

from fforma_spark import zipcache as _zipcache

_zipcache.install()
