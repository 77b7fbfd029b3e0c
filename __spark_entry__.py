"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All implementations live in ``pdf_extractor_spark/``; this module only
adapts them to the driver's calling convention. Query inventory maps to
SURVEY.md §2 plus the training-data-pipeline operators (dedup family,
ANN similarity, text analysis, multimodal plumbing).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full extraction pipeline (wrap -> per-doc hash
    repartition -> mapInArrow parse -> spans+metrics) on sf0.001."""
    from pdf_extractor_spark.ops.extraction_queries import extract_wrapped
    from pdf_extractor_spark.shipping import ensure_shipped

    ensure_shipped(spark)  # executors need the package regardless of cwd
    return extract_wrapped(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pdf_extractor_spark.ops.registry import queries as _queries

    return _queries()


def oracle_sql() -> dict[str, str]:
    from pdf_extractor_spark.ops.registry import oracle_sql as _oracle_sql

    return _oracle_sql()
