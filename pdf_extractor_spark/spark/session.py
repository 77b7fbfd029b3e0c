"""SparkSession factory with scale-appropriate defaults.

Settings chosen for the 100 TB design point, not just local tests: AQE on
(runtime re-planning + skew splitting), bounded Arrow batches so a batch of
giant PDFs can't blow Python-worker memory, and explicit shuffle-partition
sizing (at cluster scale this would be set to ~2-3x total cores or left to
AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_master(environ=os.environ) -> str | None:
    """The master ``get_spark`` sets when the caller names none:
    ``$SPARK_GRAFT_MASTER``, else none under a launcher (spark-submit hands
    over its JVM in ``PYSPARK_GATEWAY_PORT``, and its ``--master`` must
    stand), else ``local[$SPARK_GRAFT_CPUS]`` (32 when unset)."""
    if environ.get("SPARK_GRAFT_MASTER"):
        return environ["SPARK_GRAFT_MASTER"]
    if "PYSPARK_GATEWAY_PORT" in environ:
        return None
    return f"local[{environ.get('SPARK_GRAFT_CPUS', '32')}]"


def get_spark(
    app_name: str = "pdf-extractor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_max_records: int = 64,
) -> SparkSession:
    master = master or default_master()
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # deterministic timestamp arithmetic regardless of host timezone
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # apply AQE to cached plans too: the staged intermediates this
        # engine leans on (ops/dedup._persisted) otherwise run every
        # post-shuffle stage at the static partition count — Spark's
        # default false only protects a downstream consumer of the cache's
        # physical distribution, which nothing here relies on (plan pins
        # assert scan/exchange budgets, not cached output partitioning)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small Arrow batches through the extraction UDF: one batch of 20-50
        # page PDFs must fit comfortably in a Python worker (bounded memory is
        # the Arrow analogue of the reference's page-at-a-time + gc loop,
        # pymu_tesseract_processor.py:277-278).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records))
        # Parquet scans: doc tables carry KBs of payload per row but cost
        # milliseconds of python parse per row, so split far below the
        # 128 MB default — with big splits a handful of map tasks would
        # serialize the whole parse stage (measured: 3x headline speedup).
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("SPARK_GRAFT_SPLIT_BYTES", "8388608"))
        .config("spark.ui.enabled", "false")
        # Effective only for plain `python` launches (pytest, tools/): under
        # spark-submit the driver JVM already exists when this builder runs
        # and the setting is silently ignored — pass --driver-memory on the
        # spark-submit line there (the 1g submit default is too small for
        # wide lineage collects and driver-side zip export).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()
