"""SparkSession factory with scale-oriented defaults.

Tuned for the extraction workload: AQE (runtime coalesce + skew splitting),
Arrow-batched Python UDF exchange with bounded batch sizes (PDF rows are
fat — a 256-row batch of ~3-200 KB documents stays well inside executor
memory), parquet filter pushdown and nested-schema pruning so span/struct
projections prune at the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 64


def get_spark(
    master: str | None = None,
    app_name: str = "docprompt-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Arrow exchange for pandas UDFs; bound batch size for fat binary rows
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # scan-side pruning
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # fat binary doc tables: split scans finer so the narrow (no-shuffle)
        # parse path gets full parallelism from input splits; see the
        # minPartitionNum rule below
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        # long-lived python workers: the parse kernels' imports (pdfparse,
        # numpy) amortize across tasks instead of re-paying per task
        .config("spark.python.worker.reuse", "true")
        # quieter local runs
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    # The split rule: a scan splits at max(openCostInBytes, input bytes /
    # minPartitionNum), capped by maxPartitionBytes. Asking for ~4 splits
    # per slot cuts a small input down to the 1 MB open-cost floor, where
    # each file of one row group (the corpus writers' shape) becomes a
    # split of its own, instead of the default parallelism packing the
    # largest files into one straggler split. Large inputs still split at
    # 8 MB. More tasks than slots lets fast slots take more of them; it
    # pays because a Python task's fixed start-up is small once the
    # worker's zip importers are pinned (shipping.pin_zip_importers).
    spark.conf.set(
        "spark.sql.files.minPartitionNum",
        str(4 * spark.sparkContext.defaultParallelism),
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
