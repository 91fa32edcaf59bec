"""SparkSession factory tuned for the KG-construction pipeline.

Scale posture (100 TB / 1000-executor design, tested on local[N]):
- AQE on (runtime coalesce, skew-join splitting) — hot entities and giant
  pages are the expected skew sources (BASELINE.json north_rule).
- Arrow execution on, with a bounded ``maxRecordsPerBatch`` so pandas-UDF
  model batches have predictable memory (SURVEY.md §4 "Batched model
  inference").
- shuffle partitions default to a small multiple of local cores; on a real
  cluster callers override via ``extra_conf`` / spark-submit conf.
- Any further catalog, such as one holding an Iceberg input table, is
  attached through ``extra_conf`` or ``spark-submit --conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "ner-linking-demo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 2048,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(arrow_batch_rows),
        )
        # Broadcast threshold: gazetteer/dimension tables are always
        # broadcast; 64m leaves headroom for the embedding matrix.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("NLDS_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )

    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    return builder.getOrCreate()
