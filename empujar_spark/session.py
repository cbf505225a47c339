"""SparkSession factory tuned for the engine.

The reference engine's "session" is the ``book`` object (reference
lib/book.js:13-55) holding options + connections. Here the Spark session is
the execution substrate; defaults are chosen for local[N] testing but every
knob is overridable for cluster deployment.

Scale notes (100 TB / 1000-executor design stance):
- AQE on: runtime partition coalescing, skew-join splitting.
- shuffle.partitions defaults to max(cores, 32) locally; on a real cluster
  leave it to AQE's advisory sizes (set ``spark.sql.adaptive.advisoryPartitionSizeInBytes``).
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
- Session timezone pinned UTC so timestamp semantics are deterministic and
  oracle-comparable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # INT96 (Spark's legacy default) carries no footer min/max statistics,
    # so a timestamp predicate could never skip a file of a warehouse
    # table clustered on a timestamp; INT64 micros is the standard type
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # joins on dim tables (region/nation/supplier at any SF) should broadcast
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # lenient decode (replacement chars) — functions.sanitize_string's
    # byte-budget truncation decodes a mid-codepoint binary slice
    "spark.sql.legacy.codingErrorAction": "true",
    "spark.driver.maxResultSize": "4g",
    # InferFiltersFromGenerate clones the generator's array-construction
    # expression into a size()>0 filter that pushdown then moves BELOW the
    # repartition — for explode-over-computed-array pipelines (shingles,
    # n-grams, minhash bands) the whole higher-order lambda re-evaluates
    # TWICE per row, interpreted (lambdas block codegen), on the narrow
    # pre-shuffle partitioning. Measured 8.4s → 1.5s on the repetition
    # query at sf0.1. Our generators never produce mostly-empty arrays,
    # which is the only case the rule helps.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def get_spark(
    app_name: str = "empujar_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``SPARK_GRAFT_CPUS`` (driver contract) sets local parallelism; shuffle
    partitions track core count in local mode — the default 200 is wrong in
    both directions (over-split tiny data, under-split huge data).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.driver.memory"] = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
