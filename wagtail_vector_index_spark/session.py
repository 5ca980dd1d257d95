"""Tuned SparkSession factory.

One place for the engine's Spark configuration — the config `bench.py`
measures and every tool, stager and the user-flow benchmark run on. It
sets AQE with coalescing and skew-join handling, UTC session time,
dynamic partition overwrite for the document store, parquet filter
pushdown, and:

- ``autoBroadcastJoinThreshold`` 64m: dimension tables, codebooks and
  probe sets up to 64 MB broadcast instead of paying a sort-merge
  shuffle (Spark's default is 10m). This is the one value here that
  changes the plans the bench executes;
- ``files.maxPartitionBytes`` 128m (Spark's default): a scan splits at
  ``min(maxPartitionBytes, max(openCostInBytes = 4m, bytes / cores))``,
  so small inputs already split down to 4 MB pieces, while large inputs
  split no finer than a 128 MB parquet row group;
- ``arrow.maxRecordsPerBatch`` 10000 (Spark's default): the Arrow batch
  handed to the external-call stages (embedding, pandas UDFs), and so
  the size of one embedding request when ``request_batch_size`` is
  unset.

Callers pass only deployment settings (master, shuffle partitions,
driver memory, UI, display limits) through ``overrides``; every key is
still runtime-overridable there.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

RECOMMENDED_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.parquet.filterPushdown": "true",
}


def build_session(
    app_name: str = "wagtail-vector-index-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    **overrides: str,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(RECOMMENDED_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update({k: str(v) for k, v in overrides.items()})
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
