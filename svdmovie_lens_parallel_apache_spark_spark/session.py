"""SparkSession factory with scale-oriented defaults.

The reference hand-tuned serialization (Kryo, disabled) and forced
evaluation with ``count()`` (``SVDMovieLensSparkJava.java:83-96,392``).
None of that survives here: Tungsten encoders + AQE + whole-stage codegen
are the defaults, and the knobs below are the ones that matter on a real
cluster (shuffle partition count, adaptive coalescing/skew handling,
broadcast threshold, Arrow for any pandas exchange).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults sized for the local[32] test harness; on a 1000-executor cluster
# the same code runs with shuffle.partitions ~ 2-3x total cores and
# maxPartitionBytes tuned to keep scan tasks ~128-256MB.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE's coalescing floor assumes bytes ∝ CPU, which fails for the
    # engine's CPU-dense small intermediates (n-gram posting lists,
    # pair enumeration, codec frames): the default 1m floor collapsed
    # those stages to 1 task regardless of core count (measured round
    # 13: dedup_jaccard_prefix 5.4s→3.7s, copurchase_pairs 2.3s→1.5s
    # at 64k, large stages untouched). Not a core-count constant —
    # coalescing still targets default parallelism at ANY cluster
    # size; this only stops byte-cheap/CPU-expensive partitions from
    # being merged below it.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # Spark 4 defaults this to false, which plans every .persist()ed
    # frame with AQE's final-stage coalescing OFF so the cache keeps
    # its hash partitioning. The engine persists small shuffle outputs
    # (an MV refresh's grouped delta and upserts, merge_upsert's
    # updates): with the flag off every stage reading them ran
    # shuffle.partitions tasks over a few KB, and the staged write
    # fanned a 15-row view out into one shard per partition. The
    # price of true is at most one extra exchange where a later query
    # re-keys a cached frame on its own shuffle key; the exchange
    # counts in PLAN_FINGERPRINTS.json show no query pays it.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # micros (not the legacy INT96 default): smaller files, and the
    # footer carries real min/max statistics for timestamp columns —
    # both the engine's driver-side stats stamping (snapshot_table.
    # _footer_stats) and any external parquet reader depend on them;
    # INT96 is deprecated upstream and records no statistics at all
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    # local mode = single JVM: driver memory is the only memory knob
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
}


def get_spark(
    app_name: str = "svdml-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` after setting the master via spark-submit and the
    builder will inherit it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
