"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; the conf below is written for a real
multi-executor cluster at ~100 TB (AQE on, skew-join handling, broadcast
threshold sized for dimension tables, Arrow for the two pandas-group
operators). Nothing here is reference-derived — the reference builds a bare
session with connector jars (``/root/reference/src/main.py:11-23``); we
instead make the optimizer posture explicit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for scale:
#: - AQE coalesces the 32 shuffle partitions set below down to what the data
#:   actually needs, and splits skewed partitions at join time.
#: - ``shuffle.partitions`` is only the *initial* number under AQE; at 100 TB
#:   you would raise it (rule of thumb: total shuffle bytes / 128 MiB) — AQE
#:   then coalesces, so overshooting is cheap and undershooting is not.
#: - Arrow is mandatory for applyInPandas/mapInPandas hot paths.
_SCALE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # let AQE coalesce a cached plan's last shuffle too: each Python task
    # costs ~0.25 CPU-s however small (pyspark's worker re-scans
    # pyspark.zip in importlib.invalidate_caches() per task), so a cached
    # spine kept at 32 partitions paid that 32 times per consumer stage
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # static: Spark's LRU cache of compiled generated classes holds 100 by
    # default, but one CandyPipeline.save_outputs() pass needs 107 distinct
    # classes and three winnow-sink micro-batches plus the pair read 117,
    # so each pass evicted its own classes and recompiled (and re-JITted)
    # them the next time; 1000 leaves headroom over those working sets
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


#: Fully-qualified class name of Spark's bundled RocksDB state store
#: provider (rocksdbjni ships in Spark's jars — no extra package).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def rocksdb_state_conf(changelog_checkpointing: bool = True) -> dict[str, str]:
    """Streaming state-store conf for 100 TB-scale state.

    The default HDFS-backed provider keeps every state row on the JVM
    heap of the executor that owns the partition; at corpus scale
    (e.g. one digest row per unique document for exact dedup, one open
    session per active user) that heap does not exist. RocksDB spills
    state to local SSD with a bounded block cache, and changelog
    checkpointing uploads only the per-batch delta instead of
    re-snapshotting the full store every commit — the difference
    between O(batch) and O(state) checkpoint I/O on long-running
    streams.

    Both keys are runtime-settable SQL confs captured per streaming
    query at START (they persist into the checkpoint's offset metadata),
    so setting them on a live session affects queries started after.
    """
    conf = {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}
    if changelog_checkpointing:
        conf[
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        ] = "true"
    return conf


def get_spark(
    app_name: str = "etl-pipeline-candy-store-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's scale posture.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured; on a real cluster you pass the
    cluster master / rely on spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_SCALE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
