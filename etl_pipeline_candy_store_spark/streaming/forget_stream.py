"""Streaming right-to-be-forgotten: apply deletion requests ON ARRIVAL
as content-addressed tombstones — the streaming twin of batch q194
(operators/scrub.py).

The 100 TB posture is deletion-VECTOR-shaped, not rewrite-shaped: a
forget request must never trigger a corpus rewrite in the hot path, so
the maintained state is ONLY the tombstone digest table (bounded by
request volume, like Delta/Iceberg delete files) plus the applied-batch
ledger. Per micro-batch the work is batch-distinct ∪ tombstones —
tombstone-table-sized, never corpus-sized. Deletion takes effect
logically through :func:`forgotten_filter` (a broadcast anti-join every
reader applies — the request table is small by nature) and physically
at the next table-maintenance pass (:func:`physical_purge` composes
with the compaction op in sources/writers.py), after which the applied
tombstones could be retired.

Addressing deletes BY CONTENT DIGEST gives exact-duplicate closure for
free — the residual-copy gap batch q194 audits (a row-addressed delete
leaves identical content alive under other doc_ids) cannot occur, and
the same tombstone table gates RE-ARRIVING copies of forgotten content
at ingest (:func:`forgotten_filter` on the crawl stream), which a
row-id list also cannot do.

Exactly-once: the same write-temp-then-atomic-swap + applied-batch
ledger protocol as the other maintenance sinks (rollup_stream,
concurrency_stream) — a replayed micro-batch is detected in the ledger
and skipped, and a crash mid-swap is repaired by ``_fs_recover``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.ledger import (
    _hadoop_fs,
    local_frame,
    read_max_applied,
    write_applied_into,
)
from etl_pipeline_candy_store_spark.streaming.upsert_sink import (
    _fs_recover,
    _fs_swap,
)

_LEDGER = "_applied"


def request_digests(requests: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalize a forget-request frame to its content-digest column
    (requests may arrive as raw content or as precomputed digests)."""
    if "digest" in requests.columns:
        return requests.select("digest")
    return requests.select(
        F.md5(F.col(text_col).cast("binary")).alias("digest")
    )


def apply_forget_batch(
    requests: DataFrame, state_path: str, batch_id: int
) -> None:
    """Merge one micro-batch of forget requests into the tombstone
    table at ``state_path`` (exactly-once under replay). Work is
    bounded by |tombstones| + |batch| — the corpus is never touched."""
    spark = requests.sparkSession
    _fs_recover(spark, state_path)
    jvm, fs = _hadoop_fs(spark, state_path)
    P = jvm.org.apache.hadoop.fs.Path
    target = state_path.rstrip("/")
    batch_digests = request_digests(requests).distinct()
    # the ledger stores only the MAX applied batch_id: Structured
    # Streaming batch ids are monotonic and only recent uncommitted
    # batches redeliver, so `batch_id <= max` IS the replay test — a
    # full id history would make per-batch ledger I/O grow with stream
    # age on exactly the long-running streams this sink exists for
    applied_max = read_max_applied(spark, fs, jvm, target, _LEDGER)
    if fs.exists(P(target)):
        if batch_id <= applied_max:
            return  # replayed delivery — already merged, skip
        merged = (
            spark.read.parquet(target)
            .unionByName(batch_digests)
            .distinct()
        )
    else:
        merged = batch_digests
    tmp = target + f"._tmp-{batch_id}"
    merged.write.mode("overwrite").parquet(tmp)
    write_applied_into(spark, tmp, batch_id, _LEDGER)
    _fs_swap(spark, tmp, target)


def stream_forget(request_stream: DataFrame, state_path: str):
    """Attach the tombstone-maintenance sink; returns the (unstarted)
    ``DataStreamWriter``. After every applied batch the state parquet
    holds exactly the distinct digests of all requests seen so far."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_forget_batch(batch, state_path, batch_id)

    return (
        request_stream.writeStream.foreachBatch(_apply)
        .outputMode("update")
    )


def read_tombstones(spark: SparkSession, state_path: str) -> DataFrame:
    """The maintained tombstone digest table (empty frame if no
    requests have been applied yet)."""
    jvm, fs = _hadoop_fs(spark, state_path)
    P = jvm.org.apache.hadoop.fs.Path
    _fs_recover(spark, state_path)
    if not fs.exists(P(state_path.rstrip("/"))):
        return local_frame(spark, [], "digest string")
    return spark.read.parquet(state_path.rstrip("/")).select("digest")


def forgotten_filter(
    docs: DataFrame, tombstones: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Logical delete view: corpus minus tombstoned CONTENT — a
    broadcast anti-join on the digest (every reader and the ingest
    gate apply this; re-arriving copies of forgotten content are
    dropped here too, which a row-id deletion list could not do)."""
    digest = F.md5(F.col(text_col).cast("binary"))
    return docs.join(
        F.broadcast(tombstones),
        digest == tombstones["digest"],
        "left_anti",
    )


def physical_purge(
    docs: DataFrame, tombstones: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The compaction-time rewrite: materialize the survivors so the
    tombstones can be retired. Same relation as
    :func:`forgotten_filter` — named separately because it runs ONCE
    per maintenance window (composing with the compaction op in
    sources/writers.py), not per read."""
    return forgotten_filter(docs, tombstones, text_col)
