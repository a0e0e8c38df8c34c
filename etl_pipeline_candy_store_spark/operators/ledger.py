"""The ONE ledger protocol behind every incremental/stateful store.

Four families of state directories grew the same idea independently —
"scope every write to its run/batch, commit visibility LAST, derive on
read, repair on the next touch" — each re-earning the same
crash-window lessons:

- the persistent near-dup corpus state (``operators/neardup_state``):
  ``run=N`` partitions + an ``applied/run=N`` ledger written last,
  compacted via an atomic ``applied.next`` directory swap;
- the streaming curation/near-dup/ER twins (``streaming/curate_stream``,
  ``streaming/neardup_stream``, ``streaming/entity_stream``):
  ``batch=N``-scoped overwrites whose commit marker is Structured
  Streaming's own checkpoint, reads filtered to ``batch < current`` so
  a replayed batch never sees its own partial output;
- the ER state retention pass (``streaming/entity_stream``): staged
  consolidation of committed batch partitions with an ``_UPTO`` marker
  committing the stage, delete+rename finish, repair-on-next-touch;
- the non-idempotent rollup sink (``streaming/rollup_stream``): a
  max-applied-batch ledger INSIDE the swapped target directory, so the
  ledger and the data it guards commit in the same rename.

This module is the shared implementation. Each primitive preserves the
exact on-disk layout its call sites already committed to (existing
state dirs keep reading; oracle hashes unchanged) — the unification is
of CODE, not format.

Crash-window contract (tested in ``tests/test_ledger.py``):

1. ``commit_run`` writes data partitions first, the ledger partition
   LAST — a crash anywhere before the ledger write leaves orphan
   ``run=N`` dirs that ``committed_runs`` never reports and the next
   run's overwrite replaces.
2. ``swap_applied`` renames a fully-written ``applied.next`` over
   ``applied`` — a crash before the rename leaves the OLD ledger (old
   state fully readable); after it, the NEW one (new state fully
   written by precondition). The in-between (old deleted, new not yet
   renamed) is repaired by ``repair_applied`` at the next read.
3. ``read_batch_state(..., before_batch=N)`` never exposes batch N's
   own partitions — foreachBatch replay overwrites deterministic
   content instead of duplicating.
4. ``staged_compact`` stages the consolidated partition in a dot-dir
   Spark never lists, commits with the ``_UPTO`` marker, and
   ``repair_staged_compaction`` completes (past the marker) or
   discards (before it) after a crash at ANY point.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType


# --- filesystem primitives (Hadoop FS so the same code runs against
# HDFS/S3A on a real cluster, not just local paths) ---------------------


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    # resolve through hadoop Path, not java.net.URI: raw URI.create
    # rejects legal filesystem characters (spaces — e.g. hive partition
    # values like "pri=4-NOT SPECIFIED"), which Path escapes itself
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    return jvm, fs


def local_frame(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """A frame of the literal ``rows`` with exactly the ``ddl`` schema,
    built in the JVM (one partition, one literal array)."""
    # not spark.createDataFrame(<list>): that plans a PythonRDD, so every
    # action on even a one-row frame starts Python tasks (~0.2 CPU-s each)
    schema = StructType.fromDDL(ddl)
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, schema.fields)
            ]
        )
        for row in rows
    ]
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.array(*structs).cast(ArrayType(schema)))
    )


def fs_exists(spark: SparkSession, path: str) -> bool:
    jvm, fs = _hadoop_fs(spark, path)
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(path)))


# --- run-scoped ledger (the neardup_state protocol) ---------------------


def committed_runs(
    spark: SparkSession, state_dir: str, part_col: str = "run"
) -> list[int]:
    """Runs whose state writes are committed — i.e. whose
    ``applied/{part_col}=N`` ledger partition exists. Orphan data
    partitions from a crashed run are invisible here."""
    path = f"{state_dir}/applied"
    if not fs_exists(spark, path):
        return []
    return sorted(
        r[part_col]
        for r in spark.read.parquet(path).select(part_col).collect()
    )


def read_run_state(
    spark: SparkSession,
    state_dir: str,
    kind: str,
    schema: str,
    runs: list[int],
    *,
    part_col: str = "run",
    keep_part: bool = False,
) -> DataFrame:
    """Committed rows of one run-partitioned state relation; empty frame
    before the first commit. The partition filter prunes uncommitted
    (crashed) partitions at the scan."""
    path = f"{state_dir}/{kind}"
    if not runs or not fs_exists(spark, path):
        empty = local_frame(spark, [], f"{part_col} int, {schema}")
        return empty if keep_part else empty.drop(part_col)
    df = spark.read.parquet(path).filter(F.col(part_col).isin(runs))
    return df if keep_part else df.drop(part_col)


def commit_run(
    spark: SparkSession,
    state_dir: str,
    run: int,
    frames: dict[str, DataFrame],
    part_col: str = "run",
) -> None:
    """Write each kind's frame under ``{kind}/{part_col}={run}`` (mode
    overwrite — idempotent under replay), then commit by writing the
    ledger partition LAST. A crash anywhere earlier leaves the run
    invisible to :func:`committed_runs` readers."""
    for kind, df in frames.items():
        df.write.mode("overwrite").parquet(
            f"{state_dir}/{kind}/{part_col}={run}"
        )
    local_frame(spark, [(run,)], "n bigint").write.mode(
        "overwrite"
    ).parquet(f"{state_dir}/applied/{part_col}={run}")


def repair_applied(spark: SparkSession, state_dir: str) -> None:
    """Finish a :func:`swap_applied` interrupted between its delete and
    rename (``applied`` absent, ``applied.next`` present). Idempotent;
    call before reads/writes that follow a possible crash."""
    jvm, fs = _hadoop_fs(spark, state_dir)
    P = jvm.org.apache.hadoop.fs.Path
    applied, nxt = P(f"{state_dir}/applied"), P(f"{state_dir}/applied.next")
    if not fs.exists(applied) and fs.exists(nxt):
        fs.rename(nxt, applied)


def swap_applied(
    spark: SparkSession,
    state_dir: str,
    new_run: int,
    old_runs: list[int],
    kinds: list[str],
    part_col: str = "run",
) -> None:
    """Atomically cut the ledger over to exactly ``new_run`` (whose
    data partitions must already be fully written), then physically
    delete the superseded partitions. A reader pinned to the old runs
    keeps a consistent view until its scan ends; a crash between the
    delete and the rename is repaired by :func:`repair_applied`."""
    local_frame(spark, [(new_run,)], "n bigint").write.mode(
        "overwrite"
    ).parquet(f"{state_dir}/applied.next/{part_col}={new_run}")
    jvm, fs = _hadoop_fs(spark, state_dir)
    P = jvm.org.apache.hadoop.fs.Path
    fs.delete(P(f"{state_dir}/applied"), True)
    fs.rename(P(f"{state_dir}/applied.next"), P(f"{state_dir}/applied"))
    for kind in kinds:
        for r in old_runs:
            fs.delete(P(f"{state_dir}/{kind}/{part_col}={r}"), True)


# --- batch-scoped streaming state (the foreachBatch-twin protocol) ------


def read_batch_state(
    spark: SparkSession,
    path: str,
    schema: str,
    before_batch: int | None = None,
) -> DataFrame:
    """Read a ``batch=N``-partitioned parquet state dir (empty frame
    before the first write). ``before_batch`` keeps only partitions
    written by earlier micro-batches — a replayed batch must not see
    its own partial output. The commit marker for these stores is the
    stream checkpoint itself: every batch OVERWRITES its own partition,
    so redelivery rewrites deterministic content."""
    if not fs_exists(spark, path):
        return local_frame(spark, [], f"batch bigint, {schema}")
    df = spark.read.parquet(path)
    if before_batch is not None:
        df = df.filter(F.col("batch") < before_batch)
    return df


# --- staged consolidation of committed batch partitions -----------------
#
# (entity_stream's retention pass, reusable for any batch=N store whose
# frontier has committed: stage in a dot-dir, _UPTO marker commits,
# delete+rename finishes, repair completes or discards after a crash.)

_STAGE = ".compact_stage"
_MARKER = "_UPTO"


def repair_staged_compaction(root: str, prefix: str = "batch=") -> None:
    """Finish (or discard) a :func:`staged_compact` interrupted by a
    crash; no-op when no stage dir exists. Idempotent."""
    stage = os.path.join(root, _STAGE)
    if not os.path.isdir(stage):
        return
    marker = os.path.join(stage, _MARKER)
    if not os.path.exists(marker):
        # crash before commit marker: stage is garbage, state intact
        shutil.rmtree(stage, ignore_errors=True)
        return
    with open(marker) as fh:
        upto = int(fh.read().strip())
    for d in os.listdir(root):
        if d.startswith(prefix) and int(d[len(prefix):]) <= upto:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    os.rename(stage, os.path.join(root, f"{prefix}{upto}"))


def staged_compact(
    spark: SparkSession,
    root: str,
    upto: int,
    prefix: str = "batch=",
    n_files: int = 8,
) -> int:
    """Consolidate every ``{prefix}i`` (i <= upto) partition under
    ``root`` into ONE ``{prefix}{upto}`` partition via the staged
    commit. Returns the number of partitions consolidated (0 = nothing
    to do). ONLY call with ``upto`` at or below the consumer's committed
    frontier — consolidation erases the between-partition distinction,
    which is safe only for partitions that can never replay."""
    repair_staged_compaction(root, prefix)
    if not os.path.isdir(root):
        return 0
    parts = [
        d
        for d in os.listdir(root)
        if d.startswith(prefix) and int(d[len(prefix):]) <= upto
    ]
    if len(parts) <= 1:
        return 0
    df = spark.read.parquet(*[os.path.join(root, d) for d in sorted(parts)])
    stage = os.path.join(root, _STAGE)
    shutil.rmtree(stage, ignore_errors=True)
    df.coalesce(n_files).write.mode("overwrite").parquet(stage)
    with open(os.path.join(stage, _MARKER), "w") as fh:
        fh.write(f"{upto}\n")
    repair_staged_compaction(root, prefix)
    return len(parts)


# --- in-target max-applied ledger (the non-idempotent-sink protocol) ----

LEDGER_NAME = "_applied"
#: the schema every max-applied ledger is written with; reading with it
#: skips the parquet footer-inference job
_LEDGER_SCHEMA = "batch_id long"


def read_max_applied(
    spark: SparkSession, fs, jvm, target: str, ledger_name: str = LEDGER_NAME
) -> int:
    """The highest batch id whose merge committed into ``target``
    (-1 when the target or its ledger does not exist yet, or the ledger
    is empty from a crash between swap steps — recover, don't wedge).
    Underscore-prefixed ledger paths are invisible to parquet readers
    of the target, and the ledger swaps atomically WITH the data in the
    same directory rename — only the max id is stored because batch ids
    are monotonic and only recent batches redeliver (a legacy multi-row
    ledger reads as the max of its rows)."""
    P = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(P(target)) or not fs.exists(P(target + "/" + ledger_name)):
        return -1
    return max(
        (
            r["batch_id"]
            for r in spark.read.schema(_LEDGER_SCHEMA)
            .parquet(target + "/" + ledger_name)
            .collect()
        ),
        default=-1,
    )


def write_applied_into(
    spark: SparkSession, tmp: str, batch_id: int, ledger_name: str = LEDGER_NAME
) -> None:
    """Stamp the ledger INSIDE a not-yet-swapped target version, so the
    data and the fact of its application become visible in the same
    atomic rename."""
    local_frame(spark, [(int(batch_id),)], _LEDGER_SCHEMA).write.mode(
        "overwrite"
    ).parquet(tmp + "/" + ledger_name)
