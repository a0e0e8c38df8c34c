"""Shared ledger protocol (operators/ledger.py): the crash windows all
four state families rely on, tested once against the module they now
share — commit-visibility-last, atomic applied cutover + repair,
replay-safe batch reads, staged compaction commit/discard, and the
in-target max-applied stamp."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.ledger import (
    _hadoop_fs,
    commit_run,
    committed_runs,
    local_frame,
    read_batch_state,
    read_max_applied,
    read_run_state,
    repair_applied,
    repair_staged_compaction,
    staged_compact,
    swap_applied,
    write_applied_into,
)

_SCHEMA = "k bigint, v string"


def _frame(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def test_crash_before_ledger_leaves_run_invisible(spark, tmp_path):
    state = str(tmp_path / "state")
    # simulate a crash mid-commit: data partition written, applied NOT
    _frame(spark, [(1, "a")]).write.mode("overwrite").parquet(
        f"{state}/kind_a/run=0"
    )
    assert committed_runs(spark, state) == []
    got = read_run_state(spark, state, "kind_a", _SCHEMA, [])
    assert got.count() == 0
    # the next run's commit overwrites the orphan and becomes visible
    commit_run(spark, state, 0, {"kind_a": _frame(spark, [(2, "b")])})
    assert committed_runs(spark, state) == [0]
    rows = read_run_state(spark, state, "kind_a", _SCHEMA, [0]).collect()
    assert [(r["k"], r["v"]) for r in rows] == [(2, "b")]


def test_read_run_state_prunes_uncommitted_partitions(spark, tmp_path):
    state = str(tmp_path / "state")
    commit_run(spark, state, 0, {"kind_a": _frame(spark, [(1, "a")])})
    # orphan run=1 (crashed before its ledger write)
    _frame(spark, [(9, "z")]).write.mode("overwrite").parquet(
        f"{state}/kind_a/run=1"
    )
    runs = committed_runs(spark, state)
    assert runs == [0]
    got = read_run_state(spark, state, "kind_a", _SCHEMA, runs).collect()
    assert [(r["k"], r["v"]) for r in got] == [(1, "a")]


def test_swap_applied_cutover_and_repair(spark, tmp_path):
    state = str(tmp_path / "state")
    commit_run(spark, state, 0, {"kind_a": _frame(spark, [(1, "a")])})
    commit_run(spark, state, 1, {"kind_a": _frame(spark, [(2, "b")])})
    # compaction writes run=2 then cuts over
    _frame(spark, [(1, "a"), (2, "b")]).write.mode("overwrite").parquet(
        f"{state}/kind_a/run=2"
    )
    swap_applied(spark, state, 2, [0, 1], ["kind_a"])
    assert committed_runs(spark, state) == [2]
    # physical delete of superseded partitions
    left = [
        d for d in os.listdir(f"{state}/kind_a") if d.startswith("run=")
    ]
    assert left == ["run=2"], left
    got = read_run_state(spark, state, "kind_a", _SCHEMA, [2])
    assert got.count() == 2

    # crash WINDOW: applied deleted, applied.next not yet renamed —
    # simulate by recreating the window by hand, then repair
    jvm, fs = _hadoop_fs(spark, state)
    P = jvm.org.apache.hadoop.fs.Path
    fs.rename(P(f"{state}/applied"), P(f"{state}/applied.next"))
    assert not fs.exists(P(f"{state}/applied"))
    repair_applied(spark, state)
    assert committed_runs(spark, state) == [2]


def test_read_batch_state_excludes_replaying_batch(spark, tmp_path):
    path = str(tmp_path / "bstate")
    _frame(spark, [(1, "a")]).write.mode("overwrite").parquet(
        f"{path}/batch=0"
    )
    _frame(spark, [(2, "b")]).write.mode("overwrite").parquet(
        f"{path}/batch=1"
    )
    # a replay of batch 1 must see only earlier partitions
    seen = read_batch_state(spark, path, _SCHEMA, before_batch=1)
    assert [(r["k"], r["v"]) for r in seen.collect()] == [(1, "a")]
    # and an unfiltered read sees both
    assert read_batch_state(spark, path, _SCHEMA).count() == 2
    # empty dir -> typed empty frame, not an error
    assert (
        read_batch_state(spark, str(tmp_path / "absent"), _SCHEMA).count()
        == 0
    )


def test_staged_compact_commit_and_crash_windows(spark, tmp_path):
    root = str(tmp_path / "cstate")
    for b in range(3):
        _frame(spark, [(b, f"v{b}")]).write.mode("overwrite").parquet(
            f"{root}/batch={b}"
        )
    n = staged_compact(spark, root, upto=2)
    assert n == 3
    parts = sorted(d for d in os.listdir(root) if d.startswith("batch="))
    assert parts == ["batch=2"]
    got = sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(root).collect()
    )
    assert got == [(0, "v0"), (1, "v1"), (2, "v2")]

    # crash BEFORE the marker: stage dir exists, no _UPTO -> discarded
    os.makedirs(f"{root}/.compact_stage", exist_ok=True)
    with open(f"{root}/.compact_stage/garbage", "w") as fh:
        fh.write("x")
    repair_staged_compaction(root)
    assert not os.path.isdir(f"{root}/.compact_stage")
    assert sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(root).collect()
    ) == got

    # crash AFTER the marker: stage complete, old partitions not yet
    # deleted -> repair finishes the consolidation
    _frame(spark, [(7, "v7")]).write.mode("overwrite").parquet(
        f"{root}/batch=7"
    )
    spark.read.parquet(root).write.mode("overwrite").parquet(
        f"{root}/.compact_stage"
    )
    with open(f"{root}/.compact_stage/_UPTO", "w") as fh:
        fh.write("7\n")
    repair_staged_compaction(root)
    parts = sorted(d for d in os.listdir(root) if d.startswith("batch="))
    assert parts == ["batch=7"]
    assert spark.read.parquet(root).count() == 4


def test_max_applied_stamp_survives_swap_and_recovers(spark, tmp_path):
    target = str(tmp_path / "rollup")
    jvm, fs = _hadoop_fs(spark, target)
    # absent target / absent ledger -> -1 (externally-seeded target)
    assert read_max_applied(spark, fs, jvm, target) == -1
    _frame(spark, [(1, "a")]).write.mode("overwrite").parquet(target)
    assert read_max_applied(spark, fs, jvm, target) == -1
    # stamp inside an unswapped version, then "swap" (here: in place)
    write_applied_into(spark, target, 5)
    assert read_max_applied(spark, fs, jvm, target) == 5
    # the ledger is invisible to parquet readers of the target
    assert spark.read.parquet(target).columns == ["k", "v"]
    # zero-row ledger (crash between swap steps) -> -1, not a wedge
    spark.createDataFrame([], "batch_id long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(target + "/_applied")
    assert read_max_applied(spark, fs, jvm, target) == -1


def test_local_frame_matches_create_dataframe_schema(spark):
    """local_frame is a drop-in for spark.createDataFrame(<list>, ddl):
    same names, types, nullability and rows — built without Python."""
    for rows, ddl in (
        ([(5,)], "batch_id long"),
        ([], "doc_id long"),
        ([(0, 0.0, "a"), (1, 1e9, None)], "k int, lo double, s string"),
        ([], "run int, e array<float>"),
    ):
        want = spark.createDataFrame(rows, ddl)
        got = local_frame(spark, rows, ddl)
        assert got.schema == want.schema, ddl
        assert got.collect() == want.collect(), ddl


def _python_stages(spark, group: str) -> list[int]:
    """Completed stages of ``group``'s jobs whose RDD graph holds a
    PythonRDD (i.e. that started Python worker tasks)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store, tracker = jsc.statusStore(), sc.statusTracker()
    hits, n_stages = [], 0
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            if str(store.lastStageAttempt(sid).status()) != "COMPLETE":
                continue
            n_stages += 1
            todo = [store.operationGraphForStage(sid).rootCluster()]
            while todo:
                cluster = todo.pop()
                nodes = cluster.childNodes()
                if any(
                    "PythonRDD" in nodes.apply(i).name()
                    for i in range(nodes.size())
                ):
                    hits.append(sid)
                    break
                kids = cluster.childClusters()
                todo.extend(kids.apply(i) for i in range(kids.size()))
    assert n_stages, f"no completed stage in job group {group}"
    return hits


def _write_documents(spark, path: str, n: int = 60) -> None:
    """A small seeded corpus in the documents-table shape with near
    copies (another doc's text plus a marker word), so q239 has pairs."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    texts = [" ".join(rng.choices(vocab, k=rng.randint(10, 60))) for _ in range(n)]
    texts += [texts[i] + " dup" for i in range(0, n, 6)]
    rows = [(i, t, "en", f"src{i % 20}", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(path)


def test_winnow_sink_runs_no_python(spark, tmp_path):
    """The winnow ledger-swap sink's fixed per-batch work (ledger stamp,
    empty tombstone set, state reads) stays in the JVM: no stage of its
    micro-batch jobs runs a PythonRDD, and the state still derives
    exactly the batch q239 pairs."""
    from etl_pipeline_candy_store_spark.plans.catalog import (
        REGISTRY,
        _ensure_loaded,
        load,
    )
    from etl_pipeline_candy_store_spark.streaming.winnow_stream import (
        read_winnow_pairs,
        stream_fingerprint_counts,
    )

    sf, src = str(tmp_path / "sf"), str(tmp_path / "src")
    target = str(tmp_path / "target")
    _write_documents(spark, sf + "/documents.parquet")
    docs = load(spark, sf, "documents")
    docs.repartition(2).write.parquet(src)
    q = (
        stream_fingerprint_counts(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            target_path=target,
            checkpoint_path=str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # two batches (create, then merge); Structured Streaming runs every
    # micro-batch's jobs under the query's run id as job group
    assert q.lastProgress["batchId"] == 1
    assert _python_stages(spark, str(q.runId)) == []
    _ensure_loaded()
    want = {
        tuple(r)
        for r in REGISTRY["q239_winnow_neardup"].builder(spark, sf).collect()
    }
    assert want
    got = read_winnow_pairs(spark, target, docs).collect()
    assert {tuple(r) for r in got} == want
