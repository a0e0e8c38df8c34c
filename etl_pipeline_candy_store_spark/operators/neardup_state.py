"""Incremental EXACT near-dup state for the batch curation pipeline.

The composed :func:`..plans.curation_pipeline.curate` funnel spends
most of its wall time rebuilding the q51 shingle self-join from scratch
every run (PIPELINE_SCALE_r10.json: 66-75% of stage time), even though
the corpus it deduplicates is mostly the same corpus it deduplicated
yesterday. This module gives ``curate`` a persistent corpus state so a
re-run only pays for the NEW slice:

- ``per_doc``  (doc_id, fp, n)   — membership + shingle cardinality
- ``postings`` (doc_id, sh)      — the exploded shingle relation with
  each shingle stored as its 16-byte ``unhex(md5(shingle))`` digest:
  24 bytes per row instead of (doc_id, 32-char md5, ~30-char shingle
  string). The per-run probe scans two narrow columns and joins on a
  fixed-width binary key — the round-11 floor analysis (SCALE_NOTES
  "incremental amortization") attributed ~0.4-0.5x of the stateful
  path's residual cost to exactly that scan. Digest equality stands in
  for string equality at the SAME md5-grade certainty the pipeline's
  exact-dedup stage (``fp = md5(text)``) already rests on — the two
  relations share one equality contract. A side benefit for
  governance: the state never materializes text-derived strings at
  all, only digests.
- ``pairs``    (doc_a, fp_a, doc_b, fp_b, n_common, n_union) —
  verified pairs among docs already in state, generation-stamped.

On each run the input splits into *matched* (same (doc_id, content-
digest) already in state) and *new*; the emitted pair relation is

  stored-pairs(matched x matched)  — read back, never recomputed
  ∪ cross(new x matched)           — ONE probe of the postings state
                                     by the (broadcast-gated) batch's
                                     hashed shingle table: no corpus
                                     self-join, no corpus-sized string
                                     shuffle, no corpus string scan
  ∪ within(new x new)              — q51's exact jaccard_pairs on the
                                     batch only

A (run, doc_id) pair identifies exactly one document generation (a
matched doc is never re-appended; changed content is a new generation
in a new run), so joining the probe's candidate counts back through
``per_doc`` on (run, doc_id) both fetches stored cardinalities and
drops stale generations. The union is bit-identical to
``jaccard_pairs`` over the full input — the stateful and stateless
``curate`` modes produce hash-equal funnels, which q216 locks against
the DuckDB oracle and ``tests/test_curate_incremental.py`` asserts
end-to-end (including the changed-content and shrunk-corpus edges).

State discipline (the streaming ledger pattern, run- instead of
batch-scoped): each run appends ``run=N`` partitions and commits by
writing ``applied/run=N`` LAST; readers consult the applied ledger, so
a crash mid-write leaves an orphan partition that the next run
overwrites instead of a half-visible state. Stale rows from changed or
removed docs accumulate until :func:`compact_neardup_state` rewrites
the state into a fresh single-run layout — and the compacted postings
land as a HASH-BUCKETED catalog table on the probe's join key ``sh``,
so the steady-state probe joins the corpus-sized relation with NO
state-side Exchange even past the broadcast cap: the bucket layout is
the shuffle, paid once at compaction
(``tests/test_curate_incremental.py`` plan-locks it).

Scale posture: per-run cost is O(batch shingles + postings scan +
candidate verify) with the only shuffles keyed on batch-sized
relations; the postings scan is a columnar read of (long, 16-byte
binary) probed by a broadcast hash join (no exchange), falling back
past ``broadcast_max_shingles`` to a shuffle join in which the
bucketed state side still never moves. Compaction bounds the
stale-row overhead.

Reference anchor: the reference pipeline (candy orders) has no corpus
state at all — every DAG run recomputes from the raw inputs
(/root/reference/candy_dag.py:136-164); this is the amortization a
recurring 100 TB curation run cannot live without.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.dedup import (
    _JACCARD_PAIRS_SQL,
    _JACCARD_THRESHOLD,
    _shingles,
    connected_components,
    jaccard_pairs,
    jaccard_pairs_from_shingles,
)
from etl_pipeline_candy_store_spark.plans.catalog import load, register

_ND_PERDOC_SCHEMA = "doc_id bigint, fp string, n bigint"
_ND_POSTINGS_SCHEMA = "doc_id bigint, sh binary"
# pairs are stamped with BOTH endpoints' content digests: a pair is
# valid only for the generations it was computed from — once a doc's
# content changes, its old pairs must never match again even though the
# doc_id is back in state under the new digest
_ND_PAIRS_SCHEMA = (
    "doc_a bigint, fp_a string, doc_b bigint, fp_b string,"
    " n_common bigint, n_union bigint"
)

_ND_BUCKETS = 32


def _sh_digest(col: str = "shingle") -> F.Column:
    """16-byte binary digest of a shingle string — the postings join
    key. md5-grade equality, the same contract as the pipeline's
    ``fp = md5(text)`` exact-dedup key."""
    return F.unhex(F.md5(F.col(col).cast("binary")))


from etl_pipeline_candy_store_spark.operators.ledger import (  # noqa: E402
    fs_exists as _fs_exists,
)
from etl_pipeline_candy_store_spark.operators.ledger import (  # noqa: E402
    committed_runs,
    local_frame,
    repair_applied,
    swap_applied,
)


def _state_digest(state_dir: str) -> str:
    return hashlib.md5(
        os.path.abspath(state_dir).encode("utf-8")
    ).hexdigest()[:12]


def applied_runs(spark: SparkSession, state_dir: str) -> list[int]:
    """Runs whose state writes are committed (ledger written last) —
    the shared run-ledger protocol (:mod:`.ledger`). Repairs a
    compaction cutover interrupted between its delete and rename
    before reading."""
    repair_applied(spark, state_dir)
    return committed_runs(spark, state_dir)


def _read_state(
    spark: SparkSession,
    state_dir: str,
    kind: str,
    schema: str,
    runs: list[int],
    *,
    keep_run: bool = False,
) -> DataFrame:
    from etl_pipeline_candy_store_spark.operators.ledger import read_run_state

    return read_run_state(
        spark, state_dir, kind, schema, runs, keep_part=keep_run
    )


def _bucketed_table_name(state_dir: str, run: int) -> str:
    return f"ndstate_p_{_state_digest(state_dir)}_r{run}"


def _read_postings(
    spark: SparkSession, state_dir: str, runs: list[int]
) -> DataFrame:
    """(run, doc_id, sh) over the committed runs. Each run is stored
    EITHER as plain ``postings/run=N`` parquet (incremental appends) OR
    as the compaction's bucketed catalog table at ``postings_b/run=N``
    — a compacted state is exactly one bucketed run, so its probe join
    plans with no state-side Exchange; the catalog-table read degrades
    gracefully to a plain parquet read of the same files when the table
    definition is not in this session's catalog (bucket metadata lost,
    rows identical)."""
    parts: list[DataFrame] = []
    for r in runs:
        pb = f"{state_dir}/postings_b/run={r}"
        if _fs_exists(spark, pb):
            tbl = _bucketed_table_name(state_dir, r)
            post = (
                spark.table(tbl)
                if spark.catalog.tableExists(tbl)
                else spark.read.parquet(pb)
            )
            parts.append(post.select(F.lit(r).alias("run"), "doc_id", "sh"))
        elif _fs_exists(spark, f"{state_dir}/postings/run={r}"):
            parts.append(
                spark.read.parquet(f"{state_dir}/postings/run={r}").select(
                    F.lit(r).alias("run"), "doc_id", "sh"
                )
            )
    if not parts:
        return local_frame(spark, [], f"run int, {_ND_POSTINGS_SCHEMA}")
    from functools import reduce

    return reduce(DataFrame.unionByName, parts)


def neardup_pairs_incremental(
    d1: DataFrame,
    state_dir: str,
    *,
    update_state: bool = True,
    broadcast_max_shingles: int = 2_000_000,
    threshold: float = _JACCARD_THRESHOLD,
) -> DataFrame:
    """Exact q51 near-dup pairs over ``d1`` (doc_id, text — unique
    doc_ids, e.g. the post-exact-dedup survivors), paying shingle-join
    cost only for docs NOT already in the corpus state.

    Returns (doc_a, doc_b, n_common, n_union), bit-identical to
    ``jaccard_pairs(d1, threshold)``. With ``update_state`` the new
    slice's hashed postings, cardinalities and the freshly discovered
    pairs are committed as the next run, so a replayed corpus pays
    nothing and a grown corpus pays for its delta.
    """
    spark = d1.sparkSession
    runs = applied_runs(spark, state_dir)
    keyed = d1.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp"), "text"
    )
    per_doc_st = _read_state(spark, state_dir, "per_doc", _ND_PERDOC_SCHEMA, runs)
    # the matched/new split runs on a SLIM (doc_id, fp) projection so
    # the anti-join never shuffles document text — and the projection
    # is PINNED, because every downstream consumer (matched semi-joins,
    # the new-id anti-join, the pair-endpoint stamping) would otherwise
    # re-run the full-corpus md5 text scan it embodies: one digest scan
    # per run, total, is the contract (~40 bytes/doc to checkpoint)
    slim = keyed.select("doc_id", "fp")
    if runs:
        slim = slim.localCheckpoint(eager=True)
    matched = slim.join(
        per_doc_st.select("doc_id", "fp"), ["doc_id", "fp"], "left_semi"
    )
    n_new = None
    if runs:
        new_ids = slim.join(
            per_doc_st.select("doc_id", "fp"), ["doc_id", "fp"], "left_anti"
        ).localCheckpoint(eager=True)
        n_new = new_ids.count()
        ids = new_ids
        if n_new <= 10_000_000:  # one long + one digest per doc
            ids = F.broadcast(ids)
        # batch-sized text fetch for the new slice. fp rides in from
        # new_ids so this does NOT recompute md5 over the corpus. Pinned
        # only when the state write below will consume it AGAIN — with
        # update_state=False its sole consumer is the new_sh build
        # (within-slice pairs now reuse new_sh directly, r16), so the
        # checkpoint there would be a pure extra materialization job.
        new = (
            d1.select("doc_id", "text")
            .join(ids, "doc_id")
            .select("doc_id", "fp", "text")
        )
        if update_state:
            new = new.localCheckpoint(eager=True)
    else:
        new = keyed.select("doc_id", "fp", "text")

    new_sh = _shingles(new.select("doc_id", "text"))
    if runs:
        # batch-sized and consumed 3-4 times (count, probe, cardinality,
        # state write) — pin it; the first run's corpus-sized shingle
        # relation stays lazy like the stateless path
        new_sh = new_sh.localCheckpoint(eager=True)
    card_new = new_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )

    empty_pairs = local_frame(spark, [], _ND_PAIRS_SCHEMA).select(
        "doc_a", "doc_b", "n_common", "n_union"
    )
    if runs:
        stored = (
            _read_state(spark, state_dir, "pairs", _ND_PAIRS_SCHEMA, runs)
            .join(
                matched.select(
                    F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a")
                ),
                ["doc_a", "fp_a"],
                "left_semi",
            )
            .join(
                matched.select(
                    F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b")
                ),
                ["doc_b", "fp_b"],
                "left_semi",
            )
            .select("doc_a", "doc_b", "n_common", "n_union")
        )
        if n_new == 0:
            # pure replay: every doc matched — nothing to probe, nothing
            # to append (state writes are delta-only, so a replayed
            # corpus costs one state read + the semi-filters)
            return stored
        post_st = _read_postings(spark, state_dir, runs)
        probe = new_sh.select(
            F.col("doc_id").alias("doc_new"), _sh_digest().alias("sh")
        )
        # gate the broadcast on the BATCH SHINGLE row count — the
        # relation being shipped — not the doc count (~50x smaller)
        if new_sh.count() <= broadcast_max_shingles:
            probe = F.broadcast(probe)
        inter = (
            post_st.select("run", F.col("doc_id").alias("doc_seen"), "sh")
            .join(probe, "sh")
            .groupBy("run", "doc_seen", "doc_new")
            .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        )
        # (run, doc_id) identifies exactly one generation; joining the
        # matched-filtered per_doc on it both fetches the stored
        # cardinality AND drops candidates whose state row is stale
        # (content changed or doc gone): only the matched generation of
        # a doc_id verifies
        seen_card = _read_state(
            spark, state_dir, "per_doc", _ND_PERDOC_SCHEMA, runs, keep_run=True
        ).join(matched, ["doc_id", "fp"], "left_semi")
        cross = (
            inter.join(
                seen_card.select(
                    "run",
                    F.col("doc_id").alias("doc_seen"),
                    F.col("n").alias("n_a"),
                ),
                ["run", "doc_seen"],
            )
            .join(
                card_new.select(
                    F.col("doc_id").alias("doc_new"), F.col("n").alias("n_b")
                ),
                "doc_new",
            )
            .withColumn(
                "n_union",
                (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("long"),
            )
            .filter(
                F.col("n_common").cast("double") / F.col("n_union") >= threshold
            )
            .select(
                F.least("doc_seen", "doc_new").alias("doc_a"),
                F.greatest("doc_seen", "doc_new").alias("doc_b"),
                "n_common",
                "n_union",
            )
        )
    else:
        cross = stored = empty_pairs

    # the within-slice pairs REUSE the (checkpointed, when state
    # exists) batch shingle relation instead of re-tokenizing the
    # slice's text a second time (r16) — bit-identical by construction:
    # jaccard_pairs(d) IS jaccard_pairs_from_shingles(_shingles(d))
    within = jaccard_pairs_from_shingles(new_sh, threshold)
    fresh = within.unionByName(cross)

    if update_state:
        from etl_pipeline_candy_store_spark.operators.ledger import commit_run

        nrun = (max(runs) + 1) if runs else 0
        # stamp both endpoints' digests (every endpoint is in slim —
        # checkpointed when state exists, so no md5 rescan)
        fpm = slim
        stamped_pairs = (
            fresh.join(
                fpm.select(
                    F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a")
                ),
                "doc_a",
            )
            .join(
                fpm.select(
                    F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b")
                ),
                "doc_b",
            )
            .select("doc_a", "fp_a", "doc_b", "fp_b", "n_common", "n_union")
        )
        # shared run-ledger protocol: data partitions first, the
        # applied ledger LAST — a crash before the ledger write leaves
        # run=N invisible
        commit_run(
            spark,
            state_dir,
            nrun,
            {
                "postings": new_sh.select("doc_id", _sh_digest().alias("sh")),
                "per_doc": new.select("doc_id", "fp")
                .join(card_new, "doc_id", "left")
                .select(
                    "doc_id",
                    "fp",
                    F.coalesce("n", F.lit(0)).cast("long").alias("n"),
                ),
                "pairs": stamped_pairs,
            },
        )
        # downstream consumers read the just-written pairs back instead
        # of re-running the probe plan a second time
        fresh = spark.read.parquet(f"{state_dir}/pairs/run={nrun}").select(
            "doc_a", "doc_b", "n_common", "n_union"
        )

    return stored.unionByName(fresh)


def neardup_labels_incremental(
    d1: DataFrame, state_dir: str, **kw
) -> DataFrame:
    """Near-dup component labels (node, label) over ``d1`` via the
    incremental pair relation — the stateful drop-in for
    ``curation_pipeline.near_dup_labels``."""
    pairs = neardup_pairs_incremental(d1, state_dir, **kw)
    return connected_components(pairs.select("doc_a", "doc_b"), "doc_a", "doc_b")


def compact_neardup_state(
    spark: SparkSession,
    state_dir: str,
    current: DataFrame | None = None,
    n_buckets: int = _ND_BUCKETS,
) -> dict:
    """Rewrite the accumulated run partitions into a single fresh run,
    dropping rows superseded by a later generation of the same doc_id
    and (when ``current`` — a (doc_id, text) frame — is given) rows for
    docs no longer in the corpus. Bounded-state discipline for a state
    dir that would otherwise grow with every changed doc.

    The compacted postings land as a HASH-BUCKETED catalog table on
    ``sh`` (path under the state dir, name derived from its digest):
    the steady-state probe's join against the corpus-sized postings
    relation then plans with no state-side Exchange even on the
    shuffle-fallback path — the bucket layout is the shuffle, paid
    once here.

    Uses the materialized-store cutover pattern: the compacted
    partitions are written under NEW run ids first, the applied ledger
    is swapped last, and old partitions are deleted only after the
    ledger no longer references them — a reader pinned to the old runs
    keeps a consistent view until its scan ends.
    """
    runs = applied_runs(spark, state_dir)
    if not runs:
        return {"runs_before": 0, "runs_after": 0}
    pd_runs = _read_state(
        spark, state_dir, "per_doc", _ND_PERDOC_SCHEMA, runs, keep_run=True
    )
    if current is not None:
        # keep exactly the generation matching the live corpus. A
        # (doc_id, fp) pair exists in at most one run (a matched doc is
        # never re-appended), so the semi-join is already unique — and
        # unlike max-run selection it keeps a REVERTED doc's old-but-
        # current generation instead of its newer superseded one.
        cur = current.select(
            "doc_id", F.md5(F.col("text").cast("binary")).alias("fp")
        )
        keep = pd_runs.join(cur, ["doc_id", "fp"], "left_semi")
    else:
        # no corpus given: latest generation per doc_id
        latest = pd_runs.groupBy("doc_id").agg(F.max("run").alias("run"))
        keep = pd_runs.join(latest, ["doc_id", "run"])
    keep = keep.localCheckpoint(eager=True)
    kd = keep.select("run", "doc_id")
    postings = _read_postings(spark, state_dir, runs).join(
        kd, ["run", "doc_id"], "left_semi"
    )
    pairs = (
        _read_state(spark, state_dir, "pairs", _ND_PAIRS_SCHEMA, runs)
        .join(
            keep.select(
                F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a")
            ),
            ["doc_a", "fp_a"],
            "left_semi",
        )
        .join(
            keep.select(
                F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b")
            ),
            ["doc_b", "fp_b"],
            "left_semi",
        )
    )
    nrun = max(runs) + 1
    ptbl = _bucketed_table_name(state_dir, nrun)
    spark.sql(f"DROP TABLE IF EXISTS {ptbl}")
    postings.select("doc_id", "sh").write.mode("overwrite").bucketBy(
        n_buckets, "sh"
    ).sortBy("sh").option("path", f"{state_dir}/postings_b/run={nrun}").format(
        "parquet"
    ).saveAsTable(ptbl)
    keep.select("doc_id", "fp", "n").write.mode("overwrite").parquet(
        f"{state_dir}/per_doc/run={nrun}"
    )
    pairs.write.mode("overwrite").parquet(f"{state_dir}/pairs/run={nrun}")
    # ledger swap (shared protocol): cut the applied dir over to just
    # the new run, then delete the superseded partitions
    swap_applied(
        spark,
        state_dir,
        nrun,
        runs,
        ["postings", "per_doc", "pairs", "postings_b"],
    )
    for r in runs:
        spark.sql(f"DROP TABLE IF EXISTS {_bucketed_table_name(state_dir, r)}")
    return {"runs_before": len(runs), "runs_after": 1, "run": nrun}


_Q216_D1_SQL = """
  SELECT d.doc_id, d.text FROM documents d
  JOIN (SELECT md5(text) AS fp, MIN(doc_id) AS doc_id
        FROM documents GROUP BY 1) k
  ON d.doc_id = k.doc_id
"""


@register(
    "q216_incremental_exact_neardup",
    oracle=f"""
WITH d1 AS ({_Q216_D1_SQL}),
{_JACCARD_PAIRS_SQL.replace("FROM documents", "FROM d1").lstrip().removeprefix("WITH ")}
""",
    doc="Incremental exact near-dup: corpus state is built from the "
    "doc_id % 7 <> 0 slice (its own post-exact-dedup survivors), then "
    "the FULL corpus runs through the stateful path — stored pairs for "
    "matched docs, one hashed-postings probe for the delta, q51 "
    "within-pairs for the delta only. The oracle is plain exact "
    "jaccard pairs over the full post-exact-dedup corpus: hash "
    "equality IS the proof that the incremental decomposition loses "
    "nothing (including the stale-state edge: delta doc_ids are lower, "
    "so some prior keepers lose their keeper status and their state "
    "rows must be ignored by the (doc_id, fp) match).",
)
def q216_incremental_exact_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from etl_pipeline_candy_store_spark.plans.curation_pipeline import (
        dedup_exact,
    )

    docs = load(spark, sf_dir, "documents")
    state = tempfile.mkdtemp(prefix="ndstate_")
    prior = dedup_exact(docs.filter(F.col("doc_id") % 7 != 0))
    neardup_pairs_incremental(prior, state).count()  # run 0: build state
    d1 = dedup_exact(docs)
    return neardup_pairs_incremental(d1, state, update_state=False)


def forget_from_neardup_state(
    spark: SparkSession, state_dir: str, current: DataFrame
) -> dict:
    """Right-to-be-forgotten for the PERSISTENT dedup state (the q194
    family's obligation extended to derived state): a document deleted
    from the corpus must leave no trace in the postings relation, the
    per-doc index, or the stored pairs — derived state is still
    personal data (the postings store only 16-byte shingle digests,
    never text-derived strings, but digests of a person's data are
    still linkable state and are purged all the same). Implemented as
    a compaction against the post-forget corpus:
    :func:`compact_neardup_state` already keeps only the generations
    present in ``current``, and its ledger-cutover write makes the
    purge PHYSICAL (old run partitions are deleted, not filtered at
    read time)."""
    return compact_neardup_state(spark, state_dir, current=current)
