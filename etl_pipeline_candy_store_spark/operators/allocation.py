"""ST1 — sequential inventory allocation with cancellation feedback.

Reference semantics (``/root/reference/src/data_processor.py:395-453``):
items are processed strictly in arrival order; an item is fulfilled (stock
decremented) iff remaining stock >= requested qty, otherwise the line is
cancelled (quantity=0) and — crucially — frees no stock, so a *later*
smaller request can still succeed. That feedback makes the operator
inexpressible as a window/cumulative sum (SURVEY §4.3): a prefix-sum model
diverges as soon as one line cancels.

Spark-first design: stock of product A never affects product B, so the
only sequential dependency is *within* a product key. We therefore
``groupBy(key).applyInPandas`` — parallel across keys (scales with the
number of distinct products, i.e. perfectly at 100 TB where the dimension
is wide), sequential inside a key (the semantic requirement, not an
implementation shortcut). The reference instead runs ONE Python loop over
ALL collected rows on the driver (``src/data_processor.py:389``).

Scale posture:
- one shuffle on the key column (same cost as any keyed aggregation);
- Arrow batches in/out; the per-group loop is a tight numpy int loop;
- skewed keys (one product with billions of lines) would serialize — for
  that shape, :func:`allocate_bucketed` (below) splits each key into
  contiguous sequence buckets and runs them in PARALLEL under an
  optimistic-opening-stock fixpoint, converging in <= n_buckets rounds
  (typically 2-3), result-identical to :func:`allocate_sequential`.
"""

from __future__ import annotations

import contextlib
import io
import re
import warnings
from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType


def allocate_sequential(
    requests: DataFrame,
    *,
    key_col: str | Sequence[str],
    seq_cols: Sequence[str],
    qty_col: str,
    stock_col: str,
    input_partitioned: bool = False,
) -> DataFrame:
    """Greedily allocate ``qty_col`` against ``stock_col`` per ``key_col``.

    ``requests`` must already carry the opening stock per key (join the
    dimension before calling; broadcast it — it is the small side).

    Returns the input columns plus:
      - ``quantity`` (int): fulfilled qty (0 when cancelled);
      - ``cancelled`` (int 0/1);
      - ``stock_after`` (long): remaining stock after this line.

    Physical strategy: hash-repartition on the key columns + sort within
    partitions + ONE ``mapInPandas`` pass per partition, instead of
    ``groupBy().applyInPandas`` (one pandas frame per key). This
    amortizes Arrow/pandas per-group overhead across thousands of keys
    per batch and keeps the task count equal to the shuffle width rather
    than the key count — the difference between ~20k tiny pandas frames
    and the few streaming passes AQE sizes the shuffle to at sf0.1, and
    between 10^9 groups and a few thousand tasks at 100 TB. State
    (remaining stock per key) carries across Arrow batches within a
    partition; that is safe because the repartition puts every row of a
    key in exactly one partition (AQE coalescing merges whole hash
    partitions, never splits one) and the partition sort makes batch
    order the global per-key order.

    ``input_partitioned=True`` skips the repartition: pass it when the
    input's physical layout ALREADY co-locates every key in one
    partition — a table written with
    :func:`~etl_pipeline_candy_store_spark.sources.writers.write_bucketed_table`
    on the key columns, or an upstream stage that repartitioned on the
    keys. The operator then plans with ZERO Exchange — the bucket
    layout is the shuffle, paid once at write time
    (``tests/test_bucketed_allocation.py`` locks the plan). It is a
    layout contract, not a hint, and the operator enforces it two ways:
    (1) ``spark.sql.sources.bucketing.autoBucketedScan.enabled`` is
    forced to ``false`` for the session (with a warning) — otherwise
    Spark's ``DisableUnnecessaryBucketedScan`` rule de-buckets the scan
    (mapInPandas declares no required distribution) and bucket files
    beyond ``maxPartitionBytes`` split a key across tasks; (2) the
    built plan must show a ``Bucketed: true`` scan or an upstream
    Exchange, else :class:`ValueError` at build time.
    """
    key_cols = [key_col] if isinstance(key_col, str) else list(key_col)
    seq_cols = list(seq_cols)
    out_schema = StructType(
        requests.schema.fields
        + [
            StructField("quantity", IntegerType(), False),
            StructField("cancelled", IntegerType(), False),
            StructField("stock_after", LongType(), False),
        ]
    )

    def _allocate(batches):
        remaining: dict = {}  # partition-local; keys never span partitions
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            if len(key_cols) == 1:
                keys = pdf[key_cols[0]].tolist()
            else:
                keys = list(zip(*(pdf[c].tolist() for c in key_cols)))
            qty = pdf[qty_col].to_numpy(dtype=np.int64)
            stock = pdf[stock_col].to_numpy(dtype=np.int64)
            fulfilled = np.zeros(n, dtype=np.int64)
            cancelled = np.zeros(n, dtype=np.int64)
            stock_after = np.zeros(n, dtype=np.int64)
            get = remaining.get
            for i in range(n):
                k = keys[i]
                rem = get(k)
                if rem is None:
                    rem = int(stock[i])
                q = qty[i]
                if q <= rem:
                    rem -= q
                    fulfilled[i] = q
                else:
                    cancelled[i] = 1
                remaining[k] = rem
                stock_after[i] = rem
            out = pdf.copy()
            out["quantity"] = fulfilled.astype(np.int32)
            out["cancelled"] = cancelled.astype(np.int32)
            out["stock_after"] = stock_after
            yield out

    if input_partitioned:
        _disable_auto_bucketed_scan(requests)
        src = requests
    else:
        src = requests.repartition(*key_cols)
    out = src.sortWithinPartitions(*key_cols, *seq_cols).mapInPandas(
        _allocate, schema=out_schema
    )
    if input_partitioned:
        _assert_colocated_plan(out, key_cols)
    return out


_AUTO_BUCKETED_SCAN = "spark.sql.sources.bucketing.autoBucketedScan.enabled"


def _disable_auto_bucketed_scan(df: DataFrame) -> None:
    """``input_partitioned=True`` safety: Spark's
    ``DisableUnnecessaryBucketedScan`` rule (on by default via
    ``spark.sql.sources.bucketing.autoBucketedScan.enabled``) drops the
    bucketed scan when no operator in the plan declares a required hash
    distribution — and ``mapInPandas``/``sortWithinPartitions`` do not.
    A de-bucketed scan splits bucket files larger than
    ``spark.sql.files.maxPartitionBytes`` across tasks, splitting a key
    across partitions and silently corrupting the allocation at exactly
    the scale the flag targets. Planning is lazy (the decision is made
    at action time), so the conf must be off for the session before the
    first action on the returned frame — we flip it here and warn."""
    spark = df.sparkSession
    try:
        cur = spark.conf.get(_AUTO_BUCKETED_SCAN, "true")
    except Exception:  # pragma: no cover - conf surface differences
        cur = "true"
    if str(cur).lower() == "true":
        spark.conf.set(_AUTO_BUCKETED_SCAN, "false")
        warnings.warn(
            f"allocate(input_partitioned=True): set {_AUTO_BUCKETED_SCAN}="
            "false for this session — with it on, Spark may silently "
            "de-bucket the scan and split an allocation key across tasks. "
            "Call restore_auto_bucketed_scan(spark) once every "
            "input_partitioned frame has been fully consumed.",
            stacklevel=3,
        )


def restore_auto_bucketed_scan(df_or_spark) -> None:
    """Re-enable ``autoBucketedScan`` after bucketed-input allocation.

    There is no safe AUTOMATIC restore point: planning is lazy, Spark
    reads the conf at action time per query, and the operator cannot
    know when the last action on a frame it built has run. So the
    restore is an explicit user statement — "every frame built with
    ``input_partitioned=True`` in this session has been fully
    consumed" — after which other bucketed-table scans regain the
    de-bucket-for-parallelism optimization. Calling it while such a
    frame is still pending re-opens the key-split corruption window on
    that frame's next action; the build-time plan assert cannot catch
    it retroactively. Accepts a DataFrame or a SparkSession."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    spark.conf.set(_AUTO_BUCKETED_SCAN, "true")


#: Shuffle-exchange node header in ``explain("formatted")`` output:
#: ``(3) Exchange`` — and NOT ``(5) BroadcastExchange``, whose node name
#: starts with ``Broadcast``. A broadcast exchange redistributes the
#: *dimension*, not the fact rows, so it proves nothing about key
#: co-location; matching it let a mis-configured unbucketed fact table
#: slip past the guard whenever the plan also broadcast-joined a dim
#: (the candy pipeline always does).
_SHUFFLE_EXCHANGE_RE = re.compile(r"\(\d+\)\s+Exchange\b")


def _assert_colocated_plan(out: DataFrame, key_cols: Sequence[str]) -> None:
    """Best-effort layout-contract check for ``input_partitioned=True``:
    the physical plan must show EITHER a genuinely bucketed scan
    (``Bucketed: true``) or an upstream SHUFFLE Exchange (the caller's
    own repartition on the keys). BroadcastExchange does not count — it
    moves the small joined dimension, not the fact rows, so the keys can
    still span partitions. A plan with neither means every key can
    span partitions — exactly the silent-corruption case — so fail at
    build time instead. (A single-partition input is technically safe
    but still rejected: repartition it or drop the flag.) Best-effort
    because an unrelated shuffle on other columns also passes; the
    contract remains the caller's to honor."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    if not _SHUFFLE_EXCHANGE_RE.search(plan) and "Bucketed: true" not in plan:
        raise ValueError(
            "allocate(input_partitioned=True): the physical plan has no "
            f"Exchange and no bucketed scan on {list(key_cols)} — the "
            "input is not provably co-located per key, which would "
            "allocate each key from multiple independent stock counters. "
            "Read the facts from a write_bucketed_table table (with "
            f"{_AUTO_BUCKETED_SCAN}=false), repartition on the key "
            "columns upstream, or drop input_partitioned."
        )


def _numeric_seq(df: DataFrame, col: str):
    """Order-preserving numeric view of a sequence column for range
    bucketing: numeric passes through, date → days since epoch,
    timestamp → epoch seconds. Monotone in the column's own order, so
    range buckets stay contiguous. Other types (strings) have no cheap
    order-preserving numeric embedding — fail with a pointer instead of
    silently mis-bucketing."""
    dt = dict(df.dtypes)[col]
    c = F.col(col)
    if dt == "date":
        return F.unix_date(c).cast("double")
    if dt.startswith("timestamp"):
        return c.cast("double")
    if dt in ("string", "binary", "boolean") or dt.startswith(
        ("array", "map", "struct")
    ):
        raise ValueError(
            f"allocate_bucketed needs a numeric/date/timestamp leading "
            f"sequence column for range bucketing; {col!r} is {dt}. "
            "Put a numeric ordering column first in seq_cols."
        )
    return c.cast("double")


def allocate_bucketed(
    requests: DataFrame,
    *,
    key_col: str | Sequence[str],
    seq_cols: Sequence[str],
    qty_col: str,
    stock_col: str,
    n_buckets: int = 8,
) -> DataFrame:
    """Hot-key escape hatch for :func:`allocate_sequential`: identical
    results, but a single hot key no longer serializes one full pass
    through one task. Two exact phases:

    **Phase 1 (optimistic, parallel).** Each key's rows are split into
    ``n_buckets`` contiguous sequence runs (ntile); every bucket gets
    the OPTIMISTIC opening stock ``stock − cumsum(requested qty of
    earlier buckets)`` (i.e. assume every earlier line fulfilled).
    Buckets whose opening covers their whole requested qty cannot
    cancel, so they are evaluated as a pure window cumulative sum —
    JVM whole-stage codegen, no Python. Only buckets that might
    exhaust run the sequential allocator, in parallel on the composite
    (key, bucket) key.

    **Phase 2 (suffix repair).** Recompute each bucket's true opening
    from phase 1's actual consumption. Buckets 0..b*−1 — up to each
    key's FIRST divergent bucket — are provably final (induction:
    bucket 0's opening is exact; exact openings ⇒ exact consumption ⇒
    the next opening is exact). The remaining suffix is re-run as ONE
    sequential group seeded with the true opening at b*. If no bucket
    diverged (no cancellation before the last bucket — the common
    case), phase 2 is skipped entirely.

    Wall-clock: ~hot_rows/n_buckets when optimism holds, degrading
    gracefully toward the plain operator's serial time as the first
    cancellation moves earlier — which is a semantic lower bound, not
    an implementation artifact (allocation after a cancellation depends
    on every prior line). This is the documented 100 TB posture for an
    adversarially hot allocation key; for ordinary skew the plain
    operator's partition-level parallelism already suffices.
    """
    from pyspark.sql.window import Window

    key_cols = [key_col] if isinstance(key_col, str) else list(key_col)
    seq_cols = list(seq_cols)
    kb = [*key_cols, "_bkt"]
    out_cols = [*requests.columns, "quantity", "cancelled", "stock_after"]
    stock_l = F.col(stock_col).cast("long")

    # Buckets are RANGES of the leading sequence column, not ntile: a
    # per-key ntile window would re-serialize the hot key into one sort
    # task — the exact bottleneck this helper exists to avoid. Range
    # buckets need only a per-key min/max aggregate, are monotone in
    # sequence order (equal values share a bucket, so contiguity holds
    # under the full seq_cols order), and are balanced enough for any
    # roughly uniform sequence column (timestamps, ids).
    s0 = _numeric_seq(requests, seq_cols[0])
    rng = requests.groupBy(*key_cols).agg(
        F.min(s0).alias("_lo"), F.max(s0).alias("_hi")
    )
    span = F.col("_hi") - F.col("_lo")
    bkt = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.lit(n_buckets - 1),
            F.floor((s0 - F.col("_lo")) / span * n_buckets).cast("int"),
        )
    )
    bucketed = (
        requests.join(rng, key_cols)
        .withColumn("_bkt", bkt.cast("int"))
        .drop("_lo", "_hi")
        .localCheckpoint(eager=False)
    )

    # per-bucket requested qty; stock rides along (constant per key —
    # the same precondition allocate_sequential already has)
    wprior = (
        Window.partitionBy(*key_cols)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    opt = (
        bucketed.groupBy(*kb)
        .agg(
            F.sum(F.col(qty_col).cast("long")).alias("_bqty"),
            F.min(stock_l).alias("_stock"),
        )
        .select(
            *kb,
            "_bqty",
            "_stock",
            (
                F.col("_stock")
                - F.coalesce(F.sum("_bqty").over(wprior), F.lit(0).cast("long"))
            ).alias("_open"),
        )
        .localCheckpoint(eager=True)
    )

    # phase 1 — fast buckets: opening covers every request, so all lines
    # fulfil and the outputs are a pure cumulative sum (no Python)
    fast_b = opt.filter(F.col("_open") >= F.col("_bqty")).select(*kb, "_open")
    slow_b = opt.filter(F.col("_open") < F.col("_bqty")).select(*kb, "_open")
    wcum = (
        Window.partitionBy(*kb)
        .orderBy(*seq_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(qty_col).cast("long")).over(wcum)
    fast_out = bucketed.join(fast_b, kb).select(
        *requests.columns,
        "_bkt",
        F.col(qty_col).cast("int").alias("quantity"),
        F.lit(0).cast("int").alias("cancelled"),
        (F.col("_open") - cum).alias("stock_after"),
    )
    if slow_b.isEmpty():
        # nothing can cancel anywhere — the whole operator was one
        # declarative window pass (opt is tiny and checkpointed, so this
        # probe costs one local scan of it, no extra Spark job over rows)
        return fast_out.select(*out_cols)
    slow_out = (
        allocate_sequential(
            bucketed.join(slow_b, kb),
            key_col=kb,
            seq_cols=seq_cols,
            qty_col=qty_col,
            stock_col="_open",
        )
        .select(*requests.columns, "_bkt", "quantity", "cancelled", "stock_after")
        .localCheckpoint(eager=True)
    )

    # true per-bucket consumption (fast buckets consume their full _bqty
    # by construction — no row scan needed)
    consumed = (
        opt.join(slow_b.select(*kb), kb, "left_semi")
        .select(*kb)
        .join(
            slow_out.groupBy(*kb).agg(
                F.sum(F.col("quantity").cast("long")).alias("_used"),
                F.min(stock_l).alias("_stock"),
            ),
            kb,
        )
        .unionByName(
            opt.join(slow_b.select(*kb), kb, "left_anti").select(
                *kb, F.col("_bqty").alias("_used"), "_stock"
            )
        )
    )
    corrected = consumed.select(
        *kb,
        (
            F.col("_stock")
            - F.coalesce(F.sum("_used").over(wprior), F.lit(0).cast("long"))
        ).alias("_copen"),
    )
    b0 = (
        corrected.join(opt.select(*kb, "_open"), kb)
        .filter(F.col("_copen") != F.col("_open"))
        .groupBy(*key_cols)
        .agg(F.min("_bkt").alias("_b0"))
        .localCheckpoint(eager=True)
    )
    phase1 = fast_out.unionByName(slow_out)
    if b0.isEmpty():
        return phase1.select(*out_cols)

    # phase 2 — rerun each affected key's suffix (buckets >= b0) as one
    # sequential group seeded with the TRUE opening at b0
    open0 = (
        corrected.join(b0, key_cols)
        .filter(F.col("_bkt") == F.col("_b0"))
        .select(*key_cols, "_b0", F.col("_copen").alias("_open"))
    )
    suffix_out = allocate_sequential(
        bucketed.join(open0, key_cols).filter(F.col("_bkt") >= F.col("_b0")),
        key_col=key_cols,
        seq_cols=seq_cols,
        qty_col=qty_col,
        stock_col="_open",
    ).select(*out_cols)
    keep = (
        phase1.join(b0, key_cols, "left")
        .filter(F.col("_b0").isNull() | (F.col("_bkt") < F.col("_b0")))
        .select(*out_cols)
    )
    return keep.unionByName(suffix_out)


def allocate(
    requests: DataFrame,
    *,
    key_col: str | Sequence[str],
    seq_cols: Sequence[str],
    qty_col: str,
    stock_col: str,
    hot_row_threshold: int = 2_000_000,
    exhaust_hot_row_threshold: int = 10_000_000,
    n_buckets: int = 16,
    sample_fraction: float | None = None,
    input_partitioned: bool = False,
) -> DataFrame:
    """Strategy-dispatching front door for sequential allocation: probe
    the skew shape, then run :func:`allocate_sequential` (one shuffle +
    partition-sorted single pass — optimal for ordinary skew, where wall
    time is max(hot key serial time, rest/parallelism)) unless the
    hottest key is big enough that the bucketed escape
    :func:`allocate_bucketed` (contiguous sequence buckets in parallel +
    one-shot suffix repair) wins. Both produce identical results; only
    wall-clock differs.

    The crossover is NOT a single row count — it depends on whether the
    hot key can EXHAUST its stock. If total requested qty fits in the
    opening stock, no line can ever cancel, every bucket takes the pure
    window fast path and phase 2 is skipped, so bucketing pays off from
    ``hot_row_threshold`` rows (~2M on local[32] — SCALE_NOTES "hot-key
    A/B"). If the hot key CAN exhaust, the suffix repair re-runs a
    serial tail, so bucketing only wins above the much larger
    ``exhaust_hot_row_threshold`` (~10M; the 8M/75%-exhaust bench shape
    sits below it and sequential rightly wins there). Both facts come
    from ONE map-side-combinable probe aggregate — per-key row count,
    requested-qty sum, and stock — whose shuffle carries only distinct
    keys, the same order of work as the keyed shuffle the allocation
    itself is about to do. Re-measure the two constants with
    ``tools/hotkey_probe.py`` on other hardware.

    At extreme corpus scale pass ``sample_fraction`` (e.g. 0.001) to
    probe a Bernoulli sample instead of the full relation; the decision
    only needs order-of-magnitude accuracy because the strategies tie
    at the crossover by definition. An empty/undersized sample falls
    back to the sequential path — the right default for small inputs.

    ``input_partitioned`` forwards to :func:`allocate_sequential` (see
    its layout contract — enforced there): when the facts come from a
    key-bucketed table, the sequential path plans with zero Exchange.
    The bucketed hot-key escape ignores the flag — it re-shuffles by
    (key, sequence-bucket) by design, so input co-location neither
    helps nor hurts it.

    .. warning::
       ``input_partitioned=True`` disables
       ``spark.sql.sources.bucketing.autoBucketedScan.enabled`` for the
       WHOLE SparkSession (with a warning), and the conf stays off after
       this operator returns. Planning is lazy, so there is no safe
       point to restore it: the flag must still be off when an action
       finally runs this plan, and Spark reads it per-query, not
       per-operator. The cost is that *other* bucketed-table scans in
       the session lose the de-bucket-for-parallelism optimization
       (they stay one-task-per-bucket). Restore it manually once every
       frame built with ``input_partitioned=True`` has been fully
       consumed, or isolate allocation runs in their own session.
    """
    key_cols = [key_col] if isinstance(key_col, str) else list(key_col)
    probe = requests
    scale = 1.0
    if sample_fraction is not None:
        probe = requests.sample(fraction=sample_fraction, seed=7)
        scale = 1.0 / sample_fraction
    per_key = probe.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col(qty_col).cast("long")).alias("_q"),
        F.min(F.col(stock_col).cast("long")).alias("_s"),
    )
    row = (
        per_key.orderBy(F.col("_n").desc())
        .limit(1)
        .collect()
    )
    kwargs = dict(
        key_col=key_cols, seq_cols=seq_cols, qty_col=qty_col, stock_col=stock_col
    )
    if not row:
        return allocate_sequential(
            requests, input_partitioned=input_partitioned, **kwargs
        )
    hot_rows = row[0]["_n"] * scale
    # sampled qty sums scale up; stock is constant per key, never scaled
    hot_can_exhaust = row[0]["_q"] * scale > row[0]["_s"]
    threshold = exhaust_hot_row_threshold if hot_can_exhaust else hot_row_threshold
    if hot_rows >= threshold:
        return allocate_bucketed(requests, n_buckets=n_buckets, **kwargs)
    return allocate_sequential(
        requests, input_partitioned=input_partitioned, **kwargs
    )


def allocate_windowed(
    requests: DataFrame,
    *,
    key_col: str,
    seq_cols: Sequence[str],
    qty_col: str,
    stock_col: str,
) -> DataFrame:
    """W2 — the *approximate* allocation as a pure window cumulative sum.

    No cancellation feedback: a line is fulfilled iff the running total of
    ALL requested qty so far (fulfilled or not) fits in the opening stock.
    Fully declarative (single window, whole-stage codegen, no Python), and
    exactly right until the first cancellation per key — useful as the
    cheap first pass and as the documented contrast to
    :func:`allocate_sequential` (SURVEY §4.3).
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy(*seq_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(qty_col).cast("long")).over(w)
    fulfilled = cum <= F.col(stock_col).cast("long")
    return requests.select(
        "*",
        F.when(fulfilled, F.col(qty_col).cast("int")).otherwise(F.lit(0)).alias("quantity"),
        F.when(fulfilled, F.lit(0)).otherwise(F.lit(1)).alias("cancelled"),
        F.greatest(
            F.col(stock_col).cast("long") - cum, F.lit(0).cast("long")
        ).alias("stock_after"),
    )


def allocate_python_oracle(
    rows: list[dict],
    *,
    key: str,
    seq: Sequence[str],
    qty: str,
    stock: str,
) -> list[dict]:
    """Tiny driver-side simulator used ONLY by tests as an independent
    oracle for :func:`allocate_sequential` (mirrors the reference loop
    semantics at src/data_processor.py:427-440 without any Spark)."""
    out = []
    remaining: dict = {}
    for r in sorted(rows, key=lambda r: tuple(r[c] for c in seq)):
        k = r[key]
        if k not in remaining:
            remaining[k] = int(r[stock])
        q = int(r[qty])
        rec = dict(r)
        if q <= remaining[k]:
            remaining[k] -= q
            rec["quantity"], rec["cancelled"] = q, 0
        else:
            rec["quantity"], rec["cancelled"] = 0, 1
        rec["stock_after"] = remaining[k]
        out.append(rec)
    return out
