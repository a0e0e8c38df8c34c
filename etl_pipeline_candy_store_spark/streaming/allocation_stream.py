"""Streaming ST1/ST2 — the reference's per-day micro-batching
(src/data_processor.py:340-355) generalized to Structured Streaming.

The batch pipeline treats each day as a closed collection; here the same
semantics run incrementally: transactions arrive on a stream, items are
exploded and validated with the SAME declarative fragment, and inventory
state lives in Spark's state store keyed by product_id
(``applyInPandasWithState``) instead of a driver dict
(src/data_processor.py:34-50). Stock carries across micro-batches exactly
like the reference carries it across days (no reset; ST3 reload is a
state-clear policy).

Ordering caveat (same as the reference's Mongo natural order): streaming
guarantees per-key sequential state updates per micro-batch; rows are
sorted by the seq columns *within* each batch. Cross-batch order follows
batch arrival — byte-parity with the batch operator therefore holds when
batches align with days (the reference's own granularity).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_pipeline_candy_store_spark.operators.ledger import local_frame

ALLOC_STREAM_OUTPUT = StructType(
    [
        StructField("product_id", IntegerType(), False),
        StructField("order_id", LongType(), False),
        StructField("customer_id", IntegerType(), True),
        StructField("order_datetime", StringType(), True),
        StructField("business_date", DateType(), True),
        StructField("item_pos", IntegerType(), True),
        StructField("unit_price", DoubleType(), True),
        StructField("unit_cost", DoubleType(), True),
        StructField("requested_qty", IntegerType(), False),
        StructField("quantity", IntegerType(), False),
        StructField("cancelled", IntegerType(), False),
        StructField("stock_after", LongType(), False),
    ]
)

# context columns passed through the stateful operator untouched — they
# let a downstream batch stage derive the full output tables (orders,
# daily summary, products_updated) from the sunk allocation lines
_PASSTHROUGH = [
    "customer_id",
    "business_date",
    "item_pos",
    "unit_price",
    "unit_cost",
]

_STATE_SCHEMA = StructType([StructField("remaining", LongType(), False)])


def allocate_stream(
    item_stream: DataFrame,
    *,
    seq_cols: Sequence[str] = ("business_date", "file_seq", "item_pos"),
) -> DataFrame:
    """Stateful streaming allocation keyed by product_id.

    ``item_stream`` must carry: product_id, order_id, order_datetime,
    requested_qty, opening_stock, plus the seq columns. State init:
    first-seen opening_stock per key; transition: the greedy ST1 rule.
    """
    seq_cols = list(seq_cols)

    def _update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(seq_cols, kind="mergesort").reset_index(drop=True)
        if state.exists:
            (remaining,) = state.get
        else:
            remaining = int(pdf["opening_stock"].iloc[0])
        passthrough = [c for c in _PASSTHROUGH if c in pdf.columns]
        out = {
            "product_id": [], "order_id": [], "order_datetime": [],
            "requested_qty": [], "quantity": [], "cancelled": [], "stock_after": [],
        }
        for row in pdf.itertuples(index=False):
            q = int(row.requested_qty)
            if q <= remaining:
                remaining -= q
                qty, canc = q, 0
            else:
                qty, canc = 0, 1
            out["product_id"].append(key[0])
            out["order_id"].append(row.order_id)
            out["order_datetime"].append(row.order_datetime)
            out["requested_qty"].append(q)
            out["quantity"].append(qty)
            out["cancelled"].append(canc)
            out["stock_after"].append(remaining)
        state.update((remaining,))
        res = pd.DataFrame(out)
        for c in passthrough:  # context rides along, post-sort order
            res[c] = pdf[c].to_numpy()
        for c in _PASSTHROUGH:
            if c not in res.columns:
                res[c] = None
        yield res[[f.name for f in ALLOC_STREAM_OUTPUT.fields]]

    return item_stream.groupBy("product_id").applyInPandasWithState(
        _update,
        outputStructType=ALLOC_STREAM_OUTPUT,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_daily_summary(
    event_stream: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 day",
    window: str = "1 day",
) -> DataFrame:
    """ST2/A2 streaming: tumbling-window daily rollup with a watermark for
    late data — the declarative replacement for the reference's one-
    collection-per-day loop. Works on any event stream with a timestamp."""
    return (
        event_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col)).alias("value_sum"),
        )
        .select(
            F.col("win.start").cast("date").alias("date"),
            "n_events",
            "value_sum",
        )
    )


def stream_dedup_events(
    event_stream: DataFrame,
    *,
    key_cols: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within
    the watermark horizon (``dropDuplicatesWithinWatermark``) — the
    exactly-once ingestion front of a streaming training-data pipeline,
    where at-least-once sources (Kafka, file drops, retried crawls)
    re-emit events.

    Scale posture: state is one entry per key seen inside the horizon,
    partitioned by key across executors, and — unlike a plain
    ``dropDuplicates`` on a stream — the watermark EVICTS state, so
    memory is bounded by arrival rate x horizon instead of growing with
    the whole stream's key cardinality forever.
    """
    return event_stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def stream_session_rollup(
    event_stream: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "v",
    gap: str = "30 minutes",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming sessionization: ``session_window`` merges events closer
    than ``gap`` into one session per key; the watermark closes (and
    emits) a session once no in-horizon event can extend it — the
    incremental counterpart of the batch gap-based sessionize (q34).

    Scale posture: state is one open session per active key (merged
    in-place by the state store), partitioned by key; the watermark
    bounds both state size and result latency.
    """
    return (
        event_stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(key_col),
            F.session_window(F.col(ts_col), gap).alias("win"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col)).alias("value_sum"),
        )
        .select(
            key_col,
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def stream_hll_daily_distinct(
    event_stream: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "1 day",
    window: str = "1 day",
) -> DataFrame:
    """Streaming per-window distinct-count estimate with mergeable HLL
    state: each window's state is the fixed 256-register sketch (one
    conditional ``max(rank)`` per register inside a SINGLE windowed
    aggregation — register merge is max, so micro-batch updates compose
    associatively), and the estimate is a pure projection over the
    registers. Produces bit-identical estimates to the batch
    ``hll_distinct`` (q37) on the same data — same hash, same registers,
    same integer-scaled harmonic sum.

    Scale posture: state per window is 256 small integers regardless of
    cardinality — the property that makes distinct-counting viable on an
    unbounded stream; a plain streaming count-distinct would keep one
    state entry per key forever.
    """
    from etl_pipeline_candy_store_spark.operators.sketch import (
        _ALPHA,
        _M,
        _SCALE,
        _SMALL_RANGE,
        hll_project,
    )

    reg = hll_project(
        event_stream.withWatermark(ts_col, watermark), F.col(key_col), keep=[ts_col]
    )
    per_win = reg.groupBy(F.window(F.col(ts_col), window).alias("win")).agg(
        *[
            F.max(F.when(F.col("bucket") == i, F.col("rank"))).alias(f"r{i}")
            for i in range(_M)
        ]
    )
    # harmonic sum over all 256 registers; an absent register has rank 0
    # and contributes the full _SCALE — identical arithmetic to the batch
    # estimator's present/absent split, INCLUDING the small-range
    # linear-counting switch (raw <= 2.5m with empty registers left).
    # The 256-term sums are projected ONCE into intermediate columns:
    # inlining them into every branch of the final CASE would put ~1000
    # sub-expressions in one projection and break past codegen limits.
    sum_scaled = " + ".join(
        f"CAST({_SCALE} / power(2, coalesce(r{i}, 0)) AS BIGINT)" for i in range(_M)
    )
    n_empty = " + ".join(
        f"CASE WHEN r{i} IS NULL THEN 1 ELSE 0 END" for i in range(_M)
    )
    folded = per_win.select(
        F.col("win.start").cast("date").alias("date"),
        F.expr(
            f"CAST(floor({_ALPHA * _M * _M * float(_SCALE)!r} / ({sum_scaled}))"
            " AS BIGINT)"
        ).alias("raw"),
        F.expr(n_empty).alias("n_empty"),
    )
    small = (
        f"CAST(floor({float(_M)!r}"
        f" * ln({float(_M)!r} / CAST(n_empty AS DOUBLE))) AS BIGINT)"
    )
    return folded.select(
        "date",
        F.expr(
            f"CASE WHEN raw <= {_SMALL_RANGE} AND n_empty > 0"
            f" THEN {small} ELSE raw END"
        ).alias("distinct_estimate"),
    )


def stream_rolling_actives(
    event_stream: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lateness_days: int = 1,
    days: int = 7,
) -> DataFrame:
    """Streaming trailing-N-day distinct actives — the incremental
    counterpart of the batch rolling WAU (q108). Exact (not sketched):
    each event fans out row-locally to the ``days`` report days it can
    influence, ``dropDuplicatesWithinWatermark`` keeps ONE row per
    (user, report day) — rolling DISTINCT cannot fold from daily
    counts, so the dedup must key on the (user, window) pair — and a
    plain count per report day finishes it. Chained stateful operators
    (dedup then agg), supported since Spark 3.5.

    The watermark delay is ``days + lateness_days`` days, NOT the
    lateness alone: two events (user, day X) and (user, day Y) produce
    duplicate (user, report day) rows whenever |X - Y| < days, so the
    dedup contract (state must outlive the max event-time spread among
    duplicates) needs the full window span plus the out-of-order
    allowance. A shorter delay silently double-counts users whose
    events straddle an evicted key.

    Scale posture: the fan-out is a bounded x``days`` row-local
    transform (no join, no rescan); dedup state is one entry per
    (user, report day) inside the ``days + lateness_days`` horizon and
    is EVICTED at the horizon; the count's grouping key is calendar
    days — trivially small forever. Use update/complete output: a
    report day keeps refining until its last contributing event passes
    the watermark.
    """
    horizon = f"{days + lateness_days} days"
    fan = event_stream.withWatermark(ts_col, horizon).select(
        F.col(user_col),
        F.col(ts_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, {days - 1}),"
                f" k -> date_add(cast({ts_col} as date), k))"
            )
        ).alias("day_end"),
    )
    dedup = fan.dropDuplicatesWithinWatermark([user_col, "day_end"])
    return dedup.groupBy("day_end").agg(
        F.count(F.lit(1)).alias(f"active_{days}d")
    )


_TRANSITION_OUTPUT = "user_id BIGINT, from_type STRING, to_type STRING"
_TRANSITION_STATE = "last_ts_us BIGINT, last_event_id BIGINT, last_type STRING"


def stream_event_transitions(event_stream: DataFrame) -> DataFrame:
    """Stateful streaming counterpart of the q105 transition matrix:
    per user, every consecutive event pair (ordered by ts, tie-broken
    by event_id) is emitted incrementally; the carried state is ONE
    tuple per user — the last event seen — so unbounded streams cost
    O(users) memory regardless of history length. Returns the raw
    (user_id, from_type, to_type) pair stream; count it per pair key
    downstream (or in batch after sinking) for the matrix.

    Equivalence contract: identical to batch q105 when micro-batches
    arrive in event-time order per user (the per-day/per-file ingestion
    this engine uses); within a batch rows are sorted by (ts, event_id)
    before pairing, and the cross-batch seam uses the stored last
    event. Custom pairing logic is exactly the applyInPandasWithState
    niche: LEAD windows cannot run on an unbounded stream.
    """

    def _update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf["_us"] = pdf["ts"].astype("int64")  # epoch micros for exact order
        pdf = pdf.sort_values(["_us", "event_id"], kind="mergesort").reset_index(
            drop=True
        )
        if state.exists:
            _last_us, _last_eid, last_type = state.get
        else:
            last_type = None
        froms, tos = [], []
        for row in pdf.itertuples(index=False):
            if last_type is not None:
                froms.append(last_type)
                tos.append(row.event_type)
            last_type = row.event_type
        tail = pdf.iloc[-1]
        state.update((int(tail["_us"]), int(tail["event_id"]), str(last_type)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(froms),
                "from_type": froms,
                "to_type": tos,
            }
        )

    return event_stream.select(
        "user_id", "ts", "event_id", "event_type"
    ).groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=_TRANSITION_OUTPUT,
        stateStructType=_TRANSITION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_count_min_cells(
    event_stream: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    watermark: str = "1 day",
    window: str = "1 day",
) -> DataFrame:
    """Streaming per-window Count-Min sketch build: the window's state is
    the fixed d x w counter grid (cell increments are counts, so
    micro-batch updates compose associatively inside ONE windowed
    aggregation — the same mergeability argument as the HLL rollup
    above). Emits (date, j, col, cnt) cells bit-identical to a batch
    build over the same events; frequency estimation is then a lookup
    (min over the d cells a key hashes to), exactly as batch q86.

    Scale posture: state per window is <= d*w cells (2048 here)
    regardless of key cardinality or event volume — heavy-hitter
    tracking on an unbounded stream with bounded memory.
    """
    from etl_pipeline_candy_store_spark.operators.sketch import _CMS_D, _cms_col

    keyed = event_stream.withWatermark(ts_col, watermark).select(
        ts_col, F.md5(F.col(key_col).cast("binary")).alias("h")
    )
    cells = keyed.select(
        ts_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), F.expr(_cms_col("h", j)).alias("col")
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("s"),
    )
    return (
        cells.groupBy(
            F.window(F.col(ts_col), window).alias("win"), "s.j", "s.col"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win.start").cast("date").alias("date"), "j", "col", "cnt"
        )
    )


def stream_value_histogram(
    event_stream: DataFrame,
    *,
    value_col: str = "value",
    ts_col: str = "ts",
    lo: float = 0.0,
    hi: float = 1000.0,
    bins: int = 256,
    watermark: str = "1 day",
    window: str = "1 day",
) -> DataFrame:
    """Streaming per-window value histogram over FIXED bin edges — the
    third mergeable-sketch member beside the HLL and Count-Min rollups:
    bin counts merge additively across micro-batches inside one windowed
    aggregation, so state per window is <= ``bins`` cells regardless of
    volume. Quantiles come from :func:`histogram_quantiles` over the
    emitted cells. (Batch q88 derives its edges from the global min/max
    — a second pass a stream cannot make; fixed domain edges are the
    price of single-pass mergeability, and out-of-range values clamp to
    the edge bins, visible as mass in bin 0 / bins-1.) NULL values are
    excluded before binning — floor(NULL) is NULL but greatest(0, NULL)
    = 0, which would silently misfile NULL rows into bin 0, inflating
    low-edge mass that batch q88 (edges from real min/max over non-NULL
    values) would never count."""
    width = (hi - lo) / bins
    bin_col = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int"),
        ),
    )
    return (
        event_stream.withWatermark(ts_col, watermark)
        .filter(F.col(value_col).isNotNull())
        .select(ts_col, bin_col.alias("bin"))
        .groupBy(F.window(F.col(ts_col), window).alias("win"), "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").cast("date").alias("date"), "bin", "cnt")
    )


def histogram_quantiles(
    cells: DataFrame,
    *,
    pcts: tuple = (25, 50, 75, 90, 99),
    lo: float = 0.0,
    hi: float = 1000.0,
    bins: int = 256,
) -> DataFrame:
    """Fold (date, bin, cnt) histogram cells into per-date quantile
    upper-edge estimates — runs on the <= ``bins``-row-per-date cell
    table, never on raw data (same two-level shape as batch q88)."""
    from pyspark.sql.window import Window

    width = (hi - lo) / bins
    w_cum = (
        Window.partitionBy("date").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.select(
        "date", "bin", "cnt", F.sum("cnt").over(w_cum).alias("cum")
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy("date")))
    p = local_frame(cells.sparkSession, [(x,) for x in pcts], "p int")
    hit = (
        cum.crossJoin(F.broadcast(p))
        .filter(F.col("cum") * 100 >= F.col("n") * F.col("p"))
        .groupBy("date", "p")
        .agg(F.min("bin").alias("bin"))
    )
    return hit.select(
        "date",
        "p",
        "bin",
        (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias("est_upper"),
    )


def stream_hopping_traffic(
    event_stream: DataFrame,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    duration: str = "60 minutes",
    slide: str = "30 minutes",
) -> DataFrame:
    """Hopping-window traffic rollup — the streaming twin of the batch
    q168 (operators/timeseries.py): every event lands in duration/slide
    overlapping windows via the same row-local expansion, then ONE
    window-keyed stateful aggregate. State per key is two counters and
    the watermark closes windows duration+watermark behind the front.
    (No distinct-user column here: countDistinct needs unbounded per-
    window sets, which streaming aggregation rightly refuses — the
    streaming-safe cardinality path is the rolling HLL sketch,
    stream_rolling_hll.)"""
    return (
        event_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), duration, slide).alias("win"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum((F.col("event_type") == "purchase").cast("long"))
            .cast("long")
            .alias("n_purchases"),
        )
        .select(
            F.col("win.start").alias("win_start"), "n_events", "n_purchases"
        )
    )
