"""End-to-end pipeline tests on generated fixtures (FIXTURES.md edge
cases: null qty, unknown products, all-null transactions, empty day,
stock exhaustion, comma-grouped money strings)."""

from __future__ import annotations

import csv
import json
import os

import pytest
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.plans.candy_pipeline import (
    CandyConfig,
    CandyPipeline,
)
from tests.candy_fixtures import write_fixture


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("candy"))
    write_fixture(root)
    return root


@pytest.fixture(scope="module")
def pipeline(spark, fixture_dir):
    import glob

    return CandyPipeline(
        spark,
        CandyConfig(
            products_csv=os.path.join(fixture_dir, "products.csv"),
            customers_csv=os.path.join(fixture_dir, "customers.csv"),
            transactions_paths=sorted(
                glob.glob(os.path.join(fixture_dir, "transactions_*.json"))
            ),
            output_dir=os.path.join(fixture_dir, "output"),
        ),
    )


def _load_raw(fixture_dir):
    txns = []
    import glob

    for p in sorted(glob.glob(os.path.join(fixture_dir, "transactions_*.json"))):
        with open(p) as f:
            txns.extend(json.load(f))
    return txns


def test_validation_drops(pipeline, fixture_dir):
    """P3 (null qty) and P4 (unknown product) drop items, nothing else."""
    lines = pipeline.allocated_lines()
    raw = _load_raw(fixture_dir)
    valid_items = sum(
        1
        for t in raw
        for it in t["items"]
        if it["qty"] is not None and it["product_id"] != 999
    )
    assert lines.count() == valid_items
    assert lines.filter(F.col("product_id") == 999).count() == 0


def test_skip_empty_orders_semantics(pipeline, spark, fixture_dir):
    raw = _load_raw(fixture_dir)
    n_tx = len(raw)
    n_empty = sum(
        1
        for t in raw
        if all(it["qty"] is None or it["product_id"] == 999 for it in t["items"])
    )
    assert n_empty > 0, "fixture must contain all-null transactions"
    golden_orders = pipeline.order_aggregates()
    assert golden_orders.count() == n_tx - n_empty
    head_cfg = CandyConfig(
        **{**pipeline.config.__dict__, "skip_empty_orders": False}
    )
    head_orders = CandyPipeline(spark, head_cfg).order_aggregates()
    assert head_orders.count() == n_tx
    assert head_orders.filter(F.col("num_items") == 0).count() >= n_empty


def test_allocation_matches_python_simulator(pipeline, fixture_dir):
    """Full-pipeline oracle: re-simulate the reference loop in plain
    Python over the raw JSON and compare every line's allocation."""
    raw = _load_raw(fixture_dir)
    products = {}
    with open(os.path.join(fixture_dir, "products.csv")) as f:
        for row in csv.DictReader(f):
            products[int(row["product_id"])] = {
                "price": float(row["sales_price"]),
                "stock": int(row["stock"]),
            }
    remaining = {pid: p["stock"] for pid, p in products.items()}
    expected = {}
    for t in sorted(raw, key=lambda t: t["timestamp"][:10]):
        for pos, it in enumerate(t["items"]):
            if it["qty"] is None or it["product_id"] not in products:
                continue
            pid, q = it["product_id"], int(it["qty"])
            if q <= remaining[pid]:
                remaining[pid] -= q
                expected[(t["transaction_id"], pos)] = q
            else:
                expected[(t["transaction_id"], pos)] = 0
    got = {
        (r["order_id"], r["item_pos"]): r["quantity"]
        for r in pipeline.allocated_lines().collect()
    }
    assert got == expected
    # stock exhaustion actually happened (fixture design guarantee)
    assert any(v == 0 for v in got.values())


def test_empty_day_gap_no_crash(pipeline):
    """Reference crashes on a zero-transaction day
    (src/data_processor.py:477-479); the engine just has no rows for it."""
    summary = pipeline.daily_summary().collect()
    dates = [str(r["date"]) for r in summary]
    assert "2024-03-03" not in dates
    assert len(dates) == 4


def test_daily_summary_schema_and_values(pipeline):
    summary = pipeline.daily_summary()
    assert [f.name for f in summary.schema.fields] == [
        "date", "num_orders", "total_sales", "total_profit",
    ]
    rows = summary.collect()
    assert all(r["total_sales"] >= r["total_profit"] > 0 for r in rows)
    # totals equal the order-level sums rounded half-even
    orders = pipeline.order_aggregates().collect()
    by_day = {}
    for r in orders:
        d = by_day.setdefault(r["business_date"], [0.0, 0])
        d[0] += r["total_amount"]
        d[1] += 1
    for r in rows:
        assert r["num_orders"] == by_day[r["date"]][1]
        assert abs(r["total_sales"] - round(by_day[r["date"]][0], 2)) < 0.011


def test_products_updated_conservation(pipeline, fixture_dir):
    got = {
        r["product_id"]: r["current_stock"]
        for r in pipeline.products_updated().collect()
    }
    fulfilled = {
        r["product_id"]: r["s"]
        for r in pipeline.allocated_lines()
        .groupBy("product_id")
        .agg(F.sum("quantity").alias("s"))
        .collect()
    }
    with open(os.path.join(fixture_dir, "products.csv")) as f:
        for row in csv.DictReader(f):
            pid = int(row["product_id"])
            assert got[pid] == int(row["stock"]) - fulfilled.get(pid, 0)


def test_money_formatting_parity(pipeline):
    """format_number strings: 2 decimals, comma thousands separators
    (the fixture's 999.99 product forces >1,000 totals)."""
    orders = pipeline.orders_output().collect()
    assert all("." in r["total_amount"] for r in orders)
    assert any("," in r["total_amount"] for r in orders), "need a >1,000 total"
    big = next(r for r in orders if "," in r["total_amount"])
    assert big["total_amount"].split(".")[1].__len__() == 2
    lines = pipeline.order_line_items_output().collect()
    assert all(r["line_total"] == "0.00" for r in lines if r["quantity"] == 0)


def test_save_outputs_single_files(pipeline):
    paths = pipeline.save_outputs()
    assert set(paths) == {
        "orders", "order_line_items", "daily_summary",
        "products_updated", "sales_profit_forecast",
    }
    for name, p in paths.items():
        assert os.path.isfile(p), p
        with open(p) as f:
            header = f.readline().strip()
        assert "," in header
    with open(paths["orders"]) as f:
        rows = list(csv.DictReader(f))
    ids = [int(r["order_id"]) for r in rows]
    assert ids == sorted(ids)


def test_save_outputs_spine_width(spark, pipeline):
    """The cached spine is sized by AQE, not by
    ``spark.sql.shuffle.partitions``: the allocation's MapInPandas and
    every stage that reads the cache run at most defaultParallelism
    tasks, because each Python task has a fixed cost."""
    sc = spark.sparkContext
    group = "save-outputs-width"
    sc.setJobGroup(group, "spine width")
    try:
        pipeline.save_outputs()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store, tracker = jsc.statusStore(), sc.statusTracker()
    widths = []
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            if str(store.lastStageAttempt(sid).status()) != "COMPLETE":
                continue
            todo = [store.operationGraphForStage(sid).rootCluster()]
            while todo:
                cluster = todo.pop()
                if cluster.name().startswith("MapInPandas"):
                    widths.append(tracker.getStageInfo(sid).numTasks)
                    break
                kids = cluster.childClusters()
                todo.extend(kids.apply(i) for i in range(kids.size()))
    assert widths, "no MapInPandas stage ran"
    assert max(widths) <= sc.defaultParallelism, widths


def test_forecast_deterministic(pipeline):
    a = pipeline.forecast().collect()
    b = pipeline.forecast().collect()
    assert a == b
    assert len(a) == 1
    row = a[0]
    assert row["forecasted_sales"] is not None
    assert row["forecasted_profit"] is not None
    # anchored at last business date + 1, not at run date
    assert str(row["date"]) == "2024-03-06"


def test_reload_daily_products_updated(spark, fixture_dir):
    """Under reload_inventory_daily, current_stock reports the LAST day's
    closing stock (fresh each morning), never less than the non-reload
    final stock."""
    import glob

    cfg = CandyConfig(
        products_csv=os.path.join(fixture_dir, "products.csv"),
        customers_csv=os.path.join(fixture_dir, "customers.csv"),
        transactions_paths=sorted(
            glob.glob(os.path.join(fixture_dir, "transactions_*.json"))
        ),
        output_dir=os.path.join(fixture_dir, "out_reload"),
        reload_inventory_daily=True,
    )
    pipe = CandyPipeline(spark, cfg)
    got = {r["product_id"]: r["current_stock"] for r in pipe.products_updated().collect()}
    # independently: last day's fulfilled per product against opening stock
    lines = pipe.allocated_lines()
    from pyspark.sql import functions as F

    last_day = lines.agg(F.max("business_date")).collect()[0][0]
    lastday_fulfilled = {
        r["product_id"]: r["s"]
        for r in lines.filter(F.col("business_date") == last_day)
        .groupBy("product_id")
        .agg(F.sum("quantity").alias("s"))
        .collect()
    }
    with open(os.path.join(fixture_dir, "products.csv")) as f:
        for row in csv.DictReader(f):
            pid = int(row["product_id"])
            want = int(row["stock"]) - lastday_fulfilled.get(pid, 0)
            assert got[pid] == want, (pid, got[pid], want)


def test_forecast_metrics_exposed(spark, pipeline):
    """TS3: in-sample MAE/MSE travel with the long-format forecast."""
    from etl_pipeline_candy_store_spark.plans.forecast import forecast_metrics

    long_df = pipeline.daily_summary().select(
        "date",
        F.expr(
            "stack(2, 'sales', CAST(total_sales AS DOUBLE),"
            " 'profit', CAST(total_profit AS DOUBLE)) AS (metric, value)"
        ),
    )
    rows = forecast_metrics(long_df, periods=2).collect()
    assert len(rows) == 4  # 2 metrics x 2 steps
    assert all(r["mae"] >= 0 and r["mse"] >= 0 for r in rows)
    assert {r["metric"] for r in rows} == {"sales", "profit"}


def test_customer_enrichment_join(spark, fixture_dir):
    """J2 (declared-never-implemented in the reference) actually works:
    orders carry customer name/email via broadcast left join."""
    import glob

    cfg = CandyConfig(
        products_csv=os.path.join(fixture_dir, "products.csv"),
        customers_csv=os.path.join(fixture_dir, "customers.csv"),
        transactions_paths=sorted(
            glob.glob(os.path.join(fixture_dir, "transactions_*.json"))
        ),
        output_dir=os.path.join(fixture_dir, "out_enriched"),
        enrich_customers=True,
    )
    orders = CandyPipeline(spark, cfg).orders_output().collect()
    assert orders
    assert all(r["customer_name"] and "@" in r["email"] for r in orders)
    r = next(r for r in orders if r["customer_id"] == 3)
    assert r["customer_name"] == "First3 Last3"


def test_allocation_strategy_dispatch_choice(spark, fixture_dir, monkeypatch):
    """The flagship spine routes through the skew-aware dispatcher:
    default thresholds pick the sequential pass on this small fixture;
    forced-low thresholds route the same config to the bucketed escape;
    results are identical either way."""
    from etl_pipeline_candy_store_spark.operators import allocation as alloc_mod
    from etl_pipeline_candy_store_spark.plans import candy_pipeline as cp_mod

    calls = []
    real_seq, real_bkt = alloc_mod.allocate_sequential, alloc_mod.allocate_bucketed
    monkeypatch.setattr(
        alloc_mod,
        "allocate_sequential",
        lambda *a, **k: calls.append("seq") or real_seq(*a, **k),
    )
    monkeypatch.setattr(
        alloc_mod,
        "allocate_bucketed",
        lambda *a, **k: calls.append("bkt") or real_bkt(*a, **k),
    )
    import glob

    base = dict(
        products_csv=os.path.join(fixture_dir, "products.csv"),
        customers_csv=os.path.join(fixture_dir, "customers.csv"),
        transactions_paths=sorted(
            glob.glob(os.path.join(fixture_dir, "transactions_*.json"))
        ),
    )
    seq_rows = sorted(
        map(
            tuple,
            CandyPipeline(spark, CandyConfig(**base))
            .allocated_lines()
            .collect(),
        )
    )
    assert calls and calls[0] == "seq"  # small fixture: sequential wins

    calls.clear()
    hot_cfg = CandyConfig(
        **base,
        allocation_options={
            "hot_row_threshold": 5,
            "exhaust_hot_row_threshold": 5,
            "n_buckets": 4,
        },
    )
    hot_rows = sorted(
        map(tuple, CandyPipeline(spark, hot_cfg).allocated_lines().collect())
    )
    assert calls and calls[0] == "bkt"  # skew thresholds crossed
    assert hot_rows == seq_rows  # strategy changes wall-clock, not results


def test_allocation_strategy_forced_and_invalid(spark, fixture_dir, pipeline):
    import glob

    base = dict(
        products_csv=os.path.join(fixture_dir, "products.csv"),
        customers_csv=os.path.join(fixture_dir, "customers.csv"),
        transactions_paths=sorted(
            glob.glob(os.path.join(fixture_dir, "transactions_*.json"))
        ),
    )
    auto = sorted(map(tuple, pipeline.allocated_lines().collect()))
    forced_seq = CandyConfig(**base, allocation_strategy="sequential")
    forced_bkt = CandyConfig(
        **base, allocation_strategy="bucketed", allocation_options={"n_buckets": 4}
    )
    assert (
        sorted(
            map(
                tuple,
                CandyPipeline(spark, forced_seq).allocated_lines().collect(),
            )
        )
        == auto
    )
    assert (
        sorted(
            map(
                tuple,
                CandyPipeline(spark, forced_bkt).allocated_lines().collect(),
            )
        )
        == auto
    )
    bad = CandyConfig(**base, allocation_strategy="nope")
    with pytest.raises(ValueError, match="allocation_strategy"):
        CandyPipeline(spark, bad).allocated_lines()


def test_save_outputs_repeat_compiles_nothing(spark, pipeline):
    """A repeated ``save_outputs()`` finds every generated class it needs
    in Spark's codegen cache: the session sizes the cache above one
    pass's working set, so nothing is evicted and recompiled."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    pipeline.save_outputs()
    before = compiles.getCount()
    pipeline.save_outputs()
    assert compiles.getCount() - before == 0
