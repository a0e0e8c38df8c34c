"""Pure-Python oracle of the candy pipeline: the reference's driver loop
(validate each item, allocate it against the running stock in day,
file and item order) and the five output tables derived from it, plus
the comparison against the CSV files the pipeline writes.

Money is summed in ``Decimal``: every price, cost and quantity is a
whole number of cents, so the exact totals are whole cents and the
pipeline's double sums round to the same strings.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
from collections import OrderedDict
from decimal import Decimal

OUTPUTS = (
    "orders",
    "order_line_items",
    "daily_summary",
    "products_updated",
    "sales_profit_forecast",
)
#: the forecast is a float least-squares fit that the pipeline rounds
#: to cents; the oracle compares its unrounded fit within a cent
FORECAST_TOLERANCE = 0.01


def _money(x: Decimal) -> str:
    return f"{x:,.2f}"


def load_products(path: str) -> dict[int, dict]:
    with open(path, newline="") as f:
        return {
            int(r["product_id"]): {
                "name": r["product_name"],
                "price": Decimal(r["sales_price"]),
                "cost": Decimal(r["cost_to_make"]),
                "stock": int(r["stock"]),
            }
            for r in csv.DictReader(f)
        }


def allocate(products: dict[int, dict], day_files: list[str]) -> tuple[list[dict], dict]:
    """The reference loop over the day files in order. Returns the
    allocated lines and the validation counters."""
    remaining = {pid: p["stock"] for pid, p in products.items()}
    lines = []
    counts = {"null_qty": 0, "unknown_product": 0, "cancelled": 0, "lines": 0}
    for path in day_files:
        with open(path) as f:
            txns = json.load(f)
        for t in txns:
            for item in t["items"] or []:
                qty, pid = item["qty"], item["product_id"]
                if qty is None:
                    counts["null_qty"] += 1
                    continue
                if pid not in products:
                    counts["unknown_product"] += 1
                    continue
                if qty <= remaining[pid]:
                    remaining[pid] -= qty
                    got = qty
                else:
                    got = 0
                    counts["cancelled"] += 1
                counts["lines"] += 1
                lines.append(
                    {
                        "order_id": t["transaction_id"],
                        "order_datetime": t["timestamp"],
                        "customer_id": t["customer_id"],
                        "date": t["timestamp"][:10],
                        "product_id": pid,
                        "quantity": got,
                    }
                )
    counts["remaining"] = remaining
    return lines, counts


def _forecast(dates: list[str], ys: list[Decimal]) -> tuple[str, float]:
    """OLS linear trend over the series, predicted one step ahead."""
    y = [float(v) for v in ys]
    n = len(y)
    if n == 1:
        nxt = y[0]
    else:
        tm = (n - 1) / 2
        ym = sum(y) / n
        b = sum((t - tm) * (v - ym) for t, v in enumerate(y)) / sum(
            (t - tm) ** 2 for t in range(n)
        )
        nxt = ym + b * (n - tm)
    day = dt.date.fromisoformat(dates[-1]) + dt.timedelta(days=1)
    return day.isoformat(), nxt


def expected_outputs(products_csv: str, day_files: list[str]) -> tuple[dict, dict]:
    """Oracle rows per output table (as sorted tuples) and counters."""
    products = load_products(products_csv)
    lines, counts = allocate(products, day_files)
    orders: OrderedDict = OrderedDict()
    items = []
    for ln in lines:
        p = products[ln["product_id"]]
        total = ln["quantity"] * p["price"]
        profit = ln["quantity"] * (p["price"] - p["cost"])
        o = orders.setdefault(
            ln["order_id"],
            {
                "dt": ln["order_datetime"],
                "cust": ln["customer_id"],
                "date": ln["date"],
                "total": Decimal(0),
                "profit": Decimal(0),
                "n": 0,
            },
        )
        o["total"] += total
        o["profit"] += profit
        o["n"] += ln["quantity"] > 0
        items.append(
            (str(ln["order_id"]), str(ln["product_id"]), str(ln["quantity"]),
             float(p["price"]), _money(total))
        )
    days: OrderedDict = OrderedDict()
    for o in orders.values():
        d = days.setdefault(o["date"], [0, Decimal(0), Decimal(0)])
        d[0] += 1
        d[1] += o["total"]
        d[2] += o["profit"]
    rem = counts.pop("remaining")
    want = {
        "orders": sorted(
            (str(oid), o["dt"], str(o["cust"]), _money(o["total"]), str(o["n"]))
            for oid, o in orders.items()
        ),
        "order_line_items": sorted(items),
        "daily_summary": sorted(
            (d, str(v[0]), float(v[1]), float(v[2])) for d, v in days.items()
        ),
        "products_updated": sorted(
            (str(pid), p["name"], str(rem[pid])) for pid, p in products.items()
        ),
    }
    dates = list(days)
    fd, sales = _forecast(dates, [v[1] for v in days.values()])
    _, profit = _forecast(dates, [v[2] for v in days.values()])
    want["sales_profit_forecast"] = [(fd, sales, profit)]
    return want, counts


def read_output(path: str, name: str) -> list[tuple]:
    """One written CSV as rows normalised like the oracle's."""
    with open(path, newline="") as f:
        rows = list(csv.reader(f))[1:]
    if name == "order_line_items":
        rows = [(a, b, c, float(d), e) for a, b, c, d, e in rows]
    elif name == "daily_summary":
        rows = [(a, b, float(c), float(d)) for a, b, c, d in rows]
    elif name == "sales_profit_forecast":
        rows = [(a, float(b), float(c)) for a, b, c in rows]
    else:
        rows = [tuple(r) for r in rows]
    return sorted(rows)


def compare(want: dict, out_dir: str, names=OUTPUTS) -> list[str]:
    """Names of the outputs under ``out_dir`` that differ from ``want``."""
    bad = []
    for name in names:
        got = read_output(os.path.join(out_dir, f"{name}.csv"), name)
        exp = want[name]
        if name == "sales_profit_forecast":
            ok = len(got) == len(exp) and all(
                g[0] == e[0]
                and abs(g[1] - e[1]) <= FORECAST_TOLERANCE
                and abs(g[2] - e[2]) <= FORECAST_TOLERANCE
                for g, e in zip(got, exp)
            )
        else:
            ok = got == exp
        if not ok:
            bad.append(name)
    return bad
