"""Seeded input generators for the benchmark.

The package under test receives only the files written here; every
scale knob is an argument of these functions, never a package option.

Candy inputs follow the dataset_22 shape: 1-5 items per transaction,
qty 1-5 with ~7.5% null, ~1.5% all-null transactions, a few unknown
product ids, Zipf product popularity and opening stocks sized so that
popular products run out part-way through the period. Each day file
lists its transactions in strictly increasing timestamp order, so the
batch pipeline's (date, file_seq, item_pos) sequence and the stream's
(date, timestamp, order_id, item_pos) sequence agree exactly.

Documents are one fixed corpus (its content does not depend on the
run seed) in the shape measured on the sf0.1 ``documents.parquet``
test table (5,000 rows): 10-99 words drawn uniformly from a 30-word
vocabulary, 41% ``en`` and ~15% each ``zh``/``es``/``fr``/``de``, 20
sources, 5% of the documents replaced by a near copy of another
(its text plus the word ``dup``; two near copies of one document make
the 0.16% exact copies); no document is shorter than 10 words
or repeats more than 30% of its bigrams. The run seed only permutes row
order and decides how rows are split into files or micro-batch slices.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

N_PRODUCTS = 36
N_CUSTOMERS = 30
UNKNOWN_PRODUCT_ID = 999
FIRST_DAY = dt.date(2024, 3, 1)

CORPUS_SEED = 20240301
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
MIN_WORDS, MAX_WORDS = 10, 99
NEAR_COPY_RATE = 0.05
N_SOURCES = 20


def write_candy(
    root: str, seed: int, n_days: int, txn_per_day: int
) -> list[str]:
    """Write products.csv, customers.csv and one transactions_<date>.json
    per day under ``root``; returns the day files in date order."""
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    order = list(range(1, N_PRODUCTS + 1))
    rng.shuffle(order)
    weight = {pid: 1.0 / (rank + 1) ** 1.1 for rank, pid in enumerate(order)}
    total_w = sum(weight.values())
    # ~3 non-null units per line, ~3 lines per transaction
    units = n_days * txn_per_day * 3 * 3 * 0.925
    with open(os.path.join(root, "products.csv"), "w") as f:
        f.write(
            "product_id,product_name,product_category,product_subcategory,"
            "product_shape,sales_price,cost_to_make,stock\n"
        )
        for pid in range(1, N_PRODUCTS + 1):
            price = rng.randint(52, 984)
            cost = price * rng.randint(40, 70) // 100
            demand = units * weight[pid] / total_w
            stock = max(5, int(demand * rng.uniform(0.35, 1.4)))
            f.write(
                f"{pid},Candy {pid},Category {pid % 5},Sub {pid % 3},Shape,"
                f"{price // 100}.{price % 100:02d},{cost // 100}.{cost % 100:02d},"
                f"{stock}\n"
            )
    with open(os.path.join(root, "customers.csv"), "w") as f:
        f.write("customer_id,first_name,last_name,email,address,phone\n")
        for cid in range(1, N_CUSTOMERS + 1):
            f.write(
                f'{cid},First{cid},Last{cid},c{cid}@example.org,'
                f'"{cid} Main St, Town, ST 00000",555.000{cid:04d}\n'
            )
    pids = list(weight)
    cum = []
    acc = 0.0
    for pid in pids:
        acc += weight[pid]
        cum.append(acc)
    tid = 100_000
    paths = []
    for d in range(n_days):
        day = FIRST_DAY + dt.timedelta(days=d)
        micros = sorted(rng.sample(range(86_400_000_000), txn_per_day))
        txns = []
        for m in micros:
            tid += rng.randint(1, 9)
            items = []
            for _ in range(rng.randint(1, 5)):
                if rng.random() < 0.004:
                    pid = UNKNOWN_PRODUCT_ID
                else:
                    pid = rng.choices(pids, cum_weights=cum)[0]
                qty = None if rng.random() < 0.075 else rng.randint(1, 5)
                items.append(
                    {"product_id": pid, "product_name": f"Candy {pid}", "qty": qty}
                )
            if rng.random() < 0.015:
                for it in items:
                    it["qty"] = None
            s, us = divmod(m, 1_000_000)
            ts = (
                f"{day.isoformat()}T{s // 3600:02d}:{s // 60 % 60:02d}:"
                f"{s % 60:02d}.{us:06d}"
            )
            txns.append(
                {
                    "transaction_id": tid,
                    "customer_id": rng.randint(1, N_CUSTOMERS),
                    "timestamp": ts,
                    "items": items,
                }
            )
        path = os.path.join(root, f"transactions_{day:%Y%m%d}.json")
        with open(path, "w") as f:
            json.dump(txns, f, separators=(",", ":"))
        paths.append(path)
    return paths


def corpus(n_docs: int) -> list[dict]:
    """The fixed document corpus (independent of any run seed)."""
    rng = random.Random(CORPUS_SEED)
    texts = [
        " ".join(rng.choices(VOCAB, k=rng.randint(MIN_WORDS, MAX_WORDS)))
        for _ in range(n_docs)
    ]
    for doc_id in rng.sample(range(n_docs), round(n_docs * NEAR_COPY_RATE)):
        texts[doc_id] = texts[rng.randrange(n_docs)] + " dup"
    return [
        {
            "doc_id": doc_id,
            "text": text,
            "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
            "source": f"src{doc_id % N_SOURCES}",
            "n_chars": len(text),
        }
        for doc_id, text in enumerate(texts)
    ]


def write_documents(
    path: str, seed: int, n_docs: int, n_files: int
) -> list[str]:
    """Write the corpus as ``n_files`` parquet files under directory
    ``path``, rows permuted by ``seed``; returns the files in slice
    order. Sizes of the slices differ by at most one row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = corpus(n_docs)
    random.Random(seed).shuffle(docs)
    os.makedirs(path, exist_ok=True)
    files = []
    for i in range(n_files):
        part = docs[i::n_files]
        table = pa.table(
            {
                "doc_id": pa.array([d["doc_id"] for d in part], pa.int64()),
                "text": pa.array([d["text"] for d in part], pa.string()),
                "lang": pa.array([d["lang"] for d in part], pa.string()),
                "source": pa.array([d["source"] for d in part], pa.string()),
                "n_chars": pa.array([d["n_chars"] for d in part], pa.int64()),
            }
        )
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table, f, compression="snappy")
        files.append(f)
    return files
