"""The benchmark's own tests.

    python3 -m pytest perfbench -q -p no:cacheprovider

The last test runs the benchmark command twice (about two minutes).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_generators_are_byte_identical_per_seed(tmp_path):
    for sub in ("a", "b"):
        gen.write_candy(str(tmp_path / sub / "candy"), 7, 3, 40)
        gen.write_documents(str(tmp_path / sub / "docs"), 7, 120, 3)
    gen.write_candy(str(tmp_path / "c" / "candy"), 8, 3, 40)
    gen.write_documents(str(tmp_path / "c" / "docs"), 8, 120, 3)
    for kind in ("candy", "docs"):
        assert _same_tree(str(tmp_path / "a" / kind), str(tmp_path / "b" / kind))
        assert not _same_tree(str(tmp_path / "a" / kind), str(tmp_path / "c" / kind))


def test_document_seed_permutes_a_fixed_corpus(tmp_path):
    import pyarrow.parquet as pq

    rows = []
    for seed in (1, 2):
        files = gen.write_documents(str(tmp_path / str(seed)), seed, 200, 4)
        rows.append([r for f in files for r in pq.read_table(f).to_pylist()])
    assert rows[0] != rows[1]
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(rows[0], key=key) == sorted(rows[1], key=key) == gen.corpus(200)


def test_corpus_has_the_measured_shape():
    docs = gen.corpus(2000)
    words = [d["text"].split() for d in docs]
    assert min(map(len, words)) == gen.MIN_WORDS
    assert max(len(w) for w in words if "dup" not in w) == gen.MAX_WORDS
    assert sum(w[-1] == "dup" for w in words) == round(2000 * gen.NEAR_COPY_RATE)
    assert {x for w in words for x in w} == set(gen.VOCAB) | {"dup"}
    assert {d["lang"] for d in docs} == set(gen.LANGS)


def test_stage_layers_and_busy_time():
    from collector import busy_seconds
    from workloads import candy_layer

    agg = "candy_pipeline.aggregate"
    assert candy_layer({"WriteFiles", "Coalesce", "InMemoryTableScan"}, agg) == "sources.write"
    assert candy_layer({"Scan json", "Exchange"}, "allocation") == "sources.read_transactions"
    assert candy_layer({"MapInPandas", "Exchange"}, agg) == "allocation"
    assert candy_layer({"InMemoryTableScan", "MapInPandas", "Exchange"}, agg) == agg
    assert candy_layer({"TakeOrderedAndProject"}, "allocation") == "allocation"
    assert busy_seconds([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert busy_seconds([]) == 0


def test_candy_oracle_agrees_with_allocate_python_oracle(tmp_path):
    from etl_pipeline_candy_store_spark.operators.allocation import (
        allocate_python_oracle,
    )

    root = str(tmp_path)
    files = gen.write_candy(root, 3, 3, 80)
    products = oracle.load_products(os.path.join(root, "products.csv"))
    lines, counts = oracle.allocate(products, files)
    assert counts["cancelled"] > 0 and counts["null_qty"] > 0

    rows = []
    for day, path in enumerate(files):
        with open(path) as f:
            txns = json.load(f)
        for seq, t in enumerate(txns):
            for pos, item in enumerate(t["items"]):
                if item["qty"] is None or item["product_id"] not in products:
                    continue
                rows.append(
                    {
                        "order_id": t["transaction_id"],
                        "product_id": item["product_id"],
                        "day": day,
                        "seq": seq,
                        "pos": pos,
                        "qty": item["qty"],
                        "stock": products[item["product_id"]]["stock"],
                    }
                )
    ref = allocate_python_oracle(
        rows, key="product_id", seq=("day", "seq", "pos"), qty="qty", stock="stock"
    )
    assert [(r["order_id"], r["product_id"], r["quantity"]) for r in ref] == [
        (ln["order_id"], ln["product_id"], ln["quantity"]) for ln in lines
    ]


def test_command_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "candy_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_printed_names_match_benchmark_json():
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    workload = spec["workloads"][0]["name"]
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "5", "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=180,
        )
        assert p.returncode == 0, p.stderr[-2000:]
        provenance, result = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
        assert provenance["provenance"]["layers"] == {}  # nothing undeclared
        assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
        assert result["correct"] is True and result["failed"] == 0
        assert {k: v["unit"] for k, v in result["metrics"].items()} == {
            m["name"]: m["unit"] for m in spec[key]
        }
