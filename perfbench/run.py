"""Benchmark command for the candy-spark engine.

    python3 perfbench/run.py --workload candy_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. Prepares the workload's seeded inputs
(untimed), starts the session, runs one warm-up pass, then runs timed
iterations for ``--seconds`` seconds, checking every iteration's output
against an oracle (untimed). The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it records the run's provenance. The
exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_pipeline_candy_store_spark"
#: a traced run needs an untraced and a traced iteration
MIN_TRACED_ITERATIONS = 2
#: a run must exit within 180 s; stop starting iterations after this
HARD_STOP_S = 120.0


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_digest() -> str:
    """sha256 over the package's source files, so a result names the
    code it measured even in a checkout without git metadata."""
    h = hashlib.sha256()
    base = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in os.walk(base):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def start_session(work: str, app: str, cpus: int):
    from etl_pipeline_candy_store_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app,
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_processes(spark) -> None:
    """Stop the session and the JVM it launched, then wait until every
    process this run started (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    from collector import _tree_pids

    me = os.getpid()
    started = [p for p in _tree_pids(me) if p != me]
    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
    # Python workers are the JVM's children: once it is gone they are
    # re-parented, so wait on the pids listed before the shutdown
    deadline = time.time() + 30
    while True:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        if time.time() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.2)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run(args, spec: dict) -> tuple[dict, dict, bool]:
    import workloads as W
    from collector import Sampler, Tracer, steal_seconds, tree_cpu_seconds

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_out", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")

    wl = W.WORKLOADS[args.workload](work, args.seed)
    spark = None
    try:
        wl.prepare()
        with Sampler() as sampler:
            # one real session start: the JVM launch, then the context
            t = time.perf_counter()
            spark = start_session(work, f"perfbench-{args.workload}", cpus)
            start_s = time.perf_counter() - t
            spark.sparkContext.setLogLevel("ERROR")
            t = time.perf_counter()
            wl.warmup(spark)
            warm_s = time.perf_counter() - t
            setup_s = start_s + warm_s

            from etl_pipeline_candy_store_spark.operators.memo import memo_stats

            memo_before = memo_stats(spark)
            tracer = Tracer(spark, False)
            results, attempted, failed = [], 0, 0
            t_begin = time.perf_counter()
            deadline = t_begin + args.seconds
            i = 0
            while True:
                # a traced run alternates untraced and traced iterations,
                # so it measures its own tracing overhead
                tracer.enabled = bool(args.trace) and i % 2 == 1
                sampler.spark = spark if tracer.enabled else None
                attempted += 1
                cpu0, steal0 = tree_cpu_seconds(os.getpid()), steal_seconds()
                try:
                    res = wl.iteration(spark, tracer, f"iter{i}")
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    break
                res["cpu_s"] = tree_cpu_seconds(os.getpid()) - cpu0
                res["steal_s"] = steal_seconds() - steal0
                sampler.spark = None
                res["traced"] = tracer.enabled
                bad = wl.check(spark, res)
                attempted += wl.checks_per_iteration + len(res.get("progress", ()))
                failed += len(bad)
                if bad:
                    print(f"output check failed in iteration {i}: {bad}", file=sys.stderr)
                results.append(res)
                wl.cleanup(res)
                i += 1
                now = time.perf_counter()
                enough = i >= (MIN_TRACED_ITERATIONS if args.trace else 1)
                if (now >= deadline and enough) or now - t_begin > HARD_STOP_S:
                    break
            memo_after = memo_stats(spark)
    finally:
        try:
            stop_processes(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    plain = [r for r in results if not r["traced"]]
    run_s = W.median(r["run_s"] for r in plain)
    values = {
        "setup_s": setup_s,
        "run_cpu_s": W.median(r["cpu_s"] for r in plain),
        "peak_rss_mb": sampler.peak_rss / 2**20,
        # wall-clock time: reported per layer, as CPU steal from other
        # tenants of a shared host moves it by more than its bound
        "run_s": run_s,
        "rows_per_s": wl.rows / run_s if run_s else 0.0,
    }
    declared = spec["end_to_end"]
    if args.trace:
        traced = [r for r in results if r["traced"]]
        values.update(wl.layer_metrics(tracer, traced or results))
        if args.workload in W.STREAMS:
            values.update(W.stream_metrics(results))
        if args.workload == W.CurateFunnel.name:
            values["curation.cached_bytes_peak"] = sampler.peak_cached
        values["trace_overhead_s"] = (
            W.median(r["run_s"] for r in traced) - run_s if traced and plain else 0.0
        )
        values["failed_ratio"] = failed / attempted
        declared = spec["per_layer"]
    # layers of the workloads BENCHMARK.json does not list have no
    # declared metric; their values ride in the provenance line
    names = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    layers = {k: v for k, v in values.items() if k not in names}
    values = {**{m["name"]: 0.0 for m in declared}, **values}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    import pyspark

    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "git_sha": git_sha(),
        "source_sha256": source_digest(),
        "nproc": cpus,
        "spark_version": pyspark.__version__,
        "python": sys.version.split()[0],
        "input_rows": wl.rows,
        "input_bytes": wl.input_bytes,
        "session_start_s": start_s,
        "warmup_s": warm_s,
        "iterations_s": [r["run_s"] for r in results],
        "iterations_cpu_s": [r["cpu_s"] for r in results],
        "iterations_steal_s": [r["steal_s"] for r in results],
        "traced_iterations": [r["traced"] for r in results],
        "memo_builds": memo_after["builds"] - memo_before["builds"],
        "memo_hits": memo_after["hits"] - memo_before["hits"],
        "layers": layers,
    }
    if args.trace:
        tracer.write(os.path.join(ROOT, ".bench_out", f"spans-{args.workload}-s{args.seed}.jsonl"))
    result = {
        "correct": failed == 0 and bool(results),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, provenance, result["correct"]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    def _timeout(signum, frame):
        raise TimeoutError("run exceeded its time limit")

    def _terminate(signum, frame):
        raise SystemExit(128 + signum)  # unwinds through stop_processes

    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(175)
    result, provenance, ok = run(args, load_spec())
    signal.alarm(0)
    print(json.dumps({"provenance": provenance}))
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
