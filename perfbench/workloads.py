"""The benchmark's workloads. Each one prepares its inputs (untimed),
runs one warm-up pass, then runs timed iterations; every iteration's
output is checked (untimed) before the next input is handed over, a
closed loop with one client.

Scale parameters live here as generator arguments; the package under
test only ever sees the generated files.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import gen
import oracle
from collector import (
    Span,
    Tracer,
    attribute_stages,
    dir_bytes,
    fill_from_jobs,
    job_submit_times,
    jobs_in_group,
)

#: candy_batch: 2 day files of 3,000 transactions (~16k request lines)
CANDY_BATCH_DAYS, CANDY_BATCH_TXNS = 2, 3000
#: candy_stream: 4 day files of 500 transactions, one per micro-batch
CANDY_STREAM_DAYS, CANDY_STREAM_TXNS = 4, 500
#: curate_funnel: the fixed corpus in 4 files, exported to 4 shards
CURATE_DOCS, CURATE_FILES, CURATE_SHARDS = 1000, 4, 4
#: corpus_stream: the fixed corpus in 3 slices, one per micro-batch
CORPUS_DOCS, CORPUS_SLICES = 1200, 3

CURATE_STAGES = (
    "load",
    "exact_dedup",
    "near_dedup",
    "quality_gate",
    "repetition_gate",
    "decontamination",
    "governance",
    "shard_export",
)
CANDY_SPANS = (
    "sources.read_transactions",
    "allocation",
    "candy_pipeline.aggregate",
    "forecast",
    "sources.write",
)


def candy_layer(ops: set[str], fallback: str) -> str:
    """The layer of one stage of ``save_outputs()``, by the operators it
    runs: a file write is ``sources.write``, a file scan is
    ``sources.read_transactions`` (the day files and the two small CSV
    dimensions), the allocation's ``MapInPandas`` is ``allocation``
    unless the stage reads it from the cached spine; anything else
    falls back to the layer of its job (``forecast`` for the forecast
    output's write, ``allocation`` for the dispatcher probe,
    ``candy_pipeline.aggregate`` otherwise)."""
    if "WriteFiles" in ops:
        return "sources.write"
    if any(op.startswith("Scan ") for op in ops):
        return "sources.read_transactions"
    if "MapInPandas" in ops and "InMemoryTableScan" not in ops:
        return "allocation"
    return fallback


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def hand_over(src: str, watch: str) -> None:
    """Move one input file into a watched directory atomically."""
    tmp = os.path.join(os.path.dirname(watch), "." + os.path.basename(src))
    shutil.copyfile(src, tmp)
    os.rename(tmp, os.path.join(watch, os.path.basename(src)))


def span_metrics(tracer: Tracer, names) -> dict:
    """``<span>.s|jobs|shuffle_bytes|spill_bytes|skew`` for each name,
    as medians over the traced iterations (0 for spans never opened)."""
    out = {}
    for name in names:
        spans = [s for s in tracer.spans if s.name == name]
        out[f"{name}.s"] = median(tracer.self_seconds(s) for s in spans)
        out[f"{name}.jobs"] = median(s.jobs for s in spans)
        out[f"{name}.shuffle_bytes"] = median(s.shuffle_bytes for s in spans)
        out[f"{name}.spill_bytes"] = median(s.spill_bytes for s in spans)
        out[f"{name}.skew"] = median(s.skew for s in spans)
    return out


class Workload:
    """One workload. ``iteration`` returns a dict with at least
    ``run_s``; ``check`` returns the names of failed output checks."""

    name = ""
    #: output checks made per iteration (counted in ``attempted``)
    checks_per_iteration = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.rows = 0
        self.input_bytes = 0

    def prepare(self) -> None:
        """Write the inputs (setting ``files``, ``rows``, ``input_bytes``)."""
        raise NotImplementedError

    def warmup(self, spark) -> None:
        """One untraced pass over all of the inputs, so the timed
        iterations find compiled code and live Python workers (after a
        pass over part of the inputs the first timed iteration still
        ran up to 25% slower than the second)."""
        self.cleanup(self.iteration(spark, Tracer(spark, False), "warm"))

    def iteration(self, spark, tracer: Tracer, tag: str) -> dict:
        """One pass over all of the inputs."""
        raise NotImplementedError

    def check(self, spark, result: dict) -> list[str]:
        raise NotImplementedError

    def layer_metrics(self, tracer: Tracer, results: list[dict]) -> dict:
        return {}

    def cleanup(self, result: dict) -> None:
        shutil.rmtree(result["dir"], ignore_errors=True)


# -- candy ---------------------------------------------------------------


class CandyBatch(Workload):
    name = "candy_batch"
    days, txns = CANDY_BATCH_DAYS, CANDY_BATCH_TXNS

    def prepare(self):
        self.src = os.path.join(self.work, "input")
        self.files = gen.write_candy(self.src, self.seed, self.days, self.txns)
        self.want, self.counts = oracle.expected_outputs(
            os.path.join(self.src, "products.csv"), self.files
        )
        if min(self.counts[k] for k in ("cancelled", "null_qty", "unknown_product")) <= 0:
            raise RuntimeError(f"degenerate candy input: {self.counts}")
        self.rows = self.counts["lines"]
        self.input_bytes = sum(os.path.getsize(f) for f in self.files)

    def iteration(self, spark, tracer, tag):
        from etl_pipeline_candy_store_spark.plans.candy_pipeline import (
            CandyConfig,
            CandyPipeline,
        )

        out = fresh_dir(os.path.join(self.work, tag))
        config = CandyConfig(
            products_csv=os.path.join(self.src, "products.csv"),
            customers_csv=os.path.join(self.src, "customers.csv"),
            transactions_paths=self.files,
            output_dir=out,
        )
        pipe = CandyPipeline(spark, config)
        if tracer.enabled:
            run_s, python_s = self._traced(spark, tracer, pipe)
        else:
            t0 = time.perf_counter()
            pipe.save_outputs()
            run_s, python_s = time.perf_counter() - t0, 0.0
        return {"run_s": run_s, "dir": out, "python_s": python_s}

    def _traced(self, spark, tracer, pipe) -> tuple[float, float]:
        """``save_outputs()`` as it is, under one span, with a span of
        its own around each output's ``save_single_csv`` call (wrapped
        from outside) and the UDF profiler on for the allocation's
        Python time. The stages of all those jobs are then attributed
        to the layers by the operators they run (``candy_layer``).
        Returns the time of ``save_outputs()`` and the Python time."""
        from etl_pipeline_candy_store_spark.plans import candy_pipeline

        write, writes = candy_pipeline.save_single_csv, []

        def traced_write(df, output_dir, filename):
            with tracer.span(f"write.{filename[:-4]}", "candy_batch.run") as span:
                writes.append(span)
                return write(df, output_dir, filename)

        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        spark.profile.clear()
        candy_pipeline.save_single_csv = traced_write
        try:
            with tracer.span("candy_batch.run") as root:
                pipe.save_outputs()
            results = spark._profiler_collector._perf_profile_results
            python_s = sum(st.total_tt for st in results.values())
        finally:
            candy_pipeline.save_single_csv = write
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            spark.profile.clear()
        # jobs outside any write are the allocation dispatcher's probe
        jobs = {j: "allocation" for j in root.job_ids}
        for span in writes:
            fallback = "forecast" if span.name == "write.sales_profit_forecast" else "candy_pipeline.aggregate"
            jobs.update({j: fallback for j in span.job_ids})
        for span in attribute_stages(spark, jobs, candy_layer):
            tracer.add(span)
        return root.seconds, python_s

    checks_per_iteration = len(oracle.OUTPUTS)

    def check(self, spark, result):
        return oracle.compare(self.want, result["dir"])

    def layer_metrics(self, tracer, results):
        out = span_metrics(tracer, CANDY_SPANS)
        traced = [r for r in results if r["python_s"] > 0]
        out["allocation.python_s"] = median(r["python_s"] for r in traced)
        out["allocation.cancelled_ratio"] = self.counts["cancelled"] / self.counts["lines"]
        return out


def _progress_metrics(progress: list[dict]) -> dict:
    """Batch latency and growth from one query's progress reports,
    batch 0 excluded; growth is the median of the last third of the
    batches over the median of the first third."""
    lat = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in progress[1:]]
    third = max(1, len(lat) // 3)
    first = median(lat[:third])
    return {
        "batch_p50_s": median(lat),
        "batch_growth": median(lat[-third:]) / first if first else 0.0,
    }


def stream_metrics(results: list[dict]) -> dict:
    """``batch_p50_s`` and ``batch_growth``, medians over iterations."""
    per = [_progress_metrics(r["progress"]) for r in results]
    return {k: median(p[k] for p in per) for k in ("batch_p50_s", "batch_growth")}


def _run_stream(query, files: list[str], watch: str, after_batch=None) -> list[dict]:
    """Hand the files over one at a time, each only after the previous
    one's micro-batch is committed. Returns one progress per file."""
    progress = []
    for f in files:
        hand_over(f, watch)
        # a trigger that listed the directory just before the hand-over
        # can end processAllAvailable early; wait for this file's batch
        for _ in range(100):
            query.processAllAvailable()
            done = [p for p in query.recentProgress if p["numInputRows"] > 0]
            if len(done) > len(progress):
                break
        else:
            raise RuntimeError(f"no micro-batch picked up {f}")
        progress.append(done[-1])
        if after_batch is not None:
            after_batch()
    return progress


class CandyStream(CandyBatch):
    name = "candy_stream"
    days, txns = CANDY_STREAM_DAYS, CANDY_STREAM_TXNS
    checks_per_iteration = len(oracle.OUTPUTS) - 1  # no forecast leg

    def iteration(self, spark, tracer, tag):
        from etl_pipeline_candy_store_spark.plans.candy_stream import (
            derive_candy_outputs,
            stream_candy_allocation,
        )
        from etl_pipeline_candy_store_spark.sources.writers import save_single_csv

        d = fresh_dir(os.path.join(self.work, tag))
        watch = fresh_dir(os.path.join(d, "watch"))
        lines_dir, out = os.path.join(d, "lines"), os.path.join(d, "out")
        products_csv = os.path.join(self.src, "products.csv")
        t0 = time.perf_counter()
        query = (
            stream_candy_allocation(spark, watch, products_csv, max_files_per_trigger=1)
            .writeStream.format("parquet")
            .option("path", lines_dir)
            .option("checkpointLocation", os.path.join(d, "checkpoint"))
            .outputMode("append")
            .start()
        )
        try:
            progress = _run_stream(query, self.files, watch)
        finally:
            query.stop()
        with tracer.span("candy_stream.derive") as derive:
            outs = derive_candy_outputs(spark, spark.read.parquet(lines_dir), products_csv)
            for name, df in outs.items():
                save_single_csv(df, out, f"{name}.csv")
        return {
            "run_s": time.perf_counter() - t0,
            "dir": d,
            "out": out,
            "progress": progress,
            "derive_s": derive.seconds,
        }

    def check(self, spark, result):
        return oracle.compare(self.want, result["out"], oracle.OUTPUTS[:-1])

    def layer_metrics(self, tracer, results):
        prog = [p for r in results for p in r["progress"][1:]]
        ops = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
        last = results[-1]["progress"][-1]["stateOperators"][0]
        return {
            "candy_stream.state_update_s": median(o["allUpdatesTimeMs"] / 1000 for o in ops),
            "candy_stream.state_commit_s": median(o["commitTimeMs"] / 1000 for o in ops),
            "candy_stream.state_instances": last["numStateStoreInstances"],
            "candy_stream.state_rows": last["numRowsTotal"],
            "candy_stream.planning_s": median(p["durationMs"].get("queryPlanning", 0) / 1000 for p in prog),
            "candy_stream.wal_commit_s": median(p["durationMs"].get("walCommit", 0) / 1000 for p in prog),
            "candy_stream.derive_s": median(r["derive_s"] for r in results),
        }


# -- documents -----------------------------------------------------------


class CurateFunnel(Workload):
    name = "curate_funnel"

    def prepare(self):
        self.data = os.path.join(self.work, "data")
        self.files = gen.write_documents(
            os.path.join(self.data, "documents.parquet"), self.seed, CURATE_DOCS, CURATE_FILES
        )
        self.rows = CURATE_DOCS
        self.input_bytes = sum(os.path.getsize(f) for f in self.files)
        with open(os.path.join(os.path.dirname(__file__), "expected_curate.json")) as f:
            self.want = json.load(f)

    def iteration(self, spark, tracer, tag):
        from etl_pipeline_candy_store_spark.plans.curation_pipeline import curate

        out = fresh_dir(os.path.join(self.work, tag))
        laps: dict = {}
        start = time.time()
        t0 = time.perf_counter()
        with tracer.span("curation") as span:
            report = curate(spark, self.data, out, n_shards=CURATE_SHARDS, stage_seconds=laps)
        run_s = time.perf_counter() - t0
        if tracer.enabled:
            self._stage_spans(spark, tracer, span, laps, start)
        return {"run_s": run_s, "dir": out, "report": report}

    def _stage_spans(self, spark, tracer, root: Span, laps: dict, start: float):
        """Split the ``curation`` span's jobs into the funnel's stages by
        job submission time against the stage laps ``curate`` reports."""
        jobs = jobs_in_group(spark, root.group)
        submitted = job_submit_times(spark, jobs)
        t = start
        for stage in CURATE_STAGES:
            lap = laps.get(stage, 0.0)
            span = Span(f"curation.{stage}", root.start, root.start, parent="curation")
            span.end = span.start + lap
            mine = [j for j, ts in submitted.items() if t <= ts < t + lap]
            fill_from_jobs(spark, span, mine)
            tracer.add(span)
            t += lap

    checks_per_iteration = 2  # funnel counts, shard manifests

    def check(self, spark, result):
        report = result["report"]
        bad = []
        if report["funnel"] != self.want["funnel"]:
            bad.append("funnel")
        shards = {
            split: {str(k): v["n_rows"] for k, v in s["manifest"]["shards"].items()}
            for split, s in report["splits"].items()
        }
        if shards != self.want["shards"]:
            bad.append("shard_manifests")
        return bad

    def layer_metrics(self, tracer, results):
        out = span_metrics(tracer, [f"curation.{s}" for s in CURATE_STAGES])
        roots = [s for s in tracer.spans if s.name == "curation"]
        out["curation.jobs"] = median(s.jobs for s in roots)
        return out


class CorpusStream(Workload):
    name = "corpus_stream"

    def prepare(self):
        self.data = os.path.join(self.work, "data")
        self.files = gen.write_documents(
            os.path.join(self.data, "documents.parquet"), self.seed, CORPUS_DOCS, CORPUS_SLICES
        )
        self.rows = CORPUS_DOCS
        self.input_bytes = sum(os.path.getsize(f) for f in self.files)
        self.want = None

    def iteration(self, spark, tracer, tag):
        from etl_pipeline_candy_store_spark.streaming.winnow_stream import (
            read_winnow_pairs,
            stream_fingerprint_counts,
        )

        d = fresh_dir(os.path.join(self.work, tag))
        watch = fresh_dir(os.path.join(d, "watch"))
        target = os.path.join(d, "state")
        docs_path = os.path.join(self.data, "documents.parquet")
        schema = spark.read.parquet(docs_path).schema
        written = []
        t0 = time.perf_counter()
        query = stream_fingerprint_counts(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(watch),
            target_path=target,
            checkpoint_path=os.path.join(d, "checkpoint"),
        ).start()
        try:
            # every batch rewrites the whole state and swaps it in, so
            # the state's size after a batch is what that batch wrote
            progress = _run_stream(
                query, self.files, watch, lambda: written.append(dir_bytes(target))
            )
        finally:
            query.stop()
        pairs = read_winnow_pairs(spark, target, spark.read.parquet(docs_path)).collect()
        run_s = time.perf_counter() - t0
        jobs = len(jobs_in_group(spark, str(query.runId)))
        return {
            "run_s": run_s,
            "dir": d,
            "pairs": pairs,
            "progress": progress,
            "jobs": jobs,
            "written": written,
        }

    def check(self, spark, result):
        from etl_pipeline_candy_store_spark.plans.catalog import REGISTRY, _ensure_loaded

        if self.want is None:
            _ensure_loaded()
            q239 = REGISTRY["q239_winnow_neardup"].builder(spark, self.data)
            self.want = sorted(tuple(r) for r in q239.collect())
        ok = self.want and sorted(tuple(r) for r in result["pairs"]) == self.want
        return [] if ok else ["winnow_pairs"]

    def layer_metrics(self, tracer, results):
        written = [sum(r["written"]) for r in results]
        state = [r["written"][-1] for r in results]
        return {
            "winnow_stream.batch_s": median(
                p["durationMs"].get("addBatch", 0) / 1000 for r in results for p in r["progress"][1:]
            ),
            "winnow_stream.jobs_per_batch": median(r["jobs"] / len(r["progress"]) for r in results),
            "winnow_stream.state_bytes": median(state),
            "winnow_stream.bytes_written": median(written),
            "winnow_stream.write_amplification": median(w / s for w, s in zip(written, state)),
        }


WORKLOADS = {w.name: w for w in (CandyBatch, CandyStream, CurateFunnel, CorpusStream)}
STREAMS = (CandyStream.name, CorpusStream.name)
