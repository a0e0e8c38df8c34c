"""Outside-in collector: spans opened around calls into the package,
filled from what Spark already records in process.

Nothing here reaches inside the package. A span sets a Spark job group
for the calls made under it and, when it closes, reads the per-stage
metrics of that group's jobs from the driver's status store. Streaming
metrics come from ``StreamingQueryProgress``; state and ledger sizes
from the filesystem; memory from ``/proc``. Spans stay in memory and
are written once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    jobs: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    skew: float = 0.0
    group: str | None = None
    job_ids: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _stage_ops(store, sid: int) -> set[str]:
    """Names of the physical operators a stage runs (the scopes of its
    RDD operation graph) without codegen ids: ``Scan json``,
    ``MapInPandas``, ``InMemoryTableScan``, ``WriteFiles``, ..."""
    names, todo = set(), [store.operationGraphForStage(sid).rootCluster()]
    while todo:
        cluster = todo.pop()
        names.add(cluster.name().split(" (")[0].strip())
        kids = cluster.childClusters()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return names


def _epoch(opt) -> float:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else 0.0


def _stage_rows(spark, job_ids, with_ops: bool = False) -> list[dict]:
    """Completed stage attempts of ``job_ids`` with their run-time,
    shuffle and spill totals, the max/median task run time, their
    submission and completion times and, if asked, their operators."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    rows, seen = [], set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) != "COMPLETE":
                continue  # skipped stages reuse an earlier shuffle
            skew = 1.0
            summary = store.taskSummary(sid, sd.attemptId(), quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                med, top = run.apply(0), run.apply(1)
                skew = top / med if med > 0 else 1.0
            rows.append(
                {
                    "job": jid,
                    "stage": sid,
                    "run_ms": sd.executorRunTime(),
                    "shuffle_bytes": sd.shuffleReadBytes() + sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "skew": skew,
                    "start": _epoch(sd.submissionTime()),
                    "end": _epoch(sd.completionTime()),
                    "ops": _stage_ops(store, sid) if with_ops else set(),
                }
            )
    return rows


def _fill(span: Span, rows: list[dict]) -> None:
    span.shuffle_bytes = sum(r["shuffle_bytes"] for r in rows)
    span.spill_bytes = sum(r["spill_bytes"] for r in rows)
    if rows:
        span.skew = max(rows, key=lambda r: r["run_ms"])["skew"]


def fill_from_jobs(spark, span: Span, job_ids) -> None:
    """Attach the stage metrics of ``job_ids`` to ``span``. Skew is the
    max/median task time of the stage with the most executor run time."""
    span.job_ids = list(job_ids)
    span.jobs = len(span.job_ids)
    _fill(span, _stage_rows(spark, span.job_ids))


def busy_seconds(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total


def attribute_stages(spark, jobs: dict[int, str], classify) -> list[Span]:
    """One span per layer from the completed stages of ``jobs`` (job id
    -> the layer its stages fall back to). ``classify(ops, fallback)``
    names a stage's layer from the operators it runs. A layer's span
    starts at its first stage's submission (epoch seconds) and lasts as
    long as at least one of its stages ran; its jobs are the jobs with
    a stage in it."""
    by_layer: dict[str, list[dict]] = {}
    for row in _stage_rows(spark, jobs, with_ops=True):
        by_layer.setdefault(classify(row["ops"], jobs[row["job"]]), []).append(row)
    spans = []
    for layer, rows in by_layer.items():
        start = min(r["start"] for r in rows)
        busy = busy_seconds((r["start"], r["end"]) for r in rows)
        span = Span(layer, start, start + busy)
        span.job_ids = sorted({r["job"] for r in rows})
        span.jobs = len(span.job_ids)
        _fill(span, rows)
        spans.append(span)
    return spans


def jobs_in_group(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def job_submit_times(spark, job_ids) -> dict[int, float]:
    """Job id -> submission time (epoch seconds) from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {}
    for jid in job_ids:
        sub = store.job(jid).submissionTime()
        if sub.isDefined():
            out[jid] = sub.get().getTime() / 1000.0
    return out


class Tracer:
    """Collects spans for one run. Disabled tracers time nothing and
    set no job groups, so untraced iterations pay no collection cost."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._n = 0

    def span(self, name: str, parent: str | None = None):
        return _SpanCtx(self, name, parent)

    def add(self, span: Span) -> None:
        self.spans.append(span)

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part its child spans cover."""
        kids = [s for s in self.spans if s.parent == span.name]
        return span.seconds - sum(k.seconds for k in kids)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                rec = {
                    "name": s.name,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                    "self_s": self.self_seconds(s),
                    "jobs": s.jobs,
                    "shuffle_bytes": s.shuffle_bytes,
                    "spill_bytes": s.spill_bytes,
                    "skew": s.skew,
                }
                f.write(json.dumps(rec) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, parent: str | None):
        self.tracer = tracer
        self.span = Span(name, 0.0, parent=parent)
        self.outer = None

    def __enter__(self) -> Span:
        t = self.tracer
        if t.enabled:
            t._n += 1
            self.span.group = f"bench-{t._n}-{self.span.name}"
            self.outer = t.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            t.spark.sparkContext.setJobGroup(self.span.group, self.span.name)
        self.span.start = time.perf_counter()
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        t = self.tracer
        if t.enabled:
            # jobs after a nested span belong to the enclosing one again
            t.spark.sparkContext.setLocalProperty("spark.jobGroup.id", self.outer)
            if exc[0] is None:
                fill_from_jobs(t.spark, self.span, jobs_in_group(t.spark, self.span.group))
            t.add(self.span)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass  # removed by a concurrent swap
    return total


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed resident set size of ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass  # exited between listing and reading
    return total


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU time of ``root`` and all its descendants,
    including children they have already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited between listing and reading
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def steal_seconds() -> float:
    """Machine-wide CPU steal time: time this VM's CPUs were runnable
    but not running, as other tenants held the host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class Sampler:
    """Background sampler of the process tree's summed RSS and, when
    given a session, of the bytes Spark holds in cached blocks."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_rss = 0
        self.peak_cached = 0
        self.spark = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> Sampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(me))
            spark = self.spark
            if spark is not None:
                try:
                    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
                    cached = sum(i.memSize() + i.diskSize() for i in infos)
                except Exception:  # session stopping under the sampler
                    continue
                self.peak_cached = max(self.peak_cached, cached)
