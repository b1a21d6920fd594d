"""Measurement helpers: percentiles, spans, machine health, and the
read-outs of Spark's own bookkeeping (status store per job group, SQL
metrics of the executed plan, streaming progress).

Everything here observes the engine from outside: nothing in the package
is instrumented. The pure functions (``tail_percentile``, ``summarize``,
``per_query_latency``, ``self_times``, ``rollup``, ``walk_plan``,
``source_lag``, ``row_latencies``) take plain data so they can be tested without Spark;
``fetch_stages`` and ``plan_metrics`` do the py4j reads.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# Percentiles a tail may be reported at; the highest one the sample
# supports is used, so a run's tail percentile only changes when its
# sample count crosses one of these steps.
TAIL_GRID = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def tail_percentile(n: int) -> float:
    """Highest grid percentile with at least ``MIN_BEYOND`` samples
    beyond it; the median when the sample is too small for any."""
    best = TAIL_GRID[0]
    for p in TAIL_GRID:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-6:  # 100 - 99.9 is inexact
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def summarize(values: list[float], max_p: float = 100.0) -> dict:
    """Median, tail at the highest supported percentile (but no higher
    than ``max_p``), and count."""
    p = min(tail_percentile(len(values)), max_p)
    return {
        "p50": statistics.median(values),
        "tail_p": p,
        "tail": percentile(values, p),
        "n": len(values),
    }


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def per_query_latency(samples: dict[str, list[float]]) -> dict:
    """Median and tail latency over several queries: each query's own
    ``summarize``, combined by geometric mean, so each query weighs
    equally. Percentiles of the pooled samples would fall in the gap
    between a short and a long query, and jump between them as their
    sample counts change."""
    per_q = {q: summarize(v) for q, v in samples.items()}
    return {
        "p50": geomean([d["p50"] for d in per_q.values()]),
        "tail": geomean([d["tail"] for d in per_q.values()]),
        "per_query": per_q,
    }


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    trace: str
    start: float
    end: float
    parent: int | None
    id: int


@dataclass
class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and cost
    one attribute check per span."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, trace: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(name, trace, time.time(), math.nan, parent, sid)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, name: str, trace: str, start: float, end: float, parent: int | None) -> int:
        """Record a span measured elsewhere (streaming phases)."""
        sid = len(self.spans)
        self.spans.append(Span(name, trace, start, end, parent, sid))
        return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed duration not covered by child spans."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = union_length([(c.start, c.end) for c in children[s.id]], s.start, s.end)
        out[s.name] += (s.end - s.start) - covered
    return dict(out)


# --------------------------------------------------------------------------
# Machine health
# --------------------------------------------------------------------------


def calibrate(iters: int = 4_000_000) -> float:
    """Fixed single-thread integer loop; its wall time tracks how much
    CPU this process gets, so runs on a loaded machine stand out."""
    t0 = time.perf_counter()
    x = 1
    for _ in range(iters):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return time.perf_counter() - t0


def cpu_times() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    idle = f[3] + (f[4] if len(f) > 4 else 0)
    steal = f[7] if len(f) > 7 else 0
    total = sum(f[:8])
    return total - idle - steal, steal, total


def cpu_fracs(start: tuple[int, int, int], end: tuple[int, int, int]) -> dict[str, float]:
    d_busy, d_steal, d_total = (b - a for a, b in zip(start, end))
    d_total = max(d_total, 1)
    return {"busy_frac": d_busy / d_total, "steal_frac": d_steal / d_total}


def jvm_pid(launcher_pid: int) -> int | None:
    """The java process behind pyspark's gateway launcher (spark-submit
    execs into java, but look one level down in case it forked)."""
    def comm(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                return fh.read().strip()
        except OSError:
            return ""

    if comm(launcher_pid) == "java":
        return launcher_pid
    try:
        for tid in os.listdir(f"/proc/{launcher_pid}/task"):
            with open(f"/proc/{launcher_pid}/task/{tid}/children") as fh:
                for child in fh.read().split():
                    if comm(int(child)) == "java":
                        return int(child)
    except OSError:
        pass
    return None


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# --------------------------------------------------------------------------
# Status store roll-up per job group
# --------------------------------------------------------------------------

STAGE_FIELDS = (
    "run_ms", "cpu_ns", "gc_ms", "tasks", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes",
)


def rollup(stages: list[dict], lo: float, hi: float) -> dict:
    """Sum stage metrics and measure how much of [lo, hi] (epoch s) no
    stage was active in: the driver-side gap of a collect().

    ``stages`` hold the STAGE_FIELDS plus ``submit_s``/``complete_s``;
    skipped stages must already be left out. Units are converted here:
    run/gc/fetch-wait are milliseconds and CPU is nanoseconds in the
    status store."""
    out = {k: 0 for k in STAGE_FIELDS}
    for st in stages:
        for k in STAGE_FIELDS:
            out[k] += st[k]
    active = union_length([(s["submit_s"], s["complete_s"]) for s in stages], lo, hi)
    return {
        "run_s": out["run_ms"] / 1e3,
        "cpu_s": out["cpu_ns"] / 1e9,
        "gc_s": out["gc_ms"] / 1e3,
        "tasks": out["tasks"],
        "stages": len(stages),
        "shuffle_write_bytes": out["shuffle_write_bytes"],
        "shuffle_read_bytes": out["shuffle_read_bytes"],
        "fetch_wait_s": out["fetch_wait_ms"] / 1e3,
        "spill_bytes": out["spill_bytes"],
        "driver_gap_s": (hi - lo) - active,
    }


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def fetch_stages(spark, job_ids: list[int]) -> list[dict]:
    """Stage records for ``job_ids`` from the status store, which the
    listener bus fills even with ``spark.ui.enabled=false``."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = []
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store, or never submitted
            continue
        submit, complete = _opt_s(sd.submissionTime()), _opt_s(sd.completionTime())
        if submit is None or sd.status().toString() == "SKIPPED":
            continue
        out.append({
            "run_ms": sd.executorRunTime(),
            "cpu_ns": sd.executorCpuTime(),
            "gc_ms": sd.jvmGcTime(),
            "tasks": sd.numCompleteTasks(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "fetch_wait_ms": sd.shuffleFetchWaitTime(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "submit_s": submit,
            "complete_s": complete if complete is not None else time.time(),
        })
    return out


# --------------------------------------------------------------------------
# SQL metrics of the executed plan
# --------------------------------------------------------------------------

# SQLMetric.metricType -> factor to the reported unit (s for timings).
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}

PY_METRICS = {
    "pythonTotalTime": "python.run_s",
    "pythonBootTime": "python.init_s",
    "pythonInitTime": "python.init_s",
    "pythonDataSent": "python.bytes_sent",
    "pythonDataReceived": "python.bytes_recv",
}


def walk_plan(node, visit) -> None:
    """Visit every physical operator under ``node``, descending through
    AQE wrappers the way the final plan is actually built: a plain
    ``children()`` walk stops at ``AdaptiveSparkPlanExec`` (a leaf) and
    at query stages, and so never sees the operators that ran inside
    them (the mapInPandas of q_simhash_pairs, for one)."""
    stack = [node]
    while stack:
        n = stack.pop()
        kind = n.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            # executedPlan() is the final plan once the query has run;
            # finalPhysicalPlan() would *run* a plan that has not.
            stack.append(n.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        visit(kind, n)
        for seq in (n.children(), n.subqueries()):
            for i in range(seq.size()):
                stack.append(seq.apply(i))


def plan_metrics(jplan) -> dict[str, float]:
    """Sum the Python-boundary SQL metrics over the executed plan, with
    each metric's own unit (ms vs ns timing) converted first."""
    out: dict[str, float] = defaultdict(float)

    def visit(kind, n):
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            name = kv._1()
            if name in PY_METRICS:
                m = kv._2()
                out[PY_METRICS[name]] += m.value() * _UNIT.get(m.metricType(), 1.0)

    walk_plan(jplan, visit)
    return dict(out)


# --------------------------------------------------------------------------
# Streaming
# --------------------------------------------------------------------------

PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def make_listener(store: list[dict]):
    """A StreamingQueryListener that keeps every progress record (parsed
    JSON) in ``store``, in arrival order."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            store.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def _log_entries(log_dir: str):
    """(name, lines after the version line) of each file of a streaming
    metadata log directory, skipping checksums and temporary files."""
    if not os.path.isdir(log_dir):
        return
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            yield name, [x for x in fh.read().splitlines()[1:] if x.strip()]


def committed_files(checkpoint: str) -> dict[int, list[str]]:
    """Query batchId -> file names the file source admitted in it.

    The source's own metadata log (plain and ``.compact`` entries) numbers
    its entries by the source's log offset, which only advances in
    batches that find new files; a batch that runs without new data (to
    advance the watermark) does not. The query's offsets log gives each
    query batch's end log offset, so a batch holds the source entries
    after the previous batch's offset, up to its own."""
    by_offset: dict[int, list[str]] = defaultdict(list)
    seen: set[str] = set()
    for _, lines in _log_entries(os.path.join(checkpoint, "sources", "0")):
        for line in lines:
            rec = json.loads(line)
            base = os.path.basename(rec["path"])
            if base not in seen:
                seen.add(base)
                by_offset[int(rec["batchId"])].append(base)
    ends = {}
    for name, lines in _log_entries(os.path.join(checkpoint, "offsets")):
        if name.isdigit() and len(lines) >= 2:
            ends[int(name)] = int(json.loads(lines[1])["logOffset"])
    out: dict[int, list[str]] = {}
    prev = -1
    for bid in sorted(ends):
        files = [f for o in sorted(by_offset) if prev < o <= ends[bid] for f in by_offset[o]]
        if files:
            out[bid] = files
        prev = max(prev, ends[bid])
    return out


def source_lag(published: list[tuple[float, str]], batch_end: dict[int, float],
               batch_files: dict[int, list[str]]) -> list[tuple[int, float]]:
    """Per data batch: newest published file time at the batch's end
    minus the publish time of the newest file committed so far (s).

    ``published`` is (publish time, file name) from the generator log."""
    pub_at = {f: t for t, f in published}
    times = sorted(t for t, _ in published)
    newest_committed = -math.inf
    out = []
    for bid in sorted(batch_end):
        for f in batch_files.get(bid, ()):
            if f in pub_at:
                newest_committed = max(newest_committed, pub_at[f])
        if newest_committed == -math.inf:
            continue
        end = batch_end[bid]
        newest_pub = max((t for t in times if t <= end), default=newest_committed)
        out.append((bid, max(newest_pub - newest_committed, 0.0)))
    return out


def row_latencies(deliveries: list[tuple[float, list[int]]]) -> list[float]:
    """Per emitted row: sink delivery time minus the newest ``created_ms``
    of the events in that row, in ms. ``deliveries`` holds one
    (delivery epoch ms, [max_created_ms per row]) per sink call."""
    return [t - c for t, created in deliveries for c in created]


def lag_grew(lags: list[float], slack_s: float) -> bool:
    """True when source lag at the end of the steady phase exceeds its
    start by more than ``slack_s``: the engine fell behind the offered
    rate, so the open loop no longer measures latency below capacity."""
    if len(lags) < 6:
        return False
    third = len(lags) // 3
    return statistics.median(lags[-third:]) - statistics.median(lags[:third]) > slack_s
