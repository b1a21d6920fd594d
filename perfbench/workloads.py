"""The benchmark's workloads, driven through the package's public entry
points only:

- batch: ``registry.queries()[name](spark, data_dir)`` builds a query and
  ``.collect()`` runs it; the codec path is ``g711_decode_df`` over a
  fixture materialized before timing;
- stream: ``sources.streaming.file_source`` + ``decode_kafka_records``
  read the generator's files, ``streaming.windows.tumbling_agg``
  aggregates, and a foreachBatch function is the sink.

Each runner returns a ``Result``: end-to-end metrics, per-layer metrics
(traced runs), the operation counts and report lines.
"""

from __future__ import annotations

import json
import os
import random
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass, field

import collect
import datagen
import oracle
import settings
from collect import Tracer, geomean, summarize

HERE = os.path.dirname(os.path.abspath(__file__))

@dataclass
class Result:
    e2e: dict[str, float] = field(default_factory=dict)
    # Per-layer metrics; one a workload does not reach is reported as 0.
    layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    tracer: Tracer | None = None
    marks: list[tuple[str, float]] = field(default_factory=list)
    # Sample distribution behind each end-to-end metric, for the report.
    dist: dict[str, dict] = field(default_factory=dict)

    def mark(self, label: str) -> None:
        """Note the end of a run phase, for the report's time line."""
        self.marks.append((label, time.time()))

    def timeline(self) -> str:
        return " ".join(f"{b[0]} {b[1] - a[1]:.1f}s" for a, b in zip(self.marks, self.marks[1:]))


# --------------------------------------------------------------------------
# Engine lifetime
# --------------------------------------------------------------------------


def _descendants(pid: int) -> list[int]:
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    kids = [int(x) for x in fh.read().split()]
            except OSError:
                continue
            out.extend(kids)
            stack.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ")[-1][:1] != "Z"
    except OSError:
        return False


class Engine:
    """One run's SparkSession and the JVM behind it. ``start`` launches
    the JVM the first time and restarts the session inside it later;
    ``close`` ends the JVM and everything it spawned."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.launcher = None
        self.jvm = None

    def start(self):
        from stream_processing_platform_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": f"{self.work}/warehouse",
                # A fixed-size heap, resident from the start: with heap
                # resizing, or with heap pages touched as allocation
                # reaches them, peak RSS swung by a quarter between runs
                # of the same code. Peak RSS is then the heap plus what
                # the JVM holds outside it; heap use is jvm.heap_peak_mb.
                "spark.driver.extraJavaOptions": f"-Xms{settings.DRIVER_MEM} -XX:+AlwaysPreTouch",
            },
        )
        if self.launcher is None:
            from pyspark import SparkContext

            self.launcher = SparkContext._gateway.proc
            self.jvm = collect.jvm_pid(self.launcher.pid)
        return self.spark

    def peak_rss_mb(self) -> float:
        return collect.peak_rss_mb(self.jvm)

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peak used bytes, in MiB: with a fixed
        heap, RSS no longer shows how much of it the engine used."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        pools = mf.getMemoryPoolMXBeans()
        return sum(pools.get(i).getPeakUsage().getUsed() for i in range(pools.size())
                   if pools.get(i).getType().toString() == "Heap memory") / 2**20

    def close(self) -> None:
        if self.launcher is None:
            return
        from pyspark import SparkContext

        kids = _descendants(self.launcher.pid)
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if self.launcher.stdin:
                self.launcher.stdin.close()
            try:
                self.launcher.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.launcher.kill()
                self.launcher.wait()
            deadline = time.time() + 15
            for pid in kids:
                while _alive(pid) and time.time() < deadline:
                    time.sleep(0.05)
                if _alive(pid):
                    os.kill(pid, signal.SIGKILL)


# --------------------------------------------------------------------------
# Batch
# --------------------------------------------------------------------------


@dataclass
class Op:
    name: str
    build: object  # (spark) -> DataFrame
    sql: str


@dataclass
class Exec:
    op: str
    pass_no: int
    traced: bool
    t0: float
    t_built: float
    t_planned: float
    t_end: float
    rows: list
    schema: object
    df: object = None
    build_jobs: tuple = ()
    group: str = ""


def _decode_paths() -> dict:
    """Registered codec query -> (payload synthesizer, decode stage): the
    two halves its registered query chains, split so that only decode
    is timed."""
    from stream_processing_platform_spark.queries.similarity import (
        _synth_g711_payload, g711_decode_df)

    return {"q_audio_segments_g711": (_synth_g711_payload, g711_decode_df)}


def _batch_ops(cfg: dict, data: str, fixture: str) -> list[Op]:
    from stream_processing_platform_spark.registry import oracle_sql, queries

    qs, sqls = queries(), oracle_sql()
    ops = [Op(q, (lambda spark, q=q: qs[q](spark, data)), sqls[q]) for q in cfg["queries"]]
    for q in cfg["decode"]:
        dec = _decode_paths()[q][1]
        ops.append(Op(q + ":decode",
                      (lambda spark, dec=dec, q=q: dec(spark.read.parquet(os.path.join(fixture, q)))),
                      sqls[q]))
    return ops


def _materialize_fixtures(cfg: dict, data: str, fixture: str) -> None:
    """Write each decode path's input (media_id, content) with the same
    payload synthesizer its registered query uses, without Spark: the
    fixture is input, and its encode cost stays out of the run. It is
    split into one file per core, so the scan, and the decode behind it,
    runs one task per core (one small file would be one task)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for q in cfg["decode"]:
        ids = pq.read_table(os.path.join(data, "documents.parquet"))["doc_id"].to_pylist()
        synth = _decode_paths()[q][0]
        # The synthesizer is a pure function of the id modulo 15.
        payload = {r: synth(r) for r in range(15)}
        out = os.path.join(fixture, q)
        os.makedirs(out)
        for i in range(settings.CPUS):
            part = ids[i::settings.CPUS]
            pq.write_table(pa.table({
                "media_id": pa.array(part, pa.int64()),
                "content": pa.array([payload[d % 15] for d in part], pa.binary()),
            }), os.path.join(out, f"part-{i}.parquet"))


def run_batch(seed: int, seconds: float, trace: bool, work: str) -> Result:
    cfg = settings.BATCH
    res = Result(tracer=Tracer(enabled=trace))
    tr = res.tracer
    data, fixture = os.path.join(work, "data"), os.path.join(work, "fixture")
    res.mark("start")
    datagen.write(data, datagen.tables(seed, cfg["tables"], cfg.get("scale", 0.0), settings.DOCS))
    _materialize_fixtures(cfg, data, fixture)
    res.mark("inputs")
    ops = _batch_ops(cfg, data, fixture)
    engine = Engine(work)
    setups: list[float] = []

    def warm_pass(spark) -> None:
        for op in ops:
            op.build(spark).collect()

    def setup() -> None:
        t0 = time.time()
        warm_pass(engine.start())
        setups.append(time.time() - t0)

    try:
        # All set-ups come first, so the timed passes run in a JVM that
        # has already done every warm-up pass.
        for _ in range(settings.SETUP_REPEATS):
            setup()
        res.mark("setups")
        spark = engine.spark
        warm_end = time.time() + settings.WARMUP_S
        while time.time() < warm_end:
            warm_pass(spark)
        res.mark("warmup")
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        rng = random.Random(seed)
        execs: list[Exec] = []
        last_df: dict = {}
        passes: list[tuple[float, bool]] = []
        deadline = time.time() + seconds
        k = 0
        while True:
            order = ops[:]
            rng.shuffle(order)
            traced = trace and k % 2 == 1
            tp = time.time()
            with tr.span("pass", f"p{k}") if traced else nullcontext():
                for op in order:
                    res.attempted += 1
                    group = f"batch/{k}/{op.name}"
                    if traced:
                        sc.setJobGroup(group, group)
                    try:
                        with tr.span("query", group) if traced else nullcontext():
                            t0 = time.time()
                            with tr.span("build", group) if traced else nullcontext():
                                df = op.build(spark)
                            t_built = t_planned = time.time()
                            build_jobs: tuple = ()
                            if traced:
                                build_jobs = tuple(tracker.getJobIdsForGroup(group))
                                with tr.span("plan", group):
                                    df._jdf.queryExecution().executedPlan()
                                t_planned = time.time()
                            with tr.span("execute", group) if traced else nullcontext():
                                rows = df.collect()
                            t_end = time.time()
                    except Exception as e:  # a failed query is a measured failure
                        res.failed += 1
                        res.notes.append(f"FAIL {op.name}: {type(e).__name__}: {str(e)[:200]}")
                        continue
                    finally:
                        if traced:
                            sc.setLocalProperty("spark.jobGroup.id", None)
                    last_df[op.name] = df
                    execs.append(Exec(op.name, k, traced, t0, t_built, t_planned, t_end,
                                      [tuple(r) for r in rows], df.schema,
                                      df if traced else None, build_jobs, group))
            passes.append((time.time() - tp, traced))
            k += 1
            # A traced run needs a traced pass (the odd ones).
            if time.time() >= deadline and (not trace or k >= 2):
                break

        res.mark("timed")
        # Rows one pass reads: every file each query scans, counted per
        # query (planning only; nothing runs).
        input_rows = sum(_parquet_rows(f) for df in last_df.values() for f in df.inputFiles())
        # Correctness, outside the timed region.
        bo = oracle.BatchOracle(data, cfg["tables"])
        sql = {op.name: op.sql for op in ops}
        for ex in execs:
            with tr.span("verify", ex.group) if tr.enabled else nullcontext():
                errs = bo.check(ex.op.split(":")[0], sql[ex.op], ex.schema, ex.rows)
            if errs:
                res.failed += 1
                res.notes.append(f"MISMATCH {ex.op} pass {ex.pass_no}: {errs[0]}")

        res.mark("verify")
        if trace:
            _batch_layers(res, spark, execs, passes)
            res.mark("layers")
        res.e2e["peak_rss_mb"] = engine.peak_rss_mb()
        res.layer["jvm.heap_peak_mb"] = engine.heap_peak_mb()
    finally:
        engine.close()
    res.mark("close")

    untraced = [w for w, t in passes if not t] or [w for w, _ in passes]
    per_q: dict[str, list[float]] = defaultdict(list)
    for ex in execs:
        per_q[ex.op].append(ex.t_end - ex.t0)
    lat = collect.per_query_latency({q: [t * 1e3 for t in v] for q, v in per_q.items()})
    pass_s = statistics.median(untraced)
    res.e2e.update({
        "setup_s": statistics.median(setups),
        "pass_s": pass_s,
        "query_geomean_s": geomean([statistics.median(v) for v in per_q.values()]),
        "latency_p50_ms": lat["p50"],
        "latency_tail_ms": lat["tail"],
        "drain_eps": input_rows / pass_s,
    })
    res.dist.update({
        "setup_s": summarize(setups), "pass_s": summarize(untraced),
        "query_geomean_s": summarize([statistics.median(v) for v in per_q.values()]),
        "drain_eps": summarize([input_rows / w for w in untraced]),
    })
    # The first set-up launches the JVM; setup_s, the median, is a
    # restart inside it.
    res.layer["setup.cold_s"] = setups[0]
    res.notes.append(f"setup samples (s), the first one cold: {[round(s, 3) for s in setups]}")
    res.notes.append(f"passes: {len(passes)}, pass_s samples: {[round(w, 3) for w, _ in passes]}")
    for q, d in lat["per_query"].items():
        tail = f" p{d['tail_p']:g} {d['tail']:.1f}ms" if d["tail_p"] > 50 else ""
        res.notes.append(f"  {q}: p50 {d['p50']:.1f}ms{tail} n={d['n']}")
    if trace:
        traced_w = [w for w, t in passes if t]
        if traced_w and len(traced_w) < len(passes):
            res.layer["trace.overhead_s"] = statistics.median(traced_w) - statistics.median(untraced)
    return res


def _parquet_rows(uri: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(uri.removeprefix("file://").removeprefix("file:")).metadata.num_rows


def _exec_layers(spark, tracker, ex: Exec) -> dict[str, float]:
    """Layer numbers of one traced query execution."""
    jobs = sorted(tracker.getJobIdsForGroup(ex.group))
    run_jobs = [j for j in jobs if j not in ex.build_jobs]
    r_all = collect.rollup(collect.fetch_stages(spark, jobs), ex.t0, ex.t_end)
    r_run = collect.rollup(collect.fetch_stages(spark, run_jobs), ex.t_planned, ex.t_end)
    out = {
        "queries.build_s": ex.t_built - ex.t0,
        "queries.build_jobs": len(ex.build_jobs),
        "plan_s": ex.t_planned - ex.t_built,
        "scheduler.driver_gap_s": r_run["driver_gap_s"],
        "scheduler.jobs": len(run_jobs),
        "scheduler.stages": r_run["stages"],
        "shuffle.write_bytes": r_all["shuffle_write_bytes"],
        "shuffle.read_bytes": r_all["shuffle_read_bytes"],
        "shuffle.fetch_wait_s": r_all["fetch_wait_s"],
        "shuffle.spill_bytes": r_all["spill_bytes"],
        "wall_s": ex.t_end - ex.t0,
    }
    for k in ("run_s", "cpu_s", "gc_s", "tasks"):
        out[f"executor.{k}"] = r_all[k]
    out.update(collect.plan_metrics(ex.df._jdf.queryExecution().executedPlan()))
    return out


def _batch_layers(res: Result, spark, execs: list[Exec], passes) -> None:
    """Per-layer metrics for batch, as totals per traced pass, plus a
    per-query split in the report."""
    tracker = spark.sparkContext.statusTracker()
    n_passes = sum(1 for _, t in passes if t) or 1
    per_op: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ex in (e for e in execs if e.traced):
        for k, v in _exec_layers(spark, tracker, ex).items():
            per_op[ex.op][k] += v / n_passes
    total: dict[str, float] = defaultdict(float)
    for op, layers in per_op.items():
        for k, v in layers.items():
            total[k] += v
        res.notes.append(
            f"  layers {op}: build {layers['queries.build_s']:.3f}s "
            f"({layers['queries.build_jobs']:.0f} jobs), plan {layers['plan_s']:.3f}s, "
            f"driver gap {layers['scheduler.driver_gap_s']:.3f}s, executor run "
            f"{layers['executor.run_s']:.3f}s, python run {layers.get('python.run_s', 0.0):.3f}s, "
            f"shuffle write {layers['shuffle.write_bytes']:.0f}B")
    wall = total.pop("wall_s", 0.0)
    res.layer.update(total)
    res.layer["executor.slot_util"] = total["executor.run_s"] / max(wall * settings.CPUS, 1e-9)
    _self_times(res)


def _self_times(res: Result) -> None:
    st = collect.self_times(res.tracer.spans)
    n = max(1, len({s.trace for s in res.tracer.spans if s.name == "pass"}))
    for name in ("pass", "query", "build", "plan", "execute", "trigger", "sink"):
        res.layer[f"self.{name}_s"] = st.get(name, 0.0) / n
    res.layer["self.verify_s"] = st.get("verify", 0.0) / n
    res.layer["self.add_batch_s"] = st.get("addBatch", 0.0) / n


# --------------------------------------------------------------------------
# Stream
# --------------------------------------------------------------------------


class Sink:
    """foreachBatch function: collects each micro-batch's rows and the
    time it delivered them."""

    def __init__(self):
        self.calls: list[tuple[int, float, float, list[tuple]]] = []

    def __call__(self, batch_df, batch_id):
        from pyspark.sql import functions as F

        t0 = time.time()
        rows = batch_df.select(
            F.unix_millis("window_start").alias("ws"), "user_id", "n", "cents",
            "max_created_ms").collect()
        self.calls.append((batch_id, t0, time.time(), [tuple(r) for r in rows]))

    def final(self) -> dict:
        """Last emitted row per (window start ms, user_id)."""
        out = {}
        for _, _, _, rows in sorted(self.calls, key=lambda c: c[0]):
            for ws, u, n, c, m in rows:
                out[(ws, u)] = (n, c, m)
        return out

    def last_data_delivery(self) -> float:
        return max(t1 for _, _, t1, rows in self.calls if rows)


def _gen(mode: str, seed: int, out: str, log: str, *extra: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "streamgen.py"), mode, "--seed", str(seed),
         "--out", out, "--log", log, *extra])


def _read_log(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


@dataclass
class StreamPass:
    kind: str          # "drain" | "open"
    traced: bool
    t0: float
    t_end: float
    sink: Sink
    ckpt: str
    run_id: str
    progress: list
    span: int | None = None


def _await_listener(store: list[dict], run_id: str, n: int, timeout: float = 5.0) -> None:
    """Wait until the listener has delivered ``n`` progress records of
    ``run_id``: delivery is asynchronous, and removing the listener
    drops whatever is still queued."""
    deadline = time.time() + timeout
    while sum(1 for pr in store if pr["runId"] == run_id) < n and time.time() < deadline:
        time.sleep(0.02)


def _progress(q) -> list[dict]:
    """The query's retained progress records, as parsed JSON."""
    return [json.loads(pr.json) for pr in q.recentProgress]


def run_stream(seed: int, seconds: float, trace: bool, work: str) -> Result:
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from stream_processing_platform_spark.sources.streaming import (
        KAFKA_RELATION_DDL, decode_kafka_records, file_source)
    from stream_processing_platform_spark.streaming.windows import tumbling_agg

    p = settings.STREAM
    res = Result(tracer=Tracer(enabled=trace))
    res.mark("start")
    backlog, warm, live = (os.path.join(work, d) for d in ("backlog", "warm", "live"))
    for d in (warm, live):
        os.makedirs(d)
    blog = os.path.join(work, "backlog.log")
    g = _gen("backlog", seed, backlog, blog, "--files", str(p["backlog_files"]))
    if g.wait() != 0:
        raise RuntimeError("stream generator failed")
    backlog_log = _read_log(blog)
    for rec in backlog_log[: p["warmup_files"]]:
        os.link(os.path.join(backlog, rec["file"]), os.path.join(warm, rec["file"]))
    backlog_events = sum(r["n"] for r in backlog_log)
    res.mark("inputs")
    win_ms = int(p["window"].split()[0]) * 1000
    expected_backlog = oracle.stream_expected(
        [os.path.join(backlog, r["file"]) for r in backlog_log], win_ms)
    value_schema = StructType([StructField(c, LongType()) for c in ("user_id", "cents", "created_ms")])
    progress: list[dict] = []
    engine = Engine(work)
    setups: list[float] = []
    n_ckpt = [0]

    def start(src: str, sink: Sink, available_now: bool):
        spark = engine.spark
        kafka_schema = spark.createDataFrame([], KAFKA_RELATION_DDL).schema
        src_df = file_source(spark, src, kafka_schema,
                             max_files_per_trigger=p["max_files_per_trigger"])
        events = decode_kafka_records(src_df, value_schema)
        agg = tumbling_agg(events, "timestamp", p["window"], ["user_id"],
                           [F.count("*").alias("n"), F.sum("cents").alias("cents"),
                            F.max("created_ms").alias("max_created_ms")],
                           watermark_delay=p["watermark"])
        n_ckpt[0] += 1
        ckpt = os.path.join(work, f"ckpt{n_ckpt[0]}")
        w = (agg.writeStream.foreachBatch(sink).outputMode("update")
             .option("checkpointLocation", ckpt))
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start(), ckpt

    def drain(src: str, traced: bool) -> StreamPass:
        sink = Sink()
        t0 = time.time()
        q, ckpt = start(src, sink, available_now=True)
        q.awaitTermination()
        t_end = sink.last_data_delivery()
        prog = _progress(q)
        if traced:
            _await_listener(progress, str(q.runId), len(prog))
        return StreamPass("drain", traced, t0, t_end, sink, ckpt, str(q.runId), prog)

    def setup() -> None:
        t0 = time.time()
        spark = engine.start()
        spark.conf.set("spark.sql.shuffle.partitions", str(p["shuffle_partitions"]))
        drain(warm, traced=False)
        setups.append(time.time() - t0)

    listener = None
    try:
        for _ in range(settings.SETUP_REPEATS):
            setup()
        res.mark("setups")
        spark = engine.spark
        drain(backlog, traced=False)
        res.mark("warmup")
        if trace:
            listener = collect.make_listener(progress)
        passes: list[StreamPass] = []
        for k in range(p["drains"]):
            traced = trace and k % 2 == 1
            if traced:
                spark.streams.addListener(listener)
            with res.tracer.span("pass", f"drain{k}") if traced else nullcontext() as span:
                sp = drain(backlog, traced)
            sp.span = span.id if span else None
            if traced:
                spark.streams.removeListener(listener)
            passes.append(sp)

        # Open loop for --seconds: the generator publishes on its own
        # clock; the query runs with the default trigger (next batch as
        # soon as the last one ends and new files exist).
        res.mark("drains")
        live_log = os.path.join(work, "live.log")
        start_ms = int((time.time() + 1.5) * 1e3)
        gen = _gen("open", seed, live, live_log, "--start-ms", str(start_ms),
                   "--seconds", str(seconds))
        try:
            if trace:
                spark.streams.addListener(listener)
            sink = Sink()
            with res.tracer.span("pass", "open") if trace else nullcontext() as span:
                open_span = span.id if span else None
                q, ckpt = start(live, sink, available_now=False)
                if gen.wait(timeout=seconds + 60) != 0:
                    raise RuntimeError("stream generator failed")
                q.processAllAvailable()
                q.stop()
                if trace:
                    _await_listener(progress, str(q.runId), len(_progress(q)))
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        if trace:
            spark.streams.removeListener(listener)
        live_log_recs = _read_log(live_log)
        opened = StreamPass("open", trace, start_ms / 1e3, sink.last_data_delivery(), sink,
                            ckpt, str(q.runId), _progress(q), open_span)

        res.mark("open_loop")
        # Correctness and health, outside the timed region.
        for sp in passes:
            with res.tracer.span("verify", sp.run_id) if trace else nullcontext():
                bad = oracle.stream_mismatches(sp.sink.final(), expected_backlog)
            res.attempted += len(expected_backlog)
            res.failed += bad
            if bad:
                res.notes.append(f"MISMATCH drain {sp.run_id}: {bad} keys")
        with res.tracer.span("verify", opened.run_id) if trace else nullcontext():
            expected_live = oracle.stream_expected(
                [os.path.join(live, r["file"]) for r in live_log_recs], win_ms)
            bad = oracle.stream_mismatches(opened.sink.final(), expected_live)
        res.attempted += len(expected_live)
        res.failed += bad
        if bad:
            res.notes.append(f"MISMATCH open loop: {bad} keys")
        dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                      for sp in passes + [opened] for pr in sp.progress
                      for op in pr.get("stateOperators", []))
        if dropped:
            res.failed += dropped
            res.notes.append(f"DROPPED by watermark: {dropped} rows")
        published = [(r["pub_ms"] / 1e3, r["file"]) for r in live_log_recs]
        batch_end = {bid: t1 for bid, _, t1, rows in opened.sink.calls if rows}
        lags = [lag for _, lag in collect.source_lag(
            published, batch_end, collect.committed_files(opened.ckpt))]
        if collect.lag_grew(lags, p["lag_slack_s"]):
            res.failed += 1
            res.notes.append(f"LAG GREW over the open loop: {[round(x, 2) for x in lags]}")
        res.attempted += 1

        res.mark("verify")
        if trace:
            _stream_layers(res, spark, passes + [opened], progress, lags, work)
            res.mark("layers")
        res.layer["gen.late_ms"] = max(r["pub_ms"] - r["due_ms"] for r in live_log_recs)
        res.e2e["peak_rss_mb"] = engine.peak_rss_mb()
        res.layer["jvm.heap_peak_mb"] = engine.heap_peak_mb()
    finally:
        engine.close()
    res.mark("close")

    drains = [sp.t_end - sp.t0 for sp in passes if not sp.traced] or \
        [sp.t_end - sp.t0 for sp in passes]
    lat_ms = collect.row_latencies(
        [(t1 * 1e3, [r[4] for r in rows]) for _, _, t1, rows in opened.sink.calls])
    lat = summarize(lat_ms, max_p=p["latency_tail_p"])
    drain_s = statistics.median(drains)
    res.e2e.update({
        "setup_s": statistics.median(setups),
        "pass_s": drain_s,
        "query_geomean_s": drain_s,
        "latency_p50_ms": lat["p50"],
        "latency_tail_ms": lat["tail"],
        "drain_eps": backlog_events / drain_s,
    })
    res.dist.update({
        "setup_s": summarize(setups), "pass_s": summarize(drains),
        "query_geomean_s": summarize(drains), "latency_p50_ms": lat, "latency_tail_ms": lat,
        "drain_eps": summarize([backlog_events / d for d in drains]),
    })
    # The first set-up launches the JVM; setup_s, the median, is a
    # restart inside it.
    res.layer["setup.cold_s"] = setups[0]
    res.notes.append(f"setup samples (s), the first one cold: {[round(s, 3) for s in setups]}")
    res.notes.append(f"drains: {[round(d, 3) for d in drains]} over {backlog_events} events")
    res.notes.append(f"open loop: {len(live_log_recs)} files, {lat['n']} rows; source lag p50 "
                     f"{statistics.median(lags) if lags else 0:.3f}s; latency ms "
                     + " ".join(f"p{q:g} {collect.percentile(lat_ms, q):.1f}" for q in (90, 95, 99, 99.9)))
    if trace:
        traced_d = [sp.t_end - sp.t0 for sp in passes if sp.traced]
        untraced_d = [sp.t_end - sp.t0 for sp in passes if not sp.traced]
        if traced_d and untraced_d:
            res.layer["trace.overhead_s"] = statistics.median(traced_d) - statistics.median(untraced_d)
    return res


def _stream_layers(res: Result, spark, passes: list[StreamPass], progress: list[dict],
                   lags: list[float], work: str) -> None:
    """Per-layer metrics for the stream, over the traced passes: counts
    are totals, times are means per trigger."""
    from datetime import datetime

    traced = [sp for sp in passes if sp.traced]
    runs = {sp.run_id: sp for sp in traced}
    prs = [pr for pr in progress if pr["runId"] in runs]
    n = max(len(prs), 1)
    L = defaultdict(float)
    tr = res.tracer
    sink_by_batch = {(sp.run_id, bid): (t0, t1) for sp in traced for bid, t0, t1, _ in sp.sink.calls}
    for pr in prs:
        d = pr["durationMs"]
        start = datetime.fromisoformat(pr["timestamp"].replace("Z", "+00:00")).timestamp()
        trig = tr.add("trigger", pr["runId"], start, start + d.get("triggerExecution", 0) / 1e3,
                      runs[pr["runId"]].span)
        t = start
        for ph in collect.PHASES:
            ms = d.get(ph, 0)
            sid = tr.add(ph, pr["runId"], t, t + ms / 1e3, trig)
            if ph == "addBatch" and (pr["runId"], pr["batchId"]) in sink_by_batch:
                s0, s1 = sink_by_batch[(pr["runId"], pr["batchId"])]
                tr.add("sink", pr["runId"], s0, s1, sid)
            t += ms / 1e3
        rows = pr.get("numInputRows", 0)
        L["streaming.triggers"] += 1
        L["streaming.empty_trigger_frac"] += rows == 0
        L["sources.input_rows"] += rows
        L["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
        L["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        L["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
        L["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
        L["streaming.commit_offsets_s"] += d.get("commitOffsets", 0) / 1e3
        L["sources.latest_offset_s"] += d.get("latestOffset", 0) / 1e3
        L["sources.get_batch_s"] += d.get("getBatch", 0) / 1e3
        for so in pr.get("stateOperators", []):
            L["state.rows"] = max(L["state.rows"], so.get("numRowsTotal", 0))
            L["state.mem_bytes"] = max(L["state.mem_bytes"], so.get("memoryUsedBytes", 0))
            L["state.commit_s"] += so.get("commitTimeMs", 0) / 1e3
            L["state.update_s"] += so.get("allUpdatesTimeMs", 0) / 1e3
            L["state.removal_s"] += so.get("allRemovalsTimeMs", 0) / 1e3
            L["state.dropped_by_watermark"] += so.get("numRowsDroppedByWatermark", 0)
    for k in ("streaming.trigger_s", "streaming.add_batch_s", "streaming.query_planning_s",
              "streaming.wal_commit_s", "streaming.commit_offsets_s", "sources.latest_offset_s",
              "sources.get_batch_s", "state.commit_s", "state.update_s", "state.removal_s",
              "streaming.empty_trigger_frac"):
        L[k] /= n
    L["streaming.rows_per_trigger"] = L["sources.input_rows"] / n
    # Bytes the source admitted: sizes of the files it committed.
    for sp in traced:
        src = os.path.join(work, "backlog" if sp.kind == "drain" else "live")
        for files in collect.committed_files(sp.ckpt).values():
            L["sources.input_bytes"] += sum(os.path.getsize(os.path.join(src, f)) for f in files)
    # Executor/scheduler from the status store: streaming runs its jobs
    # in a job group named after the query's runId.
    tracker = spark.sparkContext.statusTracker()
    wall = 0.0
    for sp in traced:
        jobs = list(tracker.getJobIdsForGroup(sp.run_id))
        r = collect.rollup(collect.fetch_stages(spark, jobs), sp.t0, sp.t_end)
        L["scheduler.driver_gap_s"] += r["driver_gap_s"]
        L["scheduler.jobs"] += len(jobs)
        L["scheduler.stages"] += r["stages"]
        for k in ("run_s", "cpu_s", "gc_s", "tasks"):
            L[f"executor.{k}"] += r[k]
        L["shuffle.write_bytes"] += r["shuffle_write_bytes"]
        L["shuffle.read_bytes"] += r["shuffle_read_bytes"]
        L["shuffle.fetch_wait_s"] += r["fetch_wait_s"]
        L["shuffle.spill_bytes"] += r["spill_bytes"]
        wall += sp.t_end - sp.t0
    L["executor.slot_util"] = L["executor.run_s"] / max(wall * settings.CPUS, 1e-9)
    calls = [c for sp in traced for c in sp.sink.calls]
    L["sinks.write_s"] = sum(t1 - t0 for _, t0, t1, _ in calls) / max(len(calls), 1)
    L["sinks.rows"] = sum(len(rows) for *_, rows in calls)
    L["sources.lag_s"] = statistics.median(lags) if lags else 0.0
    for k, v in L.items():
        res.layer[k] = v
    _self_times(res)
