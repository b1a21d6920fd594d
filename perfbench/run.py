#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads: ``batch`` and ``stream``
(BENCHMARK.json says why each was chosen; settings.py holds their
inputs). Inputs are generated from ``--seed`` inside
``perfbench/.work`` and removed at the end. A batch run times passes
over its queries for ``--seconds``; a stream run times a fixed number of
drains of a pre-staged backlog, then an open loop lasting ``--seconds``.

``--trace 0`` measures end-to-end metrics with every collector off;
``--trace 1`` is the separate traced run that reports per-layer metrics
(status store per job group, SQL metrics of the executed plan, streaming
progress from a listener, spans around the benchmark's own calls) and
writes its spans to ``perfbench/out``.

End-to-end metrics, each defined for every workload:

- ``setup_s``: SparkSession start plus the warm-up (one pass over the
  queries; one drain of a small backlog), median of several set-ups.
  Only the first set-up launches the JVM, so the median is a session
  restart inside a running JVM; the cold first one is the traced run's
  ``setup.cold_s``. Input generation and oracle checks are outside both.
- ``pass_s``: median wall time of one pass over the workload's fixed
  input, construction inside the clock: every query rebuilt and
  collected (batch); one drain of the pre-staged backlog, from building
  the query until the sink delivered the last backlog batch (stream).
- ``query_geomean_s``: geometric mean over the workload's queries of each
  query's median build+collect time (the stream has one query: its
  drain time).
- ``latency_p50_ms`` / ``latency_tail_ms``: per result, delivery time
  minus the time its newest input was available. Batch: per query
  execution, build start to collect end; each query's percentile,
  combined by geometric mean over the queries. Stream: per emitted row
  in the open loop, sink delivery minus max(created_ms) of its events.
  The tail is the highest percentile with at least ten samples beyond
  it, and for the stream no higher than p90 (settings.STREAM).
- ``drain_eps``: input rows per second of one pass (the stream: backlog
  events over drain time).
- ``peak_rss_mb``: peak resident memory (VmHWM) of the driver JVM, whose
  fixed heap is resident from the start.

Batch runs make untimed passes for a few seconds after the set-ups, and
a stream run makes one untimed drain, so that timing starts warm.

Failed operations (exceptions, oracle mismatches, watermark-dropped rows,
source lag growing over the open loop) are the ``failed`` count against
``attempted`` in the result line; their ratio is the failure fraction.
The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared() -> dict:
    """BENCHMARK.json: the workloads with the reason for each, and the
    metrics with their units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def metric_spec(trace: bool) -> list[dict]:
    """The metrics a run reports, as BENCHMARK.json declares them:
    per-layer for a traced run, end-to-end otherwise."""
    return declared()["per_layer" if trace else "end_to_end"]


class Timeout(Exception):
    pass


def _alarm(signum, frame):
    raise Timeout("run exceeded its time limit")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import settings

    why = {w["name"]: w["why"] for w in declared()["workloads"]}
    if args.workload not in why:
        print(f"unknown workload {args.workload!r}; one of {sorted(why)}", file=sys.stderr)
        return 2
    spec = metric_spec(bool(args.trace))
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import stream_processing_platform_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine or its dependencies: {e}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "scripts", "driver_sim.py")):
        print("scripts/driver_sim.py (the oracle canonicalization) is missing", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    env = {
        "SPARK_GRAFT_CPUS": str(settings.CPUS),
        "SPARK_GRAFT_DRIVER_MEM": settings.DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # Every JVM the launcher starts keeps its temp files in the run's
        # directory (hsperfdata would otherwise go to /tmp).
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")

    import collect
    import workloads

    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(170)
    try:
        cal = collect.calibrate()
        cpu0 = collect.cpu_times()
        if args.workload == "stream":
            res = workloads.run_stream(args.seed, args.seconds, bool(args.trace), work)
        else:
            res = workloads.run_batch(args.seed, args.seconds, bool(args.trace), work)
        health = collect.cpu_fracs(cpu0, collect.cpu_times())
    except Timeout as e:
        print(f"ERROR: {e}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)

    res.layer["machine.cal_s"] = cal
    res.layer["machine.steal_frac"] = health["steal_frac"]
    res.layer["machine.busy_frac"] = health["busy_frac"]
    if args.trace:
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        res.tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
          f"trace {args.trace}")
    print("settings: " + " ".join(f"{k}={v}" for k, v in env.items()
                                  if k.startswith("SPARK_GRAFT")))
    print("why: " + why[args.workload])
    if args.workload == "stream":
        print("generator: " + " ".join(f"{k}={v}" for k, v in settings.STREAM.items()))
    else:
        print("inputs: " + " ".join(f"{k}={v}" for k, v in settings.BATCH.items())
              + f" docs={settings.DOCS}")
    for line in res.notes:
        print(line)
    print(f"time line: {res.timeline()}")
    print(f"machine: cal_s {cal:.3f} steal_frac {health['steal_frac']:.4f} "
          f"busy_frac {health['busy_frac']:.3f}")
    print(f"failed_frac {res.failed / max(res.attempted, 1):.6f} "
          f"({res.failed} of {res.attempted})")
    values = res.layer if args.trace else res.e2e
    names = {m["name"] for m in spec}
    undeclared = set(values) - names
    missing = set() if args.trace else names - set(values)
    if undeclared or missing:
        print(f"metrics not in BENCHMARK.json: {sorted(undeclared)}; "
              f"not measured: {sorted(missing)}", file=sys.stderr)
        return 4
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in spec}
    for k, m in metrics.items():
        d = res.dist.get(k) if not args.trace else None
        extra = ""
        if d:
            tail = f", p{d['tail_p']:g} {d['tail']:.6g}" if d["tail_p"] > 50 else ""
            extra = f"  (samples: p50 {d['p50']:.6g}{tail}, n {d['n']})"
        print(f"  {k}: {m['value']:.6g} {m['unit']}{extra}")
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
