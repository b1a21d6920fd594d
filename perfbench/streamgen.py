"""Load generator for the stream workload.

Runs as its own single-threaded process, separate from Spark: the engine
only sees the parquet files it writes, shaped like the Kafka source's
relation (``KAFKA_RELATION_DDL``) with a JSON value
``{"user_id", "cents", "created_ms"}``.

    python3 perfbench/streamgen.py open    --seed N --out DIR --log FILE --start-ms T --seconds S
    python3 perfbench/streamgen.py backlog --seed N --out DIR --log FILE --files K

``open`` publishes files on a schedule fixed in advance from the seed
that does not wait for the engine: Poisson arrivals, one file every
``file_ms`` on average. Each event is stamped with its file's due time,
and the log records when each file was actually published. Poisson
arrivals are what independent producers give, and they have no fixed
period for the engine's trigger period to line up with.
``backlog`` writes the first K files of the same stream at once, with
due times on a fixed past clock, so a drain has a fixed input.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from settings import STREAM  # noqa: E402

# Backlog due times start here (2023-11-14T22:13:20Z) so its inputs do
# not depend on the wall clock.
BACKLOG_EPOCH_MS = 1_700_000_000_000

SCHEMA = pa.schema([
    ("key", pa.binary()),
    ("value", pa.binary()),
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("timestampType", pa.int32()),
    ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
])


class Stream:
    """The seeded event stream, file by file."""

    def __init__(self, seed: int, p: dict = STREAM):
        self.p = p
        self.rng = np.random.default_rng(seed)
        ranks = np.arange(1, p["users"] + 1, dtype=np.float64)
        w = ranks ** -p["zipf_s"]
        self.cdf = np.cumsum(w / w.sum())
        # Which user id holds each popularity rank.
        self.ids = self.rng.permutation(p["users"]).astype(np.int64)
        self.per_file = p["rate_eps"] * p["file_ms"] // 1000
        self.offset = 0

    def next_file(self, due_ms: int) -> pa.Table:
        n, rng = self.per_file, self.rng
        users = self.ids[np.minimum(np.searchsorted(self.cdf, rng.random(n)), len(self.ids) - 1)]
        cents = rng.integers(1, 10_000, n)
        late = rng.random(n) < self.p["ooo_frac"]
        event_ms = due_ms - np.where(late, rng.integers(1, self.p["ooo_max_ms"] + 1, n), 0)
        values = [
            f'{{"user_id":{u},"cents":{c},"created_ms":{due_ms}}}'.encode()
            for u, c in zip(users.tolist(), cents.tolist())
        ]
        t = pa.table({
            "key": [str(u).encode() for u in users.tolist()],
            "value": values,
            "topic": ["events"] * n,
            "partition": pa.array([0] * n, pa.int32()),
            "offset": np.arange(self.offset, self.offset + n, dtype=np.int64),
            "timestamp": pa.array((event_ms * 1000).astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
            "timestampType": pa.array([0] * n, pa.int32()),
            "headers": pa.array([[]] * n, SCHEMA.field("headers").type),
        }, schema=SCHEMA)
        self.offset += n
        return t


def publish(table: pa.Table, out_dir: str, name: str, mtime_s: float | None = None) -> None:
    """Write to a hidden temp name, then rename, so the file source
    never lists a half-written file."""
    tmp = os.path.join(out_dir, "." + name + ".tmp")
    pq.write_table(table, tmp)
    if mtime_s is not None:
        os.utime(tmp, (mtime_s, mtime_s))
    os.replace(tmp, os.path.join(out_dir, name))


def due_times(seed: int, start_ms: int, seconds: float, mean_ms: float) -> list[int]:
    """Poisson publish times (ms) over ``seconds`` after ``start_ms``."""
    rng = np.random.default_rng([seed, 1])
    out, t = [], float(start_ms)
    while True:
        t += rng.exponential(mean_ms)
        if t > start_ms + seconds * 1000:
            return out
        out.append(int(t))


def run_open(seed: int, out_dir: str, log_path: str, start_ms: int, seconds: float) -> None:
    s = Stream(seed)
    with open(log_path, "w") as log:
        for i, due in enumerate(due_times(seed, start_ms, seconds, s.p["file_ms"])):
            t = s.next_file(due)
            wait = due / 1e3 - time.time()
            if wait > 0:
                time.sleep(wait)
            name = f"f{i:06d}.parquet"
            publish(t, out_dir, name)
            log.write(json.dumps({"file": name, "due_ms": due, "pub_ms": time.time() * 1e3,
                                  "n": t.num_rows}) + "\n")
            log.flush()


def run_backlog(seed: int, out_dir: str, log_path: str, files: int) -> None:
    s = Stream(seed)
    fm = s.p["file_ms"]
    with open(log_path, "w") as log:
        for i in range(files):
            due = BACKLOG_EPOCH_MS + (i + 1) * fm
            name = f"b{i:06d}.parquet"
            # One second of mtime per file keeps the source's
            # oldest-first admission in generation order.
            publish(s.next_file(due), out_dir, name, mtime_s=1_600_000_000 + i)
            log.write(json.dumps({"file": name, "due_ms": due, "pub_ms": due, "n": s.per_file}) + "\n")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("open", "backlog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--start-ms", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--files", type=int, default=0)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    if a.mode == "open":
        run_open(a.seed, a.out, a.log, a.start_ms, a.seconds)
    else:
        run_backlog(a.seed, a.out, a.log, a.files)


if __name__ == "__main__":
    main()
