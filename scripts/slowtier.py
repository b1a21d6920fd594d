#!/usr/bin/env python
"""Run the slow test tier and record its result as a JSON artifact.

The default pytest run deselects tests marked ``slow`` (pytest.ini), so
the slow tier's status would otherwise be whatever the person running
it reports. This script runs it, echoes pytest's output, and writes one
record: exit code, passed/failed/skipped/error counts and wall seconds.

Usage:
    python scripts/slowtier.py                      # writes SLOWTIER_r16.json
    python scripts/slowtier.py --out SLOWTIER_rNN.json
Exit code is pytest's.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COMMAND = [sys.executable, "-m", "pytest", "tests/", "-m", "slow", "-q", "-p", "no:cacheprovider"]


def summary_counts(line: str) -> dict[str, int]:
    """Counts from pytest's final summary line, e.g.
    ``2 failed, 85 passed, 1 skipped, 740 deselected in 1080.25s``."""
    counts = {"passed": 0, "failed": 0, "skipped": 0, "errors": 0, "deselected": 0}
    for n, word in re.findall(r"(\d+) (passed|failed|skipped|errors?|deselected)", line):
        counts["errors" if word.startswith("error") else word] += int(n)
    return counts


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default="SLOWTIER_r16.json", help="record path (repo-relative)")
    args = ap.parse_args()

    t0 = time.monotonic()
    summary = ""
    with subprocess.Popen(
        COMMAND, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True
    ) as proc:
        for line in proc.stdout:
            print(line, end="", flush=True)
            if re.search(r"\d+ (passed|failed|errors?|deselected)", line):
                summary = line.strip().strip("=").strip()
        code = proc.wait()
    wall = time.monotonic() - t0

    record = {
        "command": "python -m pytest tests/ -m slow -q -p no:cacheprovider",
        "exit_code": code,
        **summary_counts(summary),
        "wall_s": round(wall, 1),
        "summary": summary,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count(),
    }
    with open(os.path.join(ROOT, args.out), "w") as f:
        json.dump(record, f, indent=2)
        f.write("\n")
    print(json.dumps(record))
    return code


if __name__ == "__main__":
    sys.exit(main())
