"""Record the committed traced run of one workload, with its tracing
overhead.

    python3 perfbench/record.py --workload stream-flagship --seed 11 --seconds 10

Run from the repository root. Runs the benchmark ``PAIRS`` times
untraced and ``PAIRS`` times traced, alternating and each in its own
process, then writes ``perfbench/traces/<workload>.json``: the record
of the last traced run (spans, per-layer and end-to-end metrics) plus
``tracing_overhead``, the traced minus the untraced median pass wall.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

PAIRS = 3
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(args, trace: int) -> dict:
    path = os.path.join(
        ROOT, ".scratch", "perfbench", "results",
        f"record-{args.workload}-seed{args.seed}-trace{trace}.json",
    )
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", str(trace), "--artifact", path],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL,
    )
    with open(path) as fh:
        record = json.load(fh)
    if not record["result"]["correct"]:
        sys.exit(f"record: {args.workload} trace={trace} was not correct: {record['errors']}")
    return record


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    runs = {0: [], 1: []}
    for i in range(PAIRS):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(_run(args, trace))
    walls = {t: [r["end_to_end"]["wall_s"] for r in rs] for t, rs in runs.items()}
    untraced, traced = statistics.median(walls[0]), statistics.median(walls[1])
    record = runs[1][-1]
    record["tracing_overhead"] = {
        "pairs": PAIRS,
        "untraced_wall_s": walls[0],
        "traced_wall_s": walls[1],
        "wall_s": traced - untraced,
        "share": (traced - untraced) / untraced,
    }
    out = os.path.join(HERE, "traces", f"{args.workload}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    print(json.dumps(record["tracing_overhead"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
