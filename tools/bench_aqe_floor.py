"""A/B the AQE small-stage scheduling floor (r16 task 3).

At sf0.1 ~half the suite sits at 0.3-0.55 s/query dominated by
stage-by-stage AQE latency, not compute (8-core suite wall == 32-core
wall, ~1.2 executor-CPU-s/query). The candidate knobs — all runtime
SQL confs, so one JVM can interleave variants back-to-back under the
same ambient:

- spark.sql.adaptive.coalescePartitions.initialPartitionNum (512 in
  get_spark; each exchange starts this wide before AQE coalesces)
- spark.sql.adaptive.coalescePartitions.parallelismFirst (default
  true: coalesce targets max parallelism, ignoring advisory size)
- spark.sql.adaptive.advisoryPartitionSizeInBytes (64 MB default)

Usage:
    python tools/bench_aqe_floor.py SF_DIR [reps] [q_name ...]

Protocol: `reps` interleaved rounds — every variant times every query
once per round, variants rotating inside each round so ambient drift
hits all variants equally. Each variant's first turn starts with an
untimed warm pass of every query under that variant's confs.
Reports per-variant per-query medians + totals as one JSON document.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_wikipedia_spark.plans import REGISTRY  # noqa: E402
from flink_wikipedia_spark.plans.registry import release_caches  # noqa: E402
from flink_wikipedia_spark.session import get_spark  # noqa: E402

_I = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
_PF = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
_ADV = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

VARIANTS: dict[str, dict[str, str]] = {
    "baseline_512": {},
    "init_4xdp": {_I: "DP4"},  # resolved to 4*defaultParallelism below
    "pf_false": {_PF: "false"},
    "init_4xdp_pf_false": {_I: "DP4", _PF: "false"},
    "adv_16m": {_ADV: str(16 * 1024 * 1024)},
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("bench-aqe-floor")
    spark.sparkContext.setLogLevel("ERROR")
    dp = spark.sparkContext.defaultParallelism
    for conf in VARIANTS.values():
        if conf.get(_I) == "DP4":
            conf[_I] = str(4 * dp)

    names = sys.argv[3:] or [
        n for n, qd in REGISTRY.items() if qd.alias_of is None
    ]
    saved = {k: spark.conf.get(k, None) for v in VARIANTS.values() for k in v}

    def set_variant(conf: dict[str, str]) -> None:
        for k, v in saved.items():
            if k in conf:
                spark.conf.set(k, conf[k])
            elif v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    def run_one(name: str) -> float:
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        release_caches()
        return dt

    samples: dict[str, dict[str, list[float]]] = {
        v: {n: [] for n in names} for v in VARIANTS
    }
    for rep in range(reps):
        for vname, conf in VARIANTS.items():
            set_variant(conf)
            if rep == 0:
                # warm under THIS variant's confs, untimed: codegen, scan
                # paths and its first AQE stages at its partition counts
                for n in names:
                    run_one(n)
            for n in names:
                samples[vname][n].append(run_one(n))
    set_variant({})

    out = {
        "sf_dir": sf_dir,
        "reps": reps,
        "n_queries": len(names),
        "default_parallelism": dp,
        "load_avg": [round(x, 2) for x in os.getloadavg()[:2]],
        "variants": {},
    }
    for vname in VARIANTS:
        per_q = {n: round(statistics.median(xs), 3) for n, xs in samples[vname].items()}
        out["variants"][vname] = {
            "total": round(sum(per_q.values()), 3),
            "queries": per_q,
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
