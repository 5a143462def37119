"""Pin bench.py's driver-facing stdout contract and its profile.

The driver tails the LAST 2000 chars of bench stdout and parses the
JSON line it finds there; rounds 1-10 all recorded ``"parsed": null``
because the full payload never fit. compact_payload() is the fix —
these tests pin it against the REAL registry's names (the realistic
worst case: 120+ queries with long snake_case names) so a future
query-name or payload-field addition can't silently regrow the line
past the window.

The per-query profile (``queries_profile``) and the stream leg's
``stream_layers`` ride the full artifact only; their attribution by job
group is pinned on synthetic REST records here and end to end on a
UI-enabled session in a child interpreter.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import bench
from flink_wikipedia_spark.plans import REGISTRY
from perfbench.layers import streaming_layers
from tests.conftest import SF_SMOKE


def _full_payload(per_query: dict[str, float]) -> dict:
    n = len(per_query)
    return {
        "metric": "suite_wall_clock",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        "sf": 0.1,
        "runs": 3,
        "load_avg_1m_5m": [1.23, 4.56],
        "load_avg_before": [7.89, 10.11],
        "cpu_steal": {"ticks_delta": 2559, "stolen_cpu_frac": 0.0024},
        "master": "local[32]",
        "default_parallelism": 32,
        "host_cpus": 32,
        "stream_events": 10000,
        "stream_events_per_sec": 39000.0,
        "skew_join": {
            "hot_key_fraction": 0.99,
            "fact_fanout": 50,
            "sortmerge_unsalted_sec": 12.345,
            "sortmerge_salted_sec": 8.901,
            "aqe_skew_sec": 9.012,
        },
        "executor_metrics": True,
        "suite_cpu_sec": 123.456,
        "queries_profile": {
            k: dict.fromkeys(bench.PROFILE_FIELDS, 56.789) for k in per_query
        },
        "stream_layers": streaming_layers(_progress(), [400.0, 410.0, 420.0], 6, 1),
    }


def _progress() -> list[dict]:
    # three triggers shaped like StreamingQueryProgress: the first has
    # no state operator yet and skips queryPlanning
    phases = (
        "latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
        "triggerExecution",
    )

    def trigger(i: int, state: bool) -> dict:
        d = {k: 10 * i + j for j, k in enumerate(phases)}
        if i == 0:
            del d["queryPlanning"]
        return {
            "batchId": i,
            "durationMs": d,
            "stateOperators": [{"commitTimeMs": 5 * i}] if state else [],
        }

    return [trigger(0, False), trigger(1, True), trigger(2, True)]


def _registry_walls() -> dict[str, float]:
    # worst-case-ish walls: varied magnitudes, 3-decimal rounding as main()
    return {
        name: round(0.001 + (i % 97) * 0.137, 3)
        for i, name in enumerate(REGISTRY)
    }


def test_compact_line_fits_driver_tail():
    line = bench.compact_payload(_full_payload(_registry_walls()))
    assert len(line) <= bench._STDOUT_BUDGET <= 1900
    assert "\n" not in line


def test_compact_line_is_selfcontained_json_with_headline_fields():
    full = _full_payload(_registry_walls())
    d = json.loads(bench.compact_payload(full))
    # the driver contract fields survive
    assert d["metric"] == "suite_wall_clock"
    assert d["value"] == full["value"]
    assert d["unit"] == "sec"
    assert d["sf"] == 0.1
    assert d["n_queries"] == len(full["queries"])
    assert d["full_artifact"] == "BENCH.json"
    # per-query map is the SLOWEST prefix of the full map
    ranked = sorted(full["queries"].items(), key=lambda kv: -kv[1])
    shown = d["queries_shown"]
    assert 0 < shown <= len(ranked)
    assert d["queries"] == dict(ranked[:shown])
    # the big instrumentation maps must NOT ride stdout
    for banned in ("queries_profile", "stream_layers"):
        assert banned not in d
    assert d["suite_cpu_sec"] == 123.456
    # small fixed dicts (skew evidence) DO ride stdout
    assert d["skew_join"]["sortmerge_salted_sec"] == 8.901
    # scaling evidence (r16): the compact line must prove the core
    # count reached the session, or the driver's low-core probe flags
    # suspect_cpus_ignored on every latency-bound suite
    assert d["master"] == "local[32]"
    assert d["default_parallelism"] == 32
    assert d["host_cpus"] == 32


def test_compact_line_shows_a_useful_number_of_queries():
    # the budget must admit at least the 20 slowest queries with the
    # registry's real (long) names — fewer means the perf record is
    # too thin to compare rounds
    d = json.loads(bench.compact_payload(_full_payload(_registry_walls())))
    assert d["queries_shown"] >= 20


def test_compact_respects_tiny_budget_without_crashing():
    full = _full_payload(_registry_walls())
    line = bench.compact_payload(full, budget=700)
    assert len(line) <= 700
    assert json.loads(line)["n_queries"] == len(full["queries"])


def test_compact_budget_holds_for_pathological_strings():
    # ADVICE r12: the len()<=budget contract must survive byte-fat
    # metric/full_artifact strings — the minimal fallback clips them
    full = _full_payload(_registry_walls())
    full["metric"] = "m" * 5000
    full["full_artifact"] = "f" * 5000
    for budget in (2000, 700, 300):
        line = bench.compact_payload(full, budget=budget)
        assert len(line) <= budget
        json.loads(line)  # still one parseable JSON object


def test_stream_trigger_phases_ride_the_full_payload_only():
    full = _full_payload(_registry_walls())
    layers = full["stream_layers"]
    assert layers["streaming.triggers"] == 3
    assert layers["streaming.latest_offset_ms"] == 10  # median of 0, 10, 20
    assert layers["streaming.query_planning_ms"] == 16  # trigger 0 lacks it
    assert layers["streaming.add_batch_ms"] == 12
    assert layers["streaming.wal_commit_ms"] == 13
    assert layers["streaming.commit_offsets_ms"] == 14
    assert layers["streaming.sink_ms"] == 410.0
    assert layers["streaming.tasks_per_trigger"] == 2
    assert layers["streaming.state_commit_ms"] == 7.5  # trigger 0 has no state
    d = json.loads(bench.compact_payload(full))
    assert "stream_layers" not in d
    assert d["stream_events_per_sec"] == 39000.0


def test_queries_profile_attributes_stages_by_job_group():
    """One /jobs + /stages read, attributed by group: a stage two jobs
    list counts once (for the earlier job), skipped stages and jobs
    outside any query count nowhere, retried attempts add up, and each
    field is the median over runs."""
    jobs = [
        {"jobId": 0, "jobGroup": "plans:0:q_a", "stageIds": [0]},
        {"jobId": 1, "jobGroup": "exec:0:q_a", "stageIds": [0, 1, 2]},
        {"jobId": 2, "jobGroup": "exec:0:q_b", "stageIds": [3]},
        {"jobId": 3, "jobGroup": None, "stageIds": [4]},
        {"jobId": 4, "jobGroup": "exec:1:q_b", "stageIds": [5]},
    ]
    mb = 2**20
    stages = [
        {"stageId": 0, "status": "COMPLETE", "executorCpuTime": 10**9},
        {"stageId": 1, "status": "COMPLETE", "executorCpuTime": 2 * 10**9,
         "shuffleReadBytes": mb, "memoryBytesSpilled": mb, "diskBytesSpilled": mb // 2},
        {"stageId": 1, "attemptId": 1, "status": "COMPLETE", "executorCpuTime": 10**9},
        {"stageId": 2, "status": "SKIPPED", "executorCpuTime": 5 * 10**9},
        {"stageId": 3, "status": "COMPLETE", "executorCpuTime": 10**9,
         "numCompleteTasks": 4},
        {"stageId": 4, "status": "COMPLETE", "executorCpuTime": 7 * 10**9},
        {"stageId": 5, "status": "COMPLETE", "executorCpuTime": 2 * 10**9},
    ]
    groups = bench.group_totals(jobs, stages)
    assert groups["exec:0:q_b"]["numCompleteTasks"] == 4
    t = {"build_s": 0.1, "exec_s": 0.2, "py4j_calls": 10}
    prof = bench.queries_profile({"q_a": [t], "q_b": [t, t]}, groups)
    assert set(prof) == {"q_a", "q_b"}
    assert all(tuple(p) == bench.PROFILE_FIELDS for p in prof.values())
    assert prof["q_a"] == {
        "build_s": 0.1, "exec_s": 0.2, "py4j_calls": 10, "eager_jobs": 1,
        "executor_cpu_s": 4.0, "shuffle_read_mb": 1.0, "spill_mb": 1.5,
    }
    assert prof["q_b"]["eager_jobs"] == 0
    assert prof["q_b"]["executor_cpu_s"] == 1.5  # median of runs 1.0 and 2.0
    assert prof["q_b"]["shuffle_read_mb"] == 0


def test_sweep_without_ui_writes_walls_only(spark, monkeypatch):
    """The fixture session has no UI: the sweep still times every build
    and write, and the executor side is ``executor_metrics: false``
    without any REST call."""
    assert spark.sparkContext.uiWebUrl is None

    def no_rest(*args, **kwargs):
        raise AssertionError("REST call on a session without a UI")

    monkeypatch.setattr(bench, "_rest", no_rest)
    builders = {"q_map": lambda s, _: s.range(1000).selectExpr("id * 2 AS x")}
    timings = bench.sweep(spark, SF_SMOKE, builders, 2)
    assert len(timings["q_map"]) == 2
    for t in timings["q_map"]:
        assert t["build_s"] > 0 and t["exec_s"] > 0 and t["py4j_calls"] is None
    assert set(bench.median_walls(timings)) == {"q_map"}
    assert bench.executor_profile(spark, timings) == {"executor_metrics": False}
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_sweep_profiles_each_query_by_job_group_subprocess(tmp_path):
    """The real path needs a UI-enabled session, which can't coexist
    with the suite's fixture context — run the sweep in a child
    interpreter over three tiny builders and check what the one REST
    read attributes to each."""
    code = textwrap.dedent(
        """
        import json
        import os
        os.environ["SPARK_GRAFT_UI"] = "1"
        os.environ["SPARK_GRAFT_CPUS"] = "2"
        import bench

        spark = bench.get_spark("bench-profile-test")
        spark.sparkContext.setLogLevel("ERROR")

        def eager(s, _):
            assert s.range(0, 10, 1, 1).count() == 10  # one job, no exchange
            return s.range(10)

        builders = {
            "q_shuffle": lambda s, _: s.range(200_000)
            .selectExpr("id % 50000 AS k").groupBy("k").count(),
            "q_map": lambda s, _: s.range(200_000).selectExpr("id * 2 AS x"),
            "q_eager": eager,
        }
        timings = bench.sweep(spark, "", builders, 2)
        out = {
            "walls": bench.median_walls(timings),
            "profile": bench.executor_profile(spark, timings),
        }
        spark.stop()
        print("PROFILE " + json.dumps(out))
        """
    )
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    done = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300, env=env, cwd=str(tmp_path),
    )
    lines = [ln for ln in done.stdout.splitlines() if ln.startswith("PROFILE ")]
    assert lines, done.stdout + done.stderr
    out = json.loads(lines[-1][len("PROFILE "):])
    profile, walls = out["profile"], out["walls"]
    assert profile["executor_metrics"] is True
    prof = profile["queries_profile"]
    assert set(prof) == set(walls) == {"q_shuffle", "q_map", "q_eager"}
    for name, p in prof.items():
        assert tuple(p) == bench.PROFILE_FIELDS, name
        # two runs: the medians are means, so the parts sum to the wall
        assert abs(p["build_s"] + p["exec_s"] - walls[name]) <= 0.0015, (name, p)
        assert p["py4j_calls"] > 0, (name, p)
    assert prof["q_shuffle"]["shuffle_read_mb"] > 0, prof
    assert prof["q_shuffle"]["executor_cpu_s"] > 0, prof
    assert prof["q_map"]["shuffle_read_mb"] == 0, prof
    assert prof["q_eager"]["eager_jobs"] == 1, prof
    assert prof["q_shuffle"]["eager_jobs"] == prof["q_map"]["eager_jobs"] == 0, prof
    assert profile["suite_cpu_sec"] > 0
