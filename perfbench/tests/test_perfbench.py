"""The benchmark's own tests, at tiny scale.

    python3 -m pytest perfbench/tests -q

Every workload runs end to end and passes its output check; every metric
named in ``BENCHMARK.json`` prints with its unit; the event-log roll-up
gives the right totals on a known tiny job.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from spans import Tracer, event_log_files, read_event_log, rollup  # noqa: E402

WORKLOADS = ("kg_delta", "sop_chain")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    """One invocation; it must leave no process of its own behind (this
    process becomes the subreaper of whatever it orphans, so a leftover
    shows up among this process's descendants). Its output goes to a file,
    not a pipe: reading a pipe to its end would also wait for any process
    that inherited it."""
    import tempfile

    import harness

    harness.become_subreaper()
    before = {pid for pid, _t in harness.descendants(os.getpid())}
    cmd = [
        sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "5",
        "--seconds", "0.1", "--trace", str(trace), "--scale", "0.02",
    ]
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=err, text=True, timeout=600)
        left = [pid for pid, _t in harness.descendants(os.getpid()) if pid not in before]
        out.seek(0)
        err.seek(0)
        stdout, stderr = out.read(), err.read()
    assert proc.returncode == 0, stderr[-3000:]
    assert not left, f"processes left running: {left}"
    lines = stdout.strip().splitlines()
    detail = json.loads(lines[-2].split(" ", 1)[1])
    return json.loads(lines[-1]), detail


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_runs_and_passes_its_check(workload):
    result, detail = _run(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert detail["error_rate"] == 0.0 and detail["regime"] and detail["host"]["N"] >= 1
    for m in _spec()["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, m["name"]
    assert set(result["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


def test_per_layer_list_matches_the_benchmark_spec():
    from layers import ALL_LAYERS, metric_names

    spec = [(m["name"], m["unit"]) for m in _spec()["per_layer"]]
    assert spec == metric_names()
    assert len(ALL_LAYERS) == 16 and len(spec) <= 128


# layers each traced workload must report with real (non-zero) figures
CALLED = {
    "kg_delta": ("kg.extract.assemble_turns", "kg.extract.extract_triples", "kg.link.link_entities",
                 "kg.canon.sameas_closure", "kg.canon.materialize_graph", "kg.pipeline.canonical",
                 "kg.canon.merge_incremental", "plans.graph.connected_components"),
    "sop_chain": ("sources.ntriples.parse_ntriples", "operators.filter_map.filter_quads",
                  "operators.filter_map.map_quads", "functions.sparql.sparql_query",
                  "operators.canonicalize.canonicalize", "operators.serialize.serialize_nquads",
                  "kg.graphalgo.pagerank", "kg.graphalgo.label_propagation",
                  "plans.graph.connected_components"),
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_per_layer_metric(workload):
    result, _detail = _run(workload, trace=1)
    assert result["correct"] is True
    spec = _spec()["per_layer"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    got = {k: v["value"] for k, v in result["metrics"].items()}
    for layer in CALLED[workload]:
        assert got[f"{layer}.wall_s"] > 0 and got[f"{layer}.jobs"] >= 1, layer
        assert got[f"{layer}.rows_out"] > 0, layer
    assert got["traced.run_s"] > 0
    if workload == "kg_delta":
        assert got["kg.extract.extract_triples.py_peak_rss_mb"] > 0
        assert got["operators.canonicalize.canonicalize.wall_s"] == 0  # not called here
    else:
        assert got["operators.canonicalize.canonicalize.py_peak_rss_mb"] > 0
        assert got["kg.graphalgo.pagerank.jobs_per_round"] > 0
        assert got["kg.graphalgo.label_propagation.round_s"] > 0


def _synthetic_log(path: str) -> None:
    def task(stage, run_ms, shuffle_b):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + run_ms},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                             "JVM GC Time": 1, "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_b},
                             "Shuffle Read Metrics": {"Local Bytes Read": 0, "Remote Bytes Read": 0}},
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "perfbench-span-0"}},
        task(0, 100, 1024 * 1024), task(0, 300, 1024 * 1024), task(1, 50, 0),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "perfbench-span-1"}},
        task(2, 40, 0), task(2, 40, 0), task(2, 400, 0),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        task(3, 999, 0),
    ]
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e, separators=(",", ":")) + "\n")


def test_rollup_totals_on_a_synthetic_log(tmp_path):
    os.makedirs(tmp_path / "eventlog_v2_app")
    _synthetic_log(str(tmp_path / "eventlog_v2_app" / "events_1_app"))
    log = read_event_log(event_log_files(str(tmp_path)))
    spans = [
        {"id": 0, "name": "outer", "parent": None, "group": "perfbench-span-0", "start": 0.0, "end": 2.0},
        {"id": 1, "name": "inner", "parent": 0, "group": "perfbench-span-1", "start": 0.5, "end": 1.0},
    ]
    rows = {r["name"]: r for r in rollup(spans, log, cores=4)}
    inner, outer = rows["inner"], rows["outer"]
    # stage 1 is listed by both jobs but ran in job 0 (the first to list it)
    assert (inner["jobs"], inner["stages"], inner["tasks"]) == (1, 1, 3)
    assert inner["exec_run_s"] == pytest.approx(0.48)
    assert inner["task_skew"] == pytest.approx(10.0)
    assert inner["driver_s"] == pytest.approx(0.5 - 0.48 / 4)
    # the outer span includes its child; the untagged job belongs to nobody
    assert (outer["jobs"], outer["stages"], outer["tasks"]) == (2, 3, 6)
    assert outer["shuffle_write_mb"] == pytest.approx(2.0)
    assert outer["exec_run_s"] == pytest.approx(0.93)


def test_rollup_totals_on_a_real_event_log(tmp_path):
    sys.path.insert(0, ROOT)
    import harness

    work = str(tmp_path)
    harness.prepare_env(work, 2)
    harness.become_subreaper()
    spark = harness.start_spark(work, trace=True)
    try:
        tracer = Tracer(spark, enabled=True)
        sc = spark.sparkContext
        with tracer.span("outer"):
            with tracer.span("narrow"):
                assert sc.parallelize(range(100), 3).map(lambda x: x + 1).count() == 100
            with tracer.span("shuffle"):
                pairs = sc.parallelize(range(100), 3).map(lambda x: (x % 5, 1))
                assert len(pairs.reduceByKey(lambda a, b: a + b, 2).collect()) == 5
        sc.parallelize(range(10), 2).count()  # untagged
    finally:
        harness.stop_spark(spark)
    log = read_event_log(event_log_files(os.path.join(work, "eventlog")))
    rows = {r["name"]: r for r in rollup(tracer.spans, log, cores=2)}
    assert (rows["narrow"]["jobs"], rows["narrow"]["stages"], rows["narrow"]["tasks"]) == (1, 1, 3)
    assert (rows["shuffle"]["jobs"], rows["shuffle"]["stages"], rows["shuffle"]["tasks"]) == (1, 2, 5)
    assert rows["shuffle"]["shuffle_write_mb"] > 0 and rows["narrow"]["shuffle_write_mb"] == 0
    assert (rows["outer"]["jobs"], rows["outer"]["tasks"]) == (2, 8)
    assert len(log["jobs"]) == 3
