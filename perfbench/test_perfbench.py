"""Tests of the benchmark's own parts (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import doctrace  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import procrss  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("write", [
    lambda d, seed: gen.write_widekb(d, 600, 40, seed),
    lambda d, seed: gen.write_dedup_docs(d, 300, seed),
], ids=["kg-resume-widekb", "curate-dedup"])
def test_same_seed_same_bytes(tmp_path, write):
    a, b, c = (str(tmp_path / x) for x in "abc")
    write(a, 7)
    write(b, 7)
    write(c, 8)
    da, db, dc = _digest(a), _digest(b), _digest(c)
    assert da and da == db
    assert da != dc


def test_widekb_goldens_point_at_labels(tmp_path):
    import pyarrow.parquet as pq

    from entity_extraction_svc_spark.functions.htmltext import preprocess_html

    d = str(tmp_path)
    gen.write_widekb(d, 600, 40, 3)
    pages = pq.read_table(f"{d}/pages.parquet").to_pylist()
    assert all(preprocess_html(p["html"]) == p["text"] for p in pages)
    text = {p["url"]: p["text"] for p in pages}
    label = dict(zip(*(pq.read_table(f"{d}/kb_entities.parquet")[c].to_pylist()
                       for c in ("qid", "label"))))
    links = pq.read_table(f"{d}/golden_links.parquet").to_pylist()
    assert links
    for r in links:
        assert text[r["url"]][r["start"]:r["end"]] == label[r["qid"]]


def test_planted_pairs_record_exact_jaccard(tmp_path):
    import pyarrow.parquet as pq

    d = str(tmp_path)
    gen.write_dedup_docs(d, 300, 5)
    texts = pq.read_table(f"{d}/documents.parquet")["text"].to_pylist()
    pairs = pq.read_table(f"{d}/planted_pairs.parquet").to_pylist()
    assert pairs
    for r in pairs:
        want = gen.jaccard(gen.trigram_set(texts[r["id_a"]]),
                           gen.trigram_set(texts[r["id_b"]]))
        assert r["id_a"] < r["id_b"] and r["jaccard"] == want


def _stage_events():
    plan = {"nodeName": "AdaptiveSparkPlan", "simpleString": "AdaptiveSparkPlan",
            "metrics": [], "children": [
                {"nodeName": "Execute InsertIntoHadoopFsRelationCommand",
                 "simpleString": "Execute InsertIntoHadoopFsRelationCommand "
                                 "file:/x/out/triples, false, Parquet",
                 "metrics": [], "children": [
                     {"nodeName": "ShuffledHashJoin",
                      "simpleString": "ShuffledHashJoin [shingle#1], [shingle#2]",
                      "metrics": [{"name": "number of output rows",
                                   "accumulatorId": 7, "metricType": "sum"}],
                      "children": []}]}]}

    def task(launch, finish, run, rows, py_ns):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
                "Task Info": {"Launch Time": launch, "Finish Time": finish,
                              "Accumulables": [
                                  {"ID": 7, "Name": "number of output rows", "Update": rows},
                                  {"ID": 9, "Name": "time to run Python workers",
                                   "Update": py_ns},
                                  {"ID": 1, "Name": "internal.metrics.executorRunTime",
                                   "Update": run}]},
                "Task Metrics": {"Executor Run Time": run, "JVM GC Time": 1,
                                 "Disk Bytes Spilled": 0,
                                 "Shuffle Read Metrics": {"Total Records Read": 2,
                                                          "Remote Bytes Read": 0,
                                                          "Local Bytes Read": 10},
                                 "Shuffle Write Metrics": {"Shuffle Records Written": 4,
                                                           "Shuffle Bytes Written": 40}}}

    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 5, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3},
         "Properties": {"spark.jobGroup.id": "g", "spark.sql.execution.id": "5"}},
        task(100, 200, 90, 11, 0),
        task(100, 400, 280, 31, 5),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 3, "Stage Attempt ID": 0, "Stage Name": "s",
                        "Number of Tasks": 2, "Submission Time": 90,
                        "Completion Time": 410}},
    ]


def test_eventlog_folds_tasks_into_stage():
    (st,) = eventlog.stages(_stage_events())
    assert (st.group, st.exec_id, st.tasks, st.wall_ms) == ("g", 5, 2, 320)
    assert (st.run_ms, st.gc_ms, st.shuffle_write_bytes) == (370, 2, 80)
    assert st.task_ms == [100, 300] and st.task_spread() == 300 / 200
    assert st.node_sum("Join", "number of output rows", "shingle#") == 42
    assert st.ran_python()
    assert st.write_path == "file:/x/out/triples"
    assert eventlog.job_groups(_stage_events()) == {0: "g"}


def test_sql_spans_pair_start_and_end():
    pre = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"
    ev = [{"Event": pre + "Start", "executionId": 1, "time": 10},
          {"Event": pre + "Start", "executionId": 2, "time": 12},
          {"Event": pre + "End", "executionId": 1, "time": 30},
          {"Event": pre + "End", "executionId": 9, "time": 31}]
    assert eventlog.sql_spans(ev) == [(10, 30)]


def test_eventlog_reads_rolled_log_and_skips_torn_line(tmp_path):
    import json

    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    ev = _stage_events()
    (d / "events_2_app").write_text("\n".join(json.dumps(e) for e in ev[3:]) + "\n{torn")
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in ev[:3]) + "\n")
    (d / "appstatus_app").write_text("")
    assert eventlog.read_events(str(tmp_path)) == ev


def test_wall_union_merges_overlaps():
    mk = lambda s, e: eventlog.Stage(0, None, None, "", s, e)  # noqa: E731
    assert eventlog.wall_union_ms([mk(0, 10), mk(5, 20), mk(30, 35)]) == 25


def test_span_self_time_excludes_children():
    tr = doctrace.SpanTracer()
    inner = tr.wrap("inner", lambda: time.sleep(0.02) or [1, 2], "items")
    outer = tr.wrap("outer", lambda: (time.sleep(0.01), inner())[1])
    outer()
    s = tr.self_seconds()
    assert 0.005 < s["outer"] < 0.018 and s["inner"] >= 0.02
    assert tr.counts == {"items": 2}


def test_metric_tables_match_benchmark_json():
    import json

    import run
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_closed_loop_times_run_only():
    import run
    import workloads

    calls = []
    passes = run.closed_loop(
        lambda: calls.append("run") or len(calls),
        lambda raw: (time.sleep(0.05), workloads.PassResult(raw, True))[1], 0.0)
    assert [r.docs for _, _, r in passes] == list(range(1, run.MIN_PASSES + 1))
    assert all(w < 0.04 and 0.0 <= r.stolen <= 1.0 for _, w, r in passes)


def test_docs_per_s_nets_out_stolen_time():
    import run
    import workloads

    passes = [(0, 2.0, workloads.PassResult(100, True, stolen=0.5)),
              (0, 1.0, workloads.PassResult(100, True, stolen=0.0))]
    assert run.docs_per_s(passes) == 100.0
    assert run.docs_per_s(passes, unstolen=False) == 100 / 1.5


def test_tree_rss_covers_children():
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; b = bytearray(64 << 20); time.sleep(30)"])
    try:
        deadline = time.monotonic() + 10
        while child.pid not in procrss.descendants(os.getpid()):
            assert time.monotonic() < deadline
            time.sleep(0.05)
        time.sleep(0.5)
        own, own_python = procrss.tree_pss_bytes(child.pid)
        assert own > 60 << 20 and own_python == own
        assert procrss.tree_pss_bytes(os.getpid())[0] > own
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None
