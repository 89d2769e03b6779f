"""Self-tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import mix  # noqa: E402
from stats import geomean, percentile  # noqa: E402
from tracing import Span, group_stats, read_event_log, self_times  # noqa: E402


def test_percentile_needs_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 101)]
    assert percentile(values, 90) == 90.0  # ten samples (91..100) beyond
    assert percentile(values, 95) is None  # only five beyond
    assert percentile(values[:19], 50) is None  # nine beyond the median rank
    assert percentile(values[:20], 50) == 10.0
    assert percentile([], 50) is None
    with pytest.raises(ValueError):
        percentile(values, 100)


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)
    assert geomean([3.0]) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        geomean([])
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "t", "timed")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, parent=1),
        _span(3, 2.0, 5.0, parent=1),   # overlaps span 2: [1, 5] counted once
        _span(4, 8.0, 12.0, parent=1),  # runs past its parent: [8, 10] counts
        _span(5, 2.5, 4.0, parent=3),   # grandchild: not the parent's child
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[3] == pytest.approx(3.0 - 1.5)
    assert st[2] == pytest.approx(2.0)
    assert st[5] == pytest.approx(1.5)


def test_same_seed_gives_identical_requests_and_payloads():
    days = mix.batch_days(0) + mix.batch_days(1)

    def requests(seed, client):
        stream = mix.request_stream(seed, client, days)
        return json.dumps([next(stream) for _ in range(50)], sort_keys=True).encode()

    assert requests(3, 0) == requests(3, 0)
    assert requests(3, 0) != requests(4, 0)
    assert requests(3, 0) != requests(3, 1)
    assert (json.dumps(mix.warm_requests(3, 1, days))
            == json.dumps(mix.warm_requests(3, 1, days)))
    a, b = mix.ingest_batch(3, 2, 200), mix.ingest_batch(3, 2, 200)
    assert a == b
    assert a["ads"] != mix.ingest_batch(4, 2, 200)["ads"]


def test_request_mix_shape():
    stream = mix.request_stream(1, 0, mix.batch_days(0))
    reqs = [next(stream) for _ in range(400)]
    share = {r: sum(q["route"] == r for q in reqs) / len(reqs) for r in mix.READ_ROUTES}
    assert share == {"metrics_channel": 0.5, "metrics_funnel": 0.25,
                     "similar_by_vector": 0.25}
    for q in reqs:
        if q["route"] == "similar_by_vector":
            vec = q["body"]["query_vec"]
            assert len(vec) == mix.DIM
            assert math.sqrt(sum(x * x for x in vec)) == pytest.approx(1.0, abs=1e-4)
        else:
            assert q["params"]["from"] < q["params"]["to"]


def test_ingest_batches_overlap_and_count_keys():
    b0, b1 = mix.ingest_batch(5, 0, 300), mix.ingest_batch(5, 1, 300)
    assert set(b0["days"]) & set(b1["days"])  # consecutive batches share days
    ads = json.loads(b0["ads"])["external"]["ads"]["performance"]
    crm = json.loads(b0["crm"])["external"]["crm"]["opportunities"]
    assert len(ads) == len(crm) == 300
    assert b0["source_rows"] == 600
    # the consolidated key count is bounded by the rows and is not trivial
    assert 100 < b0["expected_rows"] <= 600
    layouts = {mix._created_at(mix.INGEST_START, i, random.Random(0))[10:11]
               for i in range(8)}
    assert {"T", " ", ""} <= layouts  # ISO, space-separated and date-only forms


def test_event_log_attributes_jobs_and_exchanges(tmp_path):
    plan = {"nodeName": "AdaptiveSparkPlan", "children": [
        {"nodeName": "Exchange", "children": [{"nodeName": "Scan", "children": []}]},
        {"nodeName": "BroadcastExchange", "children": []}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "sparkPlanInfo": {"nodeName": "X", "children": []}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 7, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g",
                                             "spark.sql.execution.id": "7"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Launch Time": 1000, "Finish Time": 1500, "Failed": False},
         "Task Metrics": {"Shuffle Read Metrics": {"Remote Bytes Read": 5,
                                                   "Local Bytes Read": 7},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
                          "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
                          "Input Metrics": {"Bytes Read": 100}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "other"}},
    ]
    log_dir = tmp_path / "eventlog_v2_local-1"
    log_dir.mkdir()
    (log_dir / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    log = read_event_log(str(tmp_path))
    g = group_stats(log, {"g"})
    assert g["jobs"] == 1 and g["stages"] == 1 and g["tasks"] == 1
    assert g["task_s"] == pytest.approx(0.5)
    assert g["job_wall_s"] == pytest.approx(2.0)
    assert (g["shuffle_read_bytes"], g["shuffle_write_bytes"]) == (12, 11)
    assert (g["spill_bytes"], g["input_bytes"], g["failed_tasks"]) == (3, 100, 0)
    assert g["exchanges"] == 2  # the last (executed) plan of execution 7
    assert group_stats(log, {"other"})["jobs"] == 1


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    from layers import PER_LAYER
    from run import END_TO_END, REPO

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == PER_LAYER
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_saved_runs_compare_only_with_the_same_code_and_seed():
    from run import count_drift, same_run

    records = [{"code": "a", "seed": 1, "counts": {"q.jobs": 2}},
               {"code": "b", "seed": 1, "counts": {"q.jobs": 3}},
               {"code": "a", "seed": 2, "counts": {"q.jobs": 4}}]
    mine = same_run(records, {"code": "a", "seed": 1})
    assert mine == records[:1]
    assert count_drift(mine[-1]["counts"], {"q.jobs": 2}) == []
    assert count_drift(mine[-1]["counts"], {"q.jobs": 3, "r.jobs": 1}) == ["q.jobs", "r.jobs"]
    assert same_run(records, {"code": "c", "seed": 1}) == []


def test_closed_loop_rate_is_per_client_and_ignores_late_or_failed_ops():
    from types import SimpleNamespace as Op

    from run import Context

    ctx = Context(seed=0, seconds=10.0, tmp="", cores=1, tracer=None)
    ctx.window_start = 100.0
    ops = [Op(client="a", start=100.0, seconds=2.0, ok=True),   # done at 102
           Op(client="a", start=102.0, seconds=2.0, ok=True),   # done at 104
           Op(client="a", start=104.0, seconds=7.0, ok=True),   # past the window
           Op(client="b", start=100.0, seconds=5.0, ok=True),   # done at 105
           Op(client="b", start=105.0, seconds=1.0, ok=False)]  # failed
    assert ctx.rate(ops) == pytest.approx(2 / 4.0 + 1 / 5.0)
