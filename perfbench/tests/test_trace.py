"""Self time from nested spans, and job attribution from the event log."""

import json

from perfbench.report import _self_times
from perfbench.trace import Tracer, attach_jobs, read_event_log, self_time


def _tree():
    tr = Tracer()
    root = tr.add("encode", 0.0, 10.0, None)
    tr.add("spark.job", 1.0, 3.0, root.id)
    tr.add("spark.job", 2.0, 5.0, root.id)  # overlaps the first job
    tr.add("spark.job", 8.0, 12.0, root.id)  # runs past its parent
    plan = tr.add("plan", 5.0, 7.0, root.id)
    tr.add("spark.job", 5.5, 6.0, plan.id)
    return tr, root, plan


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    tr, root, plan = _tree()
    # children cover [1,5] + [5,7] + [8,10] = 8 of the parent's 10 s
    assert self_time(tr.spans, root) == 2.0
    assert self_time(tr.spans, plan) == 1.5


def test_self_times_by_layer_sum_to_the_wall():
    tr, root, _ = _tree()
    layers = {k: v[0] for k, v in _self_times(tr, "encode").items()}
    assert layers == {"encode": 2.0, "encode/spark.job": 6.0,
                      "encode/plan": 1.5, "encode/plan/spark.job": 0.5}
    assert sum(layers.values()) == root.duration


def test_span_nesting_and_labels():
    labels = []
    tr = Tracer(labeler=lambda sid, name: labels.append((sid, name)))
    with tr.span("iteration"):
        with tr.span("encode") as enc:
            pass
    assert enc.parent == 0
    # entering a span labels it; leaving restores the parent's label
    assert labels == [(0, "iteration"), (1, "encode"), (0, "iteration")]


def test_event_log_jobs_attach_to_their_span(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1500, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 250,
                          "Executor CPU Time": 2 * 10**8, "JVM GC Time": 5,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 2500},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 2600, "Stage IDs": [2], "Properties": {}},
    ]
    (app / "events_1_local-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    (app / "appstatus_local-1").write_text("")
    (app / ".appstatus_local-1.crc").write_bytes(b"\x00\xff")
    jobs, tasks = read_event_log(str(tmp_path))
    assert jobs[0].group == "0" and jobs[0].stages == [0, 1]
    assert (jobs[0].submit, jobs[0].end) == (1.5, 2.5)
    assert tasks[0].run_s == 0.25 and tasks[0].cpu_s == 0.2
    assert tasks[0].shuffle_write_bytes == 64

    tr = Tracer()
    tr.add("encode", 1.0, 3.0, None)
    attach_jobs(tr, jobs)  # job 1 is unlabelled and unfinished: dropped
    kids = tr.children(tr.spans[0])
    assert [k.attrs["job"] for k in kids] == [0]
    assert self_time(tr.spans, tr.spans[0]) == 1.0
