"""The percentile helper and the event-log span attribution."""

from __future__ import annotations

import json

import pytest

from spans import Span, attribute, read_event_log
from stats import percentile, summarize, tail_supported


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 0.5) == 50
    assert percentile(xs, 0.9) == 90
    assert percentile(reversed(xs), 1.0) == 100
    assert percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_tail_only_with_ten_samples_beyond():
    assert not tail_supported(99, 0.9)  # 9 samples beyond p90
    assert tail_supported(100, 0.9)  # exactly 10 beyond
    assert not tail_supported(999, 0.99)
    assert tail_supported(1000, 0.99)


def test_summarize_reports_median_and_supported_tail():
    assert summarize([]) == {"n": 0}
    small = summarize([3.0, 1.0, 2.0, 4.0])
    assert small == {"n": 4, "p50": 2.5}
    big = summarize(range(1, 101))
    assert big["p50"] == 50.5 and big["p90"] == 90


def _events():
    """Two spans, one nested; jobs inside each, one outside both.
    Stage 1 is reused (skipped) by job 2 but its tasks ran under job 1."""

    def job(jid, submit, end, stages):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
             "Stage IDs": stages},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
        ]

    def task(stage, launch, run_ms, read=0, rows=0, written=0, shuffle=0, spill=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Input Metrics": {"Bytes Read": read, "Records Read": rows},
                "Output Metrics": {"Bytes Written": written},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            },
        }

    evs = []
    evs += job(1, 1100, 1300, [1])
    evs.append(task(1, 1110, 150, read=1000, rows=10, shuffle=64))
    evs.append(task(1, 1120, 50, read=500, rows=5, spill=8))
    evs += job(2, 1500, 1700, [1, 2])
    evs.append(task(2, 1510, 100, written=300))
    evs += job(3, 2100, 2200, [3])  # inside the child span
    evs.append(task(3, 2110, 80, read=40, rows=4))
    evs += job(4, 5000, 5100, [4])  # outside every span
    evs.append(task(4, 5010, 999))
    return [json.dumps(e) for e in evs]


def test_read_event_log_assigns_tasks_to_the_running_job():
    jobs = {j.job_id: j for j in read_event_log(_events())}
    assert jobs[1].task_s == pytest.approx(0.2)
    assert (jobs[1].input_bytes, jobs[1].records_read) == (1500, 15)
    assert (jobs[1].shuffle_bytes, jobs[1].spill_bytes) == (64, 8)
    assert jobs[2].task_s == pytest.approx(0.1) and jobs[2].output_bytes == 300
    assert jobs[2].end_ms == 1700


def test_attribute_uses_innermost_span_by_submit_time():
    spans = [
        Span("child", 2000, 2500, depth=1),
        Span("parent", 1000, 3000, depth=0),
    ]
    layers = attribute(spans, read_event_log(_events()))
    parent, child = layers["parent"], layers["child"]
    assert parent.jobs == 2 and child.jobs == 1
    assert parent.task_s == pytest.approx(0.3) and child.task_s == pytest.approx(0.08)
    assert parent.input_bytes == 1500 and child.input_bytes == 40
    assert child.records_read == 4
    # parent: 2.0 s wall, 0.5 s in the child, jobs cover 0.2 + 0.2 s
    assert parent.driver_s == pytest.approx(1.1)
    assert child.driver_s == pytest.approx(0.4)
    assert parent.wall_s == pytest.approx(2.0)
    # job 4 lies outside every span and is attributed nowhere
    assert sum(s.jobs for s in layers.values()) == 3


def test_attribute_sums_repeated_calls():
    spans = [Span("op", 1000, 1400, 0), Span("op", 1400, 2000, 0)]
    st = attribute(spans, read_event_log(_events()))["op"]
    assert st.calls == 2 and st.jobs == 2
    assert st.wall_s == pytest.approx(1.0)
