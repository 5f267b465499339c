"""Time-window attribution of Spark work to spans, on a synthetic event
log, and the span recorder."""

from __future__ import annotations

import json
import threading

import pytest

from perfbench.trace import Tracer, attribute, read_event_log, union_len


def _write_log(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def _job(jid, start_ms, end_ms):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start_ms},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
    ]


def _task(launch_ms, read, shuffle_w):
    return {
        "Event": "SparkListenerTaskEnd",
        "Task Info": {"Launch Time": launch_ms},
        "Task Metrics": {
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
        },
    }


@pytest.fixture
def log(tmp_path):
    events = (
        _job(0, 1_000, 1_400)
        + _job(1, 1_200, 1_600)  # overlaps job 0
        + _job(2, 3_000, 3_100)
        + [
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Submission Time": 1_010}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Submission Time": 3_010}},
            _task(1_020, 100, 7),
            _task(1_300, 50, 0),
            _task(3_020, 1, 1),
            {
                "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
                "progress": {"timestamp": "1970-01-01T00:00:03.050Z"},
            },
        ]
    )
    _write_log(tmp_path / "app-1", events)
    return read_event_log(str(tmp_path))


def test_jobs_attributed_by_submission_window(log):
    first = attribute(log, 0.9, 2.0)
    assert first["jobs"] == 2 and first["stages"] == 1 and first["tasks"] == 2
    assert first["job_s"] == pytest.approx(0.6)  # union of [1.0,1.4] and [1.2,1.6]
    assert first["input_bytes"] == 150 and first["shuffle_bytes"] == 7 + 5 + 5
    assert first["batches"] == 0
    second = attribute(log, 2.5, 3.5)
    assert (second["jobs"], second["stages"], second["tasks"], second["batches"]) == (1, 1, 1, 1)
    assert attribute(log, 5.0, 6.0)["jobs"] == 0


def test_union_clips_to_window():
    assert union_len([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)], 0.5, 5.5) == pytest.approx(3.0)
    assert union_len([], 0.0, 1.0) == 0.0


def test_unfinished_log_is_an_error(tmp_path):
    _write_log(tmp_path / "app-1.inprogress", _job(0, 1, 2))
    with pytest.raises(RuntimeError):
        read_event_log(str(tmp_path))


def test_spans_nest_per_thread_and_share_request_id():
    tr = Tracer()
    with tr.span("untraced"):
        with tr.span("child"):
            pass
    assert tr.spans == []  # no request id: nothing recorded

    def op(rid):
        with tr.span("run", rid=rid):
            with tr.span("construct"):
                pass

    threads = [threading.Thread(target=op, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    assert len(tr.spans) == 16
    for s in tr.spans:
        if s.name == "construct":
            assert s.parent == "run"
    runs = {s.rid: s for s in tr.spans if s.name == "run"}
    for s in tr.spans:
        if s.name == "construct":
            assert runs[s.rid].start <= s.start <= s.end <= runs[s.rid].end
