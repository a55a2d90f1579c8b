"""Unit tests of the benchmark's own parts; they need no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.phases import Run, compare
from perfbench.stats import StealMeter, committed_batches, quiet_median
from perfbench.trace import Tracer


def test_repair_rule_counts_up_within_a_millisecond_and_resets():
    put_ms = np.array([5, 5, 5, 5, 5, 6, 6, 7])
    raw = np.array([1, 1, 4, 1, 1, 1, 1, 3])
    assert inputs.repaired_keys(put_ms, raw) == [
        "5_1", "5_2", "5_4", "5_5", "5_6", "6_1", "6_2", "7_3",
    ]


def test_backlog_is_a_function_of_the_seed():
    a = inputs.backlog(7, 2000)
    b = inputs.backlog(7, 2000)
    c = inputs.backlog(8, 2000)
    assert a[2] == b[2] and (a[0] == b[0]).all() and (a[1] == b[1]).all()
    assert a[2] != c[2]


def test_replication_shape():
    put_ms, raw, bodies = inputs.backlog(1, 20_000)
    assert len(put_ms) == len(raw) == len(bodies) == 20_000
    assert (np.diff(put_ms) >= 0).all()
    sizes = np.array([len(b.encode()) for b in bodies])
    assert 300 < sizes.mean() < 400 and sizes.max() <= 4096 + 64
    assert 0.03 < (raw > 1).mean() < 0.07
    per_ms = np.unique(put_ms, return_counts=True)[1]
    assert 30 < per_ms.mean() < 50
    assert any(not b.isascii() for b in bodies)
    assert all(isinstance(json.loads(b), dict) for b in bodies[:100])


def test_events_export_shape_follows_the_events_table(tmp_path):
    inputs.write_events(str(tmp_path), 3, 5_000, 100)
    events = pq.read_table(tmp_path / "events.parquet").sort_by([("ts", "ascending")])
    put_ms, raw, bodies = inputs.events_backlog(str(tmp_path))
    assert raw.tolist() == events.column("event_id").to_pylist()
    assert bodies == events.column("props").to_pylist()
    first = events.column("ts")[0].as_py().replace(tzinfo=dt.timezone.utc)
    assert put_ms[0] == int(first.timestamp() * 1000)
    # distinct put-milliseconds: the repair never rewrites a key
    assert (np.diff(put_ms) > 0).all()
    keys = inputs.repaired_keys(put_ms, raw)
    assert keys == [f"{m}_{s}" for m, s in zip(put_ms.tolist(), raw.tolist())]


def test_committed_batches_maps_offsets_to_batch_end_times():
    progress = [
        {"batchId": 0, "numInputRows": 3, "timestamp": "2024-01-01T00:00:00.000Z",
         "durationMs": {"triggerExecution": 500},
         "sources": [{"startOffset": None, "endOffset": '{"pos": 3, "last_ms": 1, "last_seq": 1}'}]},
        {"batchId": 1, "numInputRows": 0, "timestamp": "2024-01-01T00:00:01.000Z",
         "durationMs": {"triggerExecution": 10},
         "sources": [{"startOffset": {"pos": 3}, "endOffset": {"pos": 3}}]},
        {"batchId": 2, "numInputRows": 2, "timestamp": "2024-01-01T00:00:02.250Z",
         "durationMs": {"triggerExecution": 250},
         "sources": [{"startOffset": {"pos": 3}, "endOffset": {"pos": 5}}]},
    ]
    batches = committed_batches(progress)
    assert [(b["batch"], b["start"], b["end"], b["rows"]) for b in batches] == [(0, 0, 3, 3), (2, 3, 5, 2)]
    assert batches[0]["end_s"] == 1_704_067_200.5
    assert batches[1]["end_s"] == 1_704_067_202.5


def test_self_time_subtracts_the_union_of_children():
    t = Tracer(True)
    t.spans = [
        {"id": 0, "name": "p", "start": 0.0, "end": 10.0, "parent": None, "group": "g"},
        {"id": 1, "name": "c", "start": 1.0, "end": 4.0, "parent": 0, "group": "g"},
        {"id": 2, "name": "c", "start": 3.0, "end": 6.0, "parent": 0, "group": "g"},
        {"id": 3, "name": "c", "start": 9.0, "end": 12.0, "parent": 0, "group": "g"},
    ]
    assert t.self_times() == [4.0, 3.0, 3.0, 3.0]
    assert t.self_by_name() == {"p": 4.0, "c": 9.0}


def test_spans_nest_and_tracing_off_records_nothing():
    on, off = Tracer(True), Tracer(False)
    for t in (on, off):
        with t.span("outer", group="q"):
            with t.span("inner", group="q"):
                time.sleep(0.001)
    assert off.spans == []
    assert [(s["name"], s["parent"]) for s in on.spans] == [("outer", None), ("inner", 0)]


def test_compare_counts_missing_duplicated_and_wrongly_keyed_messages():
    run = Run(spark=None, tracer=Tracer(False), work="", seed=0, workload="replication", drains=2)
    keys, values = ["1_1", "1_2", "2_1", "3_1"], ["a", "b", "c", "d"]
    got = pa.table({"key": ["1_1", "1_2", "1_2", "2_9"], "value": ["a", "b", "b", "c"]})
    compare(run, "t", keys, values, got)
    # 2_1 carries the wrong key, 3_1 is missing, 1_2 is delivered twice
    assert (run.attempted, run.failed) == (4, 3)
    assert run.problems == ["t: 3 of 4 failed"]


def test_a_queue_past_the_backlog_repeats_it_and_the_repair_resets_at_the_seam():
    put_ms, raw = np.array([5, 5, 7]), np.array([1, 1, 1])
    run = Run(spark=None, tracer=Tracer(False), work="", seed=0, workload="replication", drains=2)
    run.backlog = (put_ms, raw, ["a", "b", "c"])
    run.backlog_keys = inputs.repaired_keys(put_ms, raw)
    assert run.expected(2) == (["5_1", "5_2"], ["a", "b"])
    # put-ms falls from 7 to 5 at the seam, so the chain starts over
    assert run.expected(5) == (["5_1", "5_2", "7_1", "5_1", "5_2"], ["a", "b", "c", "a", "b"])


def test_quiet_median_leaves_out_the_samples_that_lost_most_to_steal():
    assert quiet_median([10, 20, 30, 40, 50], [0.0, 0.0, 0.0, 0.0, 0.0]) == 30
    # differences within the tolerance leave every sample in
    assert quiet_median([10, 20, 30, 40, 50], [0.01, 0.0, 0.005, 0.0, 0.0]) == 30
    # the two slowest samples ran while the hypervisor took CPU time
    assert quiet_median([10, 12, 30, 40, 50], [0.2, 0.1, 0.0, 0.02, 0.0]) == 40


def test_steal_share_interpolates_between_readings():
    m = StealMeter()
    m.samples = [(0.0, 0, 0), (1.0, 10, 400), (2.0, 10, 800)]
    assert m.share(0.0, 1.0) == 10 / 400
    assert m.share(0.5, 1.5) == 5 / 400
    assert m.share(1.0, 2.0) == 0.0
