"""The phases of one benchmark run and the checks of their outputs.

Every run works on inputs made from its seed, on one of two workloads
(see inputs.py for the message shapes):

* bulk broker work on a pre-built backlog of the workload's messages:
  browse snapshots through `spark.read.format("ibmmq")` into a `noop`
  write, and a destructive `readStream.format("ibmmq")` drain of a copy
  into parquet;
* in the traced run only, `MQWritebackSink` puts through `foreachBatch`,
  and the workload's panel of registered consumer queries over a seeded
  `events` table, each once cold (its first call in the session) and then
  warm. The two workloads run different queries, so no query is measured
  twice.

The program is reached only through its public calls: `FakeMQBroker`,
`spark.read[Stream].format("ibmmq")`, `MQWritebackSink` and
`registry.QUERIES`. Outputs are checked after the timed parts.
"""

from __future__ import annotations

import datetime
import itertools
import json
import math
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from perfbench import inputs
from perfbench.stats import StealMeter, committed_batches, progress_dicts, quiet_median
from perfbench.trace import Tracer

BACKLOG_MSGS = 40_000  # messages in the backlog; also rows in `events`
DRAIN_MSGS = 2 * BACKLOG_MSGS  # a timed drain's queue: the backlog put twice
DRAIN_BATCH = 10_000  # the drains' maxMessagesPerBatch: 8 micro-batches a timed drain
EVENT_USERS = 2_000
WRITEBACK_ROWS, WRITEBACK_FILES = 10_000, 4
PANEL_WARM = 3
SNAPSHOTS_PER_BLOCK = 2  # timed snapshots before, between and after the drains
WAIT_S = 60.0
BULK_Q, WB_Q = "BULK.Q", "WB.Q"

# The panel of each workload: a replication consumer's queries over the
# replicated rows, and an event-stream consumer's queries over the queue
# the program exports from `events`.
PANELS = {
    "replication": ("mq_latest_wins", "mq_cdc_apply", "mq_scd2_history"),
    "events_export": ("mq_gap_detect", "mq_dlq_split", "stream_tumbling_counts_append"),
}


@dataclass
class Run:
    """What one benchmark run shares between its phases."""

    spark: object
    tracer: Tracer
    work: str
    seed: int
    workload: str
    drains: int  # timed drains; the snapshot passes are spread around them
    sf_dir: str = ""
    backlog_dir: str = ""
    writeback_src: str = ""
    backlog: tuple = ()
    backlog_keys: list = field(default_factory=list)
    panel_results: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    notes: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)

    @property
    def panel(self) -> tuple:
        return PANELS[self.workload]

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def expected(self, n: int) -> tuple[list[str], list[str]]:
        """Keys and values of a queue holding the backlog's first ``n``
        messages, or, for ``n`` past its end, the backlog put again and
        again; the keys come from the benchmark's own repair rule."""
        put_ms, raw, bodies = self.backlog
        if n <= len(bodies):
            return self.backlog_keys[:n], bodies[:n]
        keys = inputs.repaired_keys(np.resize(put_ms, n), np.resize(raw, n))
        return keys, [bodies[i % len(bodies)] for i in range(n)]

    def check(self, what: str, expected: int, failed: int) -> None:
        self.attempted += expected
        self.failed += failed
        if failed:
            self.problems.append(f"{what}: {failed} of {expected} failed")


# ---------------------------------------------------------------- set-up


def generate_inputs(run: Run) -> None:
    """The `events` table, the workload's messages, the keys the repair
    rule gives them, and for the traced run the writeback source."""
    run.sf_dir = run.path("sf")
    inputs.write_events(run.sf_dir, run.seed, BACKLOG_MSGS, EVENT_USERS)
    if run.workload == "replication":
        put_ms, raw, bodies = inputs.backlog(run.seed, BACKLOG_MSGS)
    else:
        put_ms, raw, bodies = inputs.events_backlog(run.sf_dir)
    run.backlog = (put_ms, raw, bodies)
    run.backlog_keys = inputs.repaired_keys(put_ms, raw)
    if run.tracer.enabled:
        run.writeback_src = run.path("writeback_src")
        wb_seq = [int(k.rsplit("_", 1)[1]) for k in run.backlog_keys[:WRITEBACK_ROWS]]
        inputs.write_writeback_source(
            run.writeback_src, put_ms[:WRITEBACK_ROWS], wb_seq, bodies[:WRITEBACK_ROWS], WRITEBACK_FILES
        )


def build_backlog(run: Run, broker_dir: str) -> None:
    """Put the backlog onto a fresh queue through `put_all`."""
    from spark_ibm_mq_spark.sources import FakeMQBroker

    put_ms, raw, bodies = run.backlog
    with run.tracer.span("fake_mq.put_all", group="backlog"):
        FakeMQBroker(broker_dir, BULK_Q).put_all(zip(put_ms.tolist(), raw.tolist(), bodies))
    run.backlog_dir = broker_dir


def warm_up(run: Run) -> None:
    """Read the backlog once through the batch source and check every
    message, then drain a copy of its first half in two micro-batches of
    the timed drain's size. The first read starts the Python workers and
    compiles the read path, and the rehearsal drain compiles the streaming
    path, so the timed parts that follow measure warmer code. Without the rehearsal, the timed drain's median
    rate over five seeds was 8.2k msg/s, against 14k msg/s with it
    (replication, 8,000-message batches, 4 vCPUs)."""
    _, _, bodies = run.backlog
    t0 = time.perf_counter()
    table = _snapshot_df(run.spark, run.backlog_dir, BULK_Q).select("key", "value").toArrow()
    compare(run, "snapshot", run.backlog_keys, bodies, table)
    t1 = time.perf_counter()
    _drain(run, "rehearsal", BACKLOG_MSGS // 2)
    run.notes["warm_up_s"] = {"snapshot": t1 - t0, "rehearsal_drain": time.perf_counter() - t1}


# ---------------------------------------------------------------- helpers


def _snapshot_df(spark, broker_dir: str, queue: str):
    from spark_ibm_mq_spark.sources import MQ_SCHEMA

    return (
        spark.read.format("ibmmq").schema(MQ_SCHEMA).option("path", broker_dir)
        .option("queue", queue).load()
    )


def _stream_reader(spark, broker_dir: str, queue: str, keep: bool, max_per_batch: int):
    from spark_ibm_mq_spark.sources import MQ_SCHEMA

    return (
        spark.readStream.format("ibmmq").schema(MQ_SCHEMA).option("path", broker_dir)
        .option("queue", queue).option("keepMessages", str(keep).lower())
        .option("maxMessagesPerBatch", str(max_per_batch)).load()
    )


def _committed_end(query) -> int:
    p = query.lastProgress
    if p is None:
        return 0
    off = json.loads(p.json)["sources"][0]["endOffset"]
    if off is None:
        return 0
    return int((json.loads(off) if isinstance(off, str) else off)["pos"])


def _wait_committed(query, pos: int) -> bool:
    """Poll until the query has committed up to queue position ``pos``;
    False if it died or the wait ran out."""
    deadline = time.time() + WAIT_S
    while time.time() < deadline:
        if query.exception() is not None or not query.isActive:
            return False
        if _committed_end(query) >= pos:
            return True
        time.sleep(0.05)
    return False


def _stop(run: Run, query, what: str) -> None:
    err = query.exception()
    if err is not None:
        run.problems.append(f"{what}: streaming query died: {str(err).splitlines()[0]}")
    query.stop()


def compare(run: Run, what: str, keys: list[str], values: list[str], table) -> None:
    """Count messages that are missing, duplicated, or carry the wrong key
    or value, comparing (key, value) multisets. A wrongly keyed message
    shows as one missing pair."""
    expected = Counter(zip(keys, values))
    got = Counter(zip(table.column("key").to_pylist(), table.column("value").to_pylist()))
    missing = sum((expected - got).values())
    duplicated = sum(n - expected[kv] for kv, n in got.items() if kv in expected and n > expected[kv])
    run.check(what, len(keys), min(len(keys), missing + duplicated))


def _microbatch_layers(run: Run, phase: str, batches: list[dict]) -> None:
    names = {
        "latestOffset": "latest_offset_ms", "addBatch": "add_batch_ms",
        "walCommit": "wal_commit_ms", "commitOffsets": "commit_offsets_ms",
        "queryPlanning": "query_planning_ms", "triggerExecution": "trigger_ms",
    }
    for key, name in names.items():
        vals = [b["durations_ms"].get(key, 0) for b in batches]
        run.layers[f"microbatch.{phase}.{name}.p50"] = (statistics.median(vals), "ms")
        run.layers[f"microbatch.{phase}.{name}.sum"] = (float(sum(vals)), "ms")
    for b in batches:
        start = b["end_s"] - b["durations_ms"]["triggerExecution"] / 1000
        run.tracer.add("microbatch.trigger", start, b["end_s"], group=f"{b['tag']}:{b['batch']}")


# ---------------------------------------------------------------- bulk


def _snapshot_pass(run: Run, i: int) -> float:
    """One browse snapshot of the whole backlog into a `noop` write."""
    with run.tracer.span("bulk.snapshot", group=f"snapshot{i}"):
        t0 = time.perf_counter()
        _snapshot_df(run.spark, run.backlog_dir, BULK_Q).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


def _drain(run: Run, tag: str, n: int) -> list[dict]:
    """One destructive stream drain, into parquet, of a queue holding the
    backlog's first ``n`` messages (see `Run.expected`), with `DRAIN_BATCH` messages
    a micro-batch, on a processing-time trigger of 0 s, until the committed
    end offset reaches the queue's end. Then the destructive-drain flush
    protocol of `mq_source_destructive_drain`: one sentinel makes Spark
    build one more batch, which acks everything before it, and the
    broker's acked count must equal ``n``. Returns the data batches, with
    the query's start-up before the first one."""
    from spark_ibm_mq_spark.sources import FakeMQBroker

    d = run.path(tag)
    os.makedirs(os.path.join(d, "broker"))
    with open(os.path.join(run.backlog_dir, f"{BULK_Q}.jsonl"), "rb") as src:
        lines = src.readlines()
    with open(os.path.join(d, "broker", f"{BULK_Q}.jsonl"), "wb") as dst:
        dst.writelines(itertools.islice(itertools.cycle(lines), n))
    broker = FakeMQBroker(os.path.join(d, "broker"), BULK_Q)
    with run.tracer.span("bulk.drain", group=tag):
        t0 = time.time()
        query = (
            _stream_reader(run.spark, broker.path, BULK_Q, keep=False, max_per_batch=DRAIN_BATCH)
            .writeStream.format("parquet").option("path", os.path.join(d, "out"))
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(processingTime="0 seconds").start()
        )
        drained = _wait_committed(query, n)
    t_drained = time.time()
    if drained:
        broker.put_all([(inputs.SENTINEL_PUT_MS, 0, inputs.SENTINEL_BODY)])
        if _wait_committed(query, n + 1):
            deadline = time.time() + 10
            while broker.acked() < n and time.time() < deadline:
                time.sleep(0.01)
            if broker.acked() != n:
                run.problems.append(f"{tag}: broker acked {broker.acked()} of {n} committed")
        else:
            run.problems.append(f"{tag}: the flush sentinel was not committed")
    batches = [{**b, "tag": tag} for b in committed_batches(progress_dicts(query)) if b["end"] <= n]
    t_flushed = time.time()
    _stop(run, query, tag)
    run.notes.setdefault("drain_wall_s", {})[tag] = {
        "drain": t_drained - t0, "flush": t_flushed - t_drained, "stop": time.time() - t_flushed,
    }
    if not drained:
        run.problems.append(f"{tag}: the queue was not committed")
        return []
    batches[0]["startup_s"] = batches[0]["end_s"] - batches[0]["durations_ms"]["triggerExecution"] / 1000 - t0
    return batches


def _writeback(run: Run) -> tuple[list[float], list[float], list[int]]:
    """`MQWritebackSink` through `foreachBatch`, one micro-batch per source
    file. Returns each batch's `triggerExecution` and each sink call's wall
    time, in seconds, and the messages each sink call put on the queue."""
    from spark_ibm_mq_spark.sources import FakeMQBroker
    from spark_ibm_mq_spark.streaming.mq_sink import MQWritebackSink

    d = run.path("writeback")
    sink = MQWritebackSink(d, WB_Q)
    queue = FakeMQBroker(d, WB_Q)
    sink_walls, puts = [], []

    def handle(df, batch_id):
        before = queue.depth()
        t = time.perf_counter()
        with run.tracer.span("mq_sink.batch", group=f"writeback{batch_id}"):
            sink(df, batch_id)
        sink_walls.append(time.perf_counter() - t)
        puts.append(queue.depth() - before)

    with run.tracer.span("bulk.writeback", group="writeback"):
        query = (
            run.spark.readStream.schema("put_ms bigint, seq_no bigint, value string")
            .option("maxFilesPerTrigger", 1).parquet(run.writeback_src)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True).start()
        )
        query.awaitTermination(WAIT_S)
    finished = not query.isActive
    trigger_s = [p["durationMs"]["triggerExecution"] / 1000 for p in progress_dicts(query) if p["numInputRows"]]
    _stop(run, query, "writeback")
    if not finished or len(trigger_s) != WRITEBACK_FILES:
        run.problems.append(f"writeback: {len(trigger_s)} of {WRITEBACK_FILES} batches finished")
        return [], [], []
    return trigger_s, sink_walls, puts


# ---------------------------------------------------------------- panel


def _panel_call(run: Run, name: str, tag: str, keep: bool = False) -> dict:
    """Build the query and run it: into a `noop` write, or, with ``keep``,
    collected into rows that are returned for the oracle check."""
    from spark_ibm_mq_spark import registry

    sc = run.spark.sparkContext
    group = f"{name}#{tag}"
    sc.setJobGroup(group, name)
    with run.tracer.span(f"panel.{name}", group=group):
        t0 = time.perf_counter()
        with run.tracer.span("panel.build", group=group):
            df = registry.QUERIES[name](run.spark, run.sf_dir)
        t1 = time.perf_counter()
        with run.tracer.span("panel.exec", group=group):
            if keep:
                rows = [tuple(r) for r in df.collect()]
            else:
                df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    out = {"build_s": t1 - t0, "exec_s": t2 - t1, "wall_s": t2 - t0}
    if keep:
        out["result"] = (df.columns, rows)
    st = sc.statusTracker()
    infos = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
    out["jobs"] = len(infos)
    out["stages"] = sum(len(i.stageIds) for i in infos if i is not None)
    return out


def panel(run: Run) -> None:
    """The traced run's panel: each of the workload's queries once cold
    (its first call in the session, collected for the oracle check), then
    `PANEL_WARM` warm passes into `noop` writes."""
    cold = {q: _panel_call(run, q, "cold", keep=True) for q in run.panel}
    run.panel_results = {q: c["result"] for q, c in cold.items()}
    passes = [{q: _panel_call(run, q, f"warm{i}") for q in run.panel} for i in range(PANEL_WARM)]
    warm = {q: [p[q] for p in passes] for q in run.panel}
    medians = {
        q: {k: statistics.median(c[k] for c in warm[q]) for k in ("wall_s", "build_s", "exec_s")}
        for q in run.panel
    }
    run.layers["panel.cold_s"] = (sum(c["wall_s"] for c in cold.values()), "s")
    run.layers["panel.warm_s"] = (sum(m["wall_s"] for m in medians.values()), "s")
    run.layers["panel.build_s"] = (sum(m["build_s"] for m in medians.values()), "s")
    run.layers["panel.exec_s"] = (sum(m["exec_s"] for m in medians.values()), "s")
    run.layers["panel.jobs"] = (sum(warm[q][-1]["jobs"] for q in run.panel), "count")
    run.layers["panel.stages"] = (sum(warm[q][-1]["stages"] for q in run.panel), "count")
    run.notes["panel"] = {
        "queries": list(run.panel), "events": BACKLOG_MSGS,
        "cold_s": {q: c["wall_s"] for q, c in cold.items()}, "warm_median_s": medians,
        "jobs": {q: warm[q][-1]["jobs"] for q in run.panel},
        "stages": {q: warm[q][-1]["stages"] for q in run.panel},
    }


def writeback(run: Run) -> None:
    """The traced run's writeback: `MQWritebackSink` puts the writeback
    source through `foreachBatch`; the rate is the median over the
    micro-batches, after the first, of rows over `triggerExecution`."""
    trigger_s, sink_walls, puts = _writeback(run)
    if not trigger_s:
        return
    # numInputRows counts each row once per scan, and the sink scans each
    # batch twice (sort, then toLocalIterator): take the rows from the files.
    rows = WRITEBACK_ROWS / WRITEBACK_FILES
    run.layers["mq_sink.msgs_per_s"] = (statistics.median(rows / t for t in trigger_s[1:]), "msg/s")
    run.layers["mq_sink.batch_s"] = (statistics.median(sink_walls[1:]), "s")
    run.layers["mq_sink.rows_per_batch"] = (statistics.median(puts), "count")
    run.notes["writeback"] = {"messages": WRITEBACK_ROWS, "batch_trigger_s": trigger_s}


def timed(run: Run) -> None:
    """The timed part of a run: `run.drains` destructive drains, each of
    a fresh queue holding the backlog twice, with `SNAPSHOTS_PER_BLOCK` browse
    snapshots into `noop` writes before, between and after them. Both
    metrics are then medians of samples spread over the whole window, so
    a stretch of a noisy host spoils a minority of the samples of each,
    not one metric's every sample. The numbers of drains and snapshots are
    fixed, not filled to a time: on a faster host more would fit, and the
    later, more compiled ones would pull its medians down twice.

    The drain rate is the median over the micro-batches of all drains,
    each drain's first batch left out, of rows over `triggerExecution`. A
    drain's first batch runs the plan the first time; it and the query's
    start-up are layer metrics of their own.

    Both medians leave out the samples during which the hypervisor took
    clearly more CPU time from this machine than during the median sample
    (`quiet_median`). On 4 shared vCPUs a run's drain rate fell by about
    3.5 times the host's steal share: 19k msg/s at 0.4 % steal, 13k at 9 %.
    The medians over all samples are in the notes.

    In the traced run, tracing is on for half of the snapshots only, in the
    order on, off, off, on, so that code still warming up favours neither
    half, and the snapshots with it on are compared with those with it
    off: that is the tracing overhead."""
    all_snaps, snaps, snap_start = [], {True: [], False: []}, []
    traced = run.tracer.enabled

    def snapshots(k):
        for _ in range(k):
            i = len(all_snaps)
            run.tracer.enabled = traced and i % 4 in (0, 3)
            snap_start.append(time.time())
            all_snaps.append(_snapshot_pass(run, i))
            snaps[run.tracer.enabled].append(all_snaps[-1])
        run.tracer.enabled = traced

    drains = []
    with StealMeter() as steal:
        t0 = time.time()
        for d in range(run.drains):
            snapshots(SNAPSHOTS_PER_BLOCK)
            drains.append(_drain(run, f"drain{d}", DRAIN_MSGS))
        snapshots(SNAPSHOTS_PER_BLOCK)
        run.notes["steal_share"] = steal.share(t0, time.time())

    snap_steal = [steal.share(t, t + d) for t, d in zip(snap_start, all_snaps)]
    run.metrics["snapshot_msgs_per_s"] = (BACKLOG_MSGS / quiet_median(all_snaps, snap_steal), "msg/s")
    run.layers["bulk.snapshot_s"] = (statistics.median(all_snaps), "s")
    run.notes["snapshot"] = {
        "messages": BACKLOG_MSGS, "pass_s": all_snaps, "steal_share": snap_steal,
        "msgs_per_s_all": BACKLOG_MSGS / statistics.median(all_snaps),
    }
    if all(drains):
        later = [b for batches in drains for b in batches[1:]]
        rates = [b["rows"] / (b["durations_ms"]["triggerExecution"] / 1000) for b in later]
        batch_steal = [steal.share(b["end_s"] - b["durations_ms"]["triggerExecution"] / 1000, b["end_s"]) for b in later]
        run.metrics["drain_msgs_per_s"] = (quiet_median(rates, batch_steal), "msg/s")
        run.notes["drain"] = {
            "messages": DRAIN_MSGS, "steal_share": batch_steal, "msgs_per_s_all": statistics.median(rates),
            "drains": [
                {
                    "batch_rows": [b["rows"] for b in batches], "startup_s": batches[0]["startup_s"],
                    "batch_durations_ms": [b["durations_ms"] for b in batches],
                }
                for batches in drains
            ],
        }
        run.layers["microbatch.drain.startup_s"] = (statistics.median(b[0]["startup_s"] for b in drains), "s")
        run.layers["microbatch.drain.first_batch_s"] = (
            statistics.median(b[0]["durations_ms"]["triggerExecution"] / 1000 for b in drains), "s"
        )
        _microbatch_layers(run, "drain", later)
    if traced:
        on, off = statistics.median(snaps[True]), statistics.median(snaps[False])
        run.layers["trace.overhead_s"] = (on - off, "s")
        run.layers["trace.overhead_frac"] = ((on - off) / off, "ratio")
        run.notes["trace_snapshots_s"] = {"traced": snaps[True], "untraced": snaps[False]}


# ---------------------------------------------------------------- checks


def _norm_cell(v):
    """The order-insensitive exact normalisation of the oracle parity test."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def check_outputs(run: Run) -> None:
    """The drain, writeback and panel outputs against their expected values,
    outside the timed parts."""
    from pyspark.sql import functions as F

    drains = [(f"drain{d}", DRAIN_MSGS) for d in range(run.drains)]
    for tag, n in [("rehearsal", BACKLOG_MSGS // 2), *drains]:
        if not os.path.isdir(run.path(tag, "out")):
            run.check(tag, n, n)
            continue
        sink = (
            run.spark.read.parquet(run.path(tag, "out")).filter(F.col("value") != inputs.SENTINEL_BODY)
            .select("key", "value").toArrow()
        )
        compare(run, tag, *run.expected(n), sink)
    if os.path.isdir(run.path("writeback")):
        back = _snapshot_df(run.spark, run.path("writeback"), WB_Q).select("key", "value").toArrow()
        compare(run, "writeback readback", *run.expected(WRITEBACK_ROWS), back)

    import duckdb

    from spark_ibm_mq_spark import registry

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{run.sf_dir}/events.parquet')")
    if not run.panel_results:
        return
    bad = 0
    for q, (s_cols, s_rows) in run.panel_results.items():
        res = con.execute(registry.ORACLE[q])
        d_cols, d_rows = [c[0] for c in res.description], res.fetchall()
        if sorted(s_cols) != sorted(d_cols) or _norm_rows(s_cols, s_rows) != _norm_rows(d_cols, d_rows):
            bad += 1
            run.problems.append(f"panel {q}: output differs from its oracle")
    con.close()
    run.check("panel", len(run.panel), bad)
