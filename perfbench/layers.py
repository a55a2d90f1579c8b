"""In-process replays for the traced run.

After the timed phases, the traced run calls single layers directly on the
same inputs the phases used, so each layer's cost can be read without the
rest of the pipeline around it: the broker's block read, index scan and
ack, the Arrow parse, the batch reader's planning and split reads, the
per-action floor and fixture-table loading.
"""

from __future__ import annotations

import statistics
import time

from perfbench.phases import BACKLOG_MSGS, BULK_Q, Run

REPEATS = 3


def _median_s(run: Run, name: str, fn, repeats: int = REPEATS):
    """Median wall time of ``fn()`` over ``repeats`` calls, and its last result."""
    walls, out = [], None
    for i in range(repeats):
        with run.tracer.span(name, group=f"replay{i}"):
            t0 = time.perf_counter()
            out = fn()
            walls.append(time.perf_counter() - t0)
    return statistics.median(walls), out


def replay(run: Run) -> None:
    from spark_ibm_mq_spark.sources import FakeMQBroker
    from spark_ibm_mq_spark.sources.mq import MQBatchReader, arrow_batch_from_block
    from spark_ibm_mq_spark.tables import load_table

    L = run.layers
    broker = FakeMQBroker(run.backlog_dir, BULK_Q)
    n = BACKLOG_MSGS // 2  # one block at the queue head, one at its tail
    head_s, head = _median_s(run, "fake_mq.message_block", lambda: broker.message_block(0, n))
    tail_s, _ = _median_s(
        run, "fake_mq.message_block", lambda: broker.message_block(BACKLOG_MSGS - n, n)
    )
    L["fake_mq.message_block_s.head"] = (head_s, "s")
    L["fake_mq.message_block_s.tail"] = (tail_s, "s")
    index_s, _ = _median_s(run, "fake_mq.put_ms_index", lambda: broker.put_ms_index_with_offsets(0))
    L["fake_mq.put_ms_index_s"] = (index_s, "s")
    arrow_s, _ = _median_s(
        run, "mq.arrow_batch_from_block", lambda: arrow_batch_from_block(head, BULK_Q, "utf-8", 0, 0)
    )
    L["mq.arrow_batch_s_per_100k"] = (arrow_s * 100_000 / n, "s")

    reader = MQBatchReader({"path": run.backlog_dir, "queue": BULK_Q})
    parts_s, parts = _median_s(run, "mq.partitions", reader.partitions)
    read_s, _ = _median_s(run, "mq.read_splits", lambda: [list(reader.read(p)) for p in parts])
    L["mq.partitions_s"] = (parts_s, "s")
    run.notes["mq_splits"] = len(parts)
    L["mq.read_splits_s"] = (read_s, "s")
    L["mq.snapshot_outside_source_s"] = (L["bulk.snapshot_s"][0] - parts_s - read_s, "s")

    puts = run.tracer.durations("fake_mq.put_all", group="backlog")
    L["fake_mq.put_all_msgs_per_s"] = (BACKLOG_MSGS / statistics.median(puts), "msg/s")
    ack = FakeMQBroker(run.path("ack_replay"), "ACK.Q")
    ack.put_all([])
    positions = iter(range(1, 10_000))
    ack_s, _ = _median_s(run, "fake_mq.ack", lambda: ack.ack(next(positions)), repeats=25)
    L["fake_mq.ack_s"] = (ack_s, "s")

    spark = run.spark
    floor_s, _ = _median_s(
        run, "operators.floor",
        lambda: spark.range(1).write.format("noop").mode("overwrite").save(), repeats=5,
    )
    L["operators.floor_s"] = (floor_s, "s")
    sc = spark.sparkContext
    sc.setJobGroup("tables.load_table", "load_table")
    load_s, _ = _median_s(run, "tables.load_table", lambda: load_table(spark, run.sf_dir, "events"))
    st = sc.statusTracker()
    L["tables.load_table_s"] = (load_s, "s")
    L["tables.load_table_jobs"] = (len(st.getJobIdsForGroup("tables.load_table")) / REPEATS, "count")
    L["session.get_spark_s"] = (run.tracer.durations("session.get_spark")[0], "s")
    L["session.register_ibmmq_s"] = (run.tracer.durations("session.register_ibmmq")[0], "s")
