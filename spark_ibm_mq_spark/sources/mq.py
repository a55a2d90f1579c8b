"""The `ibmmq` DataSource (PySpark Python Data Source API, Spark ≥ 4).

A Structured-Streaming-native replacement for the reference's DStream
``Receiver<String>`` (IBMMQReceiver.java) with the same ordering, delivery,
and flow-control semantics:

- browse vs destructive consumption  (IBMMQReceiver.java:131-136,203-211)
- key = `<putMillis>_<seqNo>` with sequence-collision repair
  (IBMMQReceiver.java:250-254,259)
- commit-after-durable: Spark persists the offset, then `commit(end)` acks
  MQ — the store()→qmgr.commit() ordering of IBMMQReceiver.java:349-393,
  with the checkpoint offset log replacing the receiver WAL (README.md:71-75)
- halt-file kill-switch (IBMMQReceiver.java:457-479) and GET-inhibited
  respect (IBMMQReceiver.java:232-235) → empty micro-batches
- maxMessagesPerBatch — an *honored* rate cap (the reference parses
  mqRateLimit but never uses it, IBMMQReceiver.java:120-124; actual limiting
  was delegated to spark.streaming.receiver.maxRate, README.md:62)
- reconnect with configurable backoff (reference hardcodes 600 s,
  IBMMQReceiver.java:193-198)
- CCSID/encoding decode of the message body (IBMMQReceiver.java:242-244)

Unlike the reference, the source emits TYPED columns
(key, value, put_ts, seq_no, queue) instead of a stringly JSON envelope —
the envelope projection is a `select`, not a parse (SURVEY.md §1.2).

Scale / ordering: one STREAM reader instance per queue, mirroring the
reference's one-receiver-per-queue ordering contract (README.md:60-65). The
SimpleDataSourceStreamReader runs driver-side — correct for a serial
protocol like MQ; streaming parallelism comes from unioning per-queue
streams, and everything downstream of the source is fully distributed. The
BATCH path reads a bounded snapshot and does fan out: the seq-repair chain
resets at put_ms boundaries, so MQBatchReader splits the snapshot at
timestamp changes into independent executor-side slices (plan_splits).

Deterministic replay: the synthesized-seq state (last_ms, last_seq) is part
of the offset JSON, so a replayed batch mints identical keys (SURVEY.md §7
"hard parts" — this is what keeps exactly-once dedup sound across restarts).

Both readers reach the broker through one call each — `message_block`
(whole lines from a position), `put_ms_index_with_offsets` (split
planning), `ack`, `get_inhibited` — on the file-backed FakeMQBroker, and
every call goes through one reconnect loop (`_with_reconnect`). A live
queue manager maps onto those calls as follows (pymqi, the public IBM MQ
Python client):

- connect with MQCSP auth               ↔ IBMMQReceiver.java:403-415
- browse cursor (MQOO_BROWSE + MQGMO_BROWSE_FIRST/NEXT; position = cursor)
  or destructive MQGMO_SYNCPOINT get    ↔ IBMMQReceiver.java:131-136,203-211
- ack(upto) = qmgr.commit(), a failed batch = qmgr.backout()
                                        ↔ IBMMQReceiver.java:349-393
- CCSID conversion via MQGMO_CONVERT    ↔ IBMMQReceiver.java:204,242-244
- depth / GET-inhibited = inquire MQIA_CURRENT_Q_DEPTH / MQIA_INHIBIT_GET
"""

from __future__ import annotations

import itertools
import os
import time

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from spark_ibm_mq_spark.sources.fake_mq import FakeMQBroker

SCHEMA = "key string, value string, put_ts timestamp_ntz, seq_no bigint, queue string"


def repair_seq(put_ms: int, raw_seq: int, last_ms: int, last_seq: int) -> int:
    """The reference's sequence-collision rule (IBMMQReceiver.java:252-254):
    consecutive messages sharing a put timestamp where the incoming MQ seqNo
    reset to 1 (non-grouped messages always report 1) get a synthesized
    monotone seq = lastSeqNo + 1, keeping keys unique and ordered."""
    if last_ms == put_ms and raw_seq == 1:
        return last_seq + 1
    return raw_seq


def vectorized_repair_seq(put_ms, raw_seq, last_ms: int = 0, last_seq: int = 0):
    """Closed-form batch equivalent of chaining `repair_seq` over a block,
    from the carry-in state (last_ms, last_seq). The stream reader's offset
    carries that state across batches; the batch reader's splits start at
    put_ms boundaries, where the default (0, 0) is exact (see `plan_splits`).

    Derivation: the carry-in goes in front as a virtual row, since the
    serial rule consults exactly one previous message. Position i is a
    RESET when its chain restarts — the put_ms changed (repair never
    consults the previous message across a timestamp change) or the raw seq
    is not the reset-to-1 sentinel (a genuine MQ group seq is kept verbatim
    and subsequent collisions count up from it). Between resets, each
    raw_seq==1 message increments by one. So with r = index of the nearest
    reset at-or-before i (a running maximum), seq[i] = raw_seq[r] + (i - r)
    — three numpy passes, no Python loop, bit-identical to the serial chain
    (property-tested against it)."""
    import numpy as np

    pm = np.concatenate((np.asarray([last_ms], dtype="int64"), put_ms))
    rs = np.concatenate((np.asarray([last_seq], dtype="int64"), raw_seq))
    idx = np.arange(len(pm), dtype="int64")
    reset = np.empty(len(pm), dtype=bool)
    reset[0] = True
    np.not_equal(pm[1:], pm[:-1], out=reset[1:])
    reset[1:] |= rs[1:] != 1
    last_reset = np.maximum.accumulate(np.where(reset, idx, 0))
    return (rs[last_reset] + (idx - last_reset))[1:]


def arrow_batch_from_block(
    block: bytes, queue: str, encoding: str, last_ms: int, last_seq: int
):
    """One columnar pass from a `message_block` to a pyarrow RecordBatch —
    the shared path of both readers: one `FakeMQBroker.parse_block` of the
    whole block (no per-message Python dicts), the seq-collision repair as
    the closed-form numpy pass, and the key column as an arrow binary_join —
    no per-row Python on the common text-body path. The parse raises on a
    blank or malformed line, so the row count always equals the lines
    consumed and a stream offset never drifts from the queue position.

    Returns (batch, last_ms, last_seq) — the carry-out repair state the
    stream reader stores in its end offset — or (None, last_ms, last_seq)
    for an empty block."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not block:
        return None, last_ms, last_seq
    parsed = FakeMQBroker.parse_block(block, queue)
    put_ms = parsed["put_ms"].combine_chunks().to_numpy()
    seq = vectorized_repair_seq(
        put_ms, parsed["seq_no"].combine_chunks().to_numpy(), last_ms, last_seq
    )
    b64 = parsed["body_b64"]
    if b64.null_count == len(parsed):
        values = parsed["body"].combine_chunks()
    else:
        # bytes bodies present: CCSID decode row-at-a-time (rare path —
        # encoding tests; a production binary queue would decode via a
        # vectorized pc.binary decode for fixed codecs)
        bodies = parsed["body"].to_pylist()
        b64l = b64.to_pylist()
        values = pa.array(
            [
                FakeMQBroker.decode_body(
                    {"body_b64": b} if b is not None else {"body": t},
                    encoding,
                )
                for t, b in zip(bodies, b64l)
            ],
            pa.string(),
        )
    seq_arr = pa.array(seq, pa.int64())
    keys = pc.binary_join_element_wise(
        pc.cast(parsed["put_ms"].combine_chunks(), pa.string()),
        pc.cast(seq_arr, pa.string()),
        "_",
    )
    batch = pa.RecordBatch.from_arrays(
        [
            keys,
            values,
            pa.array(put_ms * 1000, pa.timestamp("us")),
            seq_arr,
            pa.nulls(len(parsed), pa.string()).fill_null(queue),
        ],
        schema=pa.schema(
            [
                ("key", pa.string()),
                ("value", pa.string()),
                ("put_ts", pa.timestamp("us")),
                ("seq_no", pa.int64()),
                ("queue", pa.string()),
            ]
        ),
    )
    return batch, int(put_ms[-1]), int(seq[-1])


# IBM MQ coded character set id → Python codec. The commonly-deployed CCSIDs
# (public IBM MQ documentation); anything unmapped raises rather than
# silently mojibake-ing message bodies.
_CCSID_CODECS: dict[int, str] = {
    37: "cp037",        # EBCDIC US/Canada
    273: "cp273",       # EBCDIC Germany/Austria
    500: "cp500",       # EBCDIC International
    819: "latin-1",     # ISO 8859-1
    850: "cp850",       # DOS Latin-1
    1047: "cp1047",     # EBCDIC Latin-1/Open Systems
    1200: "utf-16-mq",  # UTF-16: BOM-sniffed, BOM-less defaults to BE
                        # (pseudo-codec handled in FakeMQBroker.decode_body —
                        # Python's bare 'utf-16' assumes LE without a BOM)
    1208: "utf-8",      # UTF-8 (MQ default for text)
    1252: "cp1252",     # Windows Latin-1
    5348: "cp1252",     # Windows Latin-1 (euro update)
    13488: "utf-16-be", # UCS-2/UTF-16BE
    17584: "utf-16-be", # UTF-16BE with supplementary chars
}


def ccsid_to_codec(ccsid: int) -> str:
    try:
        return _CCSID_CODECS[ccsid]
    except KeyError:
        raise ValueError(
            f"unsupported CCSID {ccsid}; known: {sorted(_CCSID_CODECS)}"
        ) from None


class _Options:
    def __init__(self, options: dict) -> None:
        get = options.get
        self.path: str = get("path") or ""
        if not self.path:
            raise ValueError("ibmmq source requires option 'path' (broker directory)")
        self.queue: str = get("queue", "DEV.QUEUE.1")
        # browse (non-destructive) vs destructive GET — IBMMQReceiver.java:131-136
        self.keep_messages: bool = str(get("keepmessages", "true")).lower() == "true"
        self.max_per_batch: int = int(get("maxmessagesperbatch", "5000"))
        self.halt_file: str | None = get("haltfile")
        # body decode: either a Python codec name ('encoding') or an IBM MQ
        # numeric CCSID ('ccsid', IBMMQReceiver.java:95,242-244 — the
        # reference takes only the integer form). ccsid wins if both given.
        ccsid = get("ccsid")
        if ccsid is not None:
            self.encoding = ccsid_to_codec(int(ccsid))
        else:
            self.encoding = get("encoding", "utf-8")
        self.reconnect_wait_s: float = float(get("reconnectwaitms", "100")) / 1000.0
        self.max_reconnects: int = int(get("maxreconnects", "3"))

    def broker(self) -> FakeMQBroker:
        return FakeMQBroker(self.path, self.queue)


def _with_reconnect(opts: _Options, fn, *args):
    """R12: ``fn(*args)`` against the broker; on a broken connection, back
    off and retry up to ``maxReconnects`` times before surfacing the error
    to Spark (which then restarts the micro-batch from the checkpoint, the
    R13 path)."""
    for attempt in itertools.count(1):
        try:
            return fn(*args)
        except ConnectionError:
            if attempt > opts.max_reconnects:
                raise
            time.sleep(opts.reconnect_wait_s)


class MQSplit(InputPartition):
    """One put_ms-aligned slice of the browse snapshot. ``byte_off`` (when
    the planner knows it) lets the executor SEEK to its slice instead of
    skipping the queue prefix line-by-line."""

    def __init__(self, from_pos: int, count: int, byte_off: int | None = None) -> None:
        self.from_pos = from_pos
        self.count = count
        self.byte_off = byte_off


def plan_splits(put_ms: list[int], target_rows: int, max_splits: int) -> list[tuple[int, int]]:
    """Split a browse snapshot into (offset, count) slices that each start
    at a put_ms BOUNDARY (the first message of a run of equal timestamps).

    The seq-collision repair (repair_seq) consults the previous message
    only when ``last_ms == put_ms`` — and last_ms is always the previous
    message's put_ms — so the synthesized-seq chain RESETS at every
    timestamp change. A reader seeded with (last_ms=0, last_seq=0) at a
    boundary therefore mints byte-identical keys to the serial scan; the
    split is exactness-preserving, not approximate. A snapshot whose
    messages all share one put_ms degenerates to a single slice (correct:
    that chain really is serial)."""
    n = len(put_ms)
    if n == 0:
        return []
    target = max(1, target_rows)
    points = [0]
    i = target
    while i < n and len(points) < max_splits:
        j = i
        while j < n and put_ms[j] == put_ms[j - 1]:
            j += 1  # slide right to the next timestamp change
        if j >= n:
            break
        points.append(j)
        i = j + target
    return [
        (p, (points[k + 1] if k + 1 < len(points) else n) - p)
        for k, p in enumerate(points)
    ]


class MQBatchReader(DataSourceReader):
    """Batch path: a browse snapshot of the queue (drain-without-consume),
    the R3 cursor scan as a bounded relation.

    Unlike the streaming reader (driver-side by protocol — a live MQ browse
    cursor is serial), a bounded SNAPSHOT can be read in parallel: the only
    cross-message state is the seq-repair chain, which resets at put_ms
    boundaries (see plan_splits), so partitions() cuts the snapshot at
    timestamp changes and each executor reads its slice independently with
    freshly-seeded state. Planning costs one driver-side metadata scan of
    put_ms values (no body decode/JSON parse); the expensive work — JSON
    parse, CCSID decode, key mint, Arrow assembly — fans out across the
    cluster. `batchSplitRows` tunes slice size (default 10k rows),
    `maxBatchPartitions` caps the fan-out."""

    def __init__(self, options: dict) -> None:
        self.opts = _Options(options)
        self._split_rows = int(options.get("batchsplitrows", "10000"))
        self._max_splits = int(options.get("maxbatchpartitions", "64"))

    def partitions(self):
        opts = self.opts
        broker = opts.broker()
        start = broker.acked()
        ms, offs = _with_reconnect(opts, broker.put_ms_index_with_offsets, start)
        splits = plan_splits(ms, self._split_rows, self._max_splits)
        if not splits:
            return [MQSplit(start, 0)]
        return [MQSplit(start + off, cnt, offs[off]) for off, cnt in splits]

    def read(self, partition: MQSplit):
        """Emits pyarrow RecordBatches (Spark 4 arrow path for Python data
        sources) via the shared `arrow_batch_from_block` columnar pass; the
        CCSID/body_b64 decode path drops to Python only for the rows that
        actually carry bytes. Seq state seeds to zero: the slice starts at
        a put_ms boundary, where the repair chain has no carry-over by
        construction."""
        opts = self.opts
        broker = opts.broker()
        if partition.count <= 0:
            return
        block = _with_reconnect(
            opts, broker.message_block, partition.from_pos, partition.count, partition.byte_off
        )
        batch, _, _ = arrow_batch_from_block(block, opts.queue, opts.encoding, 0, 0)
        if batch is not None:
            yield batch


class MQSimpleStreamReader(SimpleDataSourceStreamReader):
    """Streaming path. Offset JSON carries (pos, last_ms, last_seq): queue
    position plus the collision-repair state, so read/replay are bit-identical
    (deterministic keys across restarts)."""

    def __init__(self, options: dict) -> None:
        self.opts = _Options(options)

    def initialOffset(self) -> dict:
        start = self.opts.broker().acked() if not self.opts.keep_messages else 0
        return {"pos": start, "last_ms": 0, "last_seq": 0}

    def _paused(self, broker: FakeMQBroker) -> bool:
        # R9 halt file + R10 GET-inhibited ⇒ produce empty batches
        if self.opts.halt_file and os.path.exists(self.opts.halt_file):
            return True
        return broker.get_inhibited()

    def read(self, start: dict) -> tuple:
        """One prefetched micro-batch as a SINGLE pyarrow RecordBatch.

        Spark's simple-reader wrapper accepts RecordBatch elements from
        this iterator (records_to_arrow_batches yields them straight onto
        the arrow stream), so the whole batch crosses the Python boundary
        as one columnar block instead of max_per_batch pickled tuples that
        Spark would re-convert to arrow field by field. The end
        offset advances by the rows read, which `arrow_batch_from_block`
        guarantees equal the whole lines consumed; a put still in flight
        is not read until its line is complete."""
        opts = self.opts
        broker = opts.broker()
        if self._paused(broker):
            return iter([]), dict(start)
        block = _with_reconnect(opts, broker.message_block, start["pos"], opts.max_per_batch)
        batch, last_ms, last_seq = arrow_batch_from_block(
            block, opts.queue, opts.encoding, start["last_ms"], start["last_seq"]
        )
        if batch is None:
            return iter([]), dict(start)
        end = {
            "pos": start["pos"] + batch.num_rows,
            "last_ms": last_ms,
            "last_seq": last_seq,
        }
        return iter([batch]), end

    def readBetweenOffsets(self, start: dict, end: dict):
        """Replay path (query restart): same arrow block pass, seeded with
        the START offset's repair state — byte-identical keys to the
        original read (the deterministic-replay contract)."""
        opts = self.opts
        broker = opts.broker()
        n = end["pos"] - start["pos"]
        if n <= 0:
            return iter([])
        block = _with_reconnect(opts, broker.message_block, start["pos"], n)
        batch, _, _ = arrow_batch_from_block(
            block, opts.queue, opts.encoding, start["last_ms"], start["last_seq"]
        )
        return iter([] if batch is None else [batch])

    def commit(self, end: dict) -> None:
        # Commit-after-durable (R7): Spark has persisted `end` to the offset
        # log before calling this; acking MQ now means a crash in between
        # redelivers (at-least-once), never loses. Browse mode never acks.
        if not self.opts.keep_messages:
            self.opts.broker().ack(end["pos"])


class IBMMQDataSource(DataSource):
    """spark.read[Stream].format("ibmmq") — see module docstring for the
    option surface (mirrors the reference ctor args IBMMQReceiver.java:101-102)."""

    @classmethod
    def name(cls) -> str:
        return "ibmmq"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> MQBatchReader:
        return MQBatchReader(self.options)

    def simpleStreamReader(self, schema) -> MQSimpleStreamReader:
        return MQSimpleStreamReader(self.options)


_REGISTERED_SESSIONS: set[int] = set()


def register_ibmmq(spark) -> None:
    """Register the source and ship the package to worker Python processes.

    The DataSource class is pickled by reference, so the Python workers
    (driver-side planner for the stream reader, executors for the batch
    reader) must be able to import spark_ibm_mq_spark — addPyFile'ing a
    package zip is the standard way to guarantee that for an externally
    created session (e.g. the correctness driver's)."""
    key = id(spark)
    if key in _REGISTERED_SESSIONS:
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join("/tmp", "spark_ibm_mq_spark_pkg.zip")
    tmp = zip_path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:  # rebuilt each time: must track code
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    spark.dataSource.register(IBMMQDataSource)
    _REGISTERED_SESSIONS.add(key)
