"""File-backed fake IBM MQ broker, and the one module that knows the
queue-file format.

Stands in for a queue manager so the `ibmmq` DataSource is testable without
a broker (SURVEY.md §5.2: "an in-memory queue stub implementing
get/browse/commit/backout"). File-backed rather than in-memory because the
DataSource reader runs in a separate Python worker process — state must
survive the process boundary.

Layout under a broker directory (one broker == one queue manager):

    <dir>/<queue>.jsonl    messages, one JSON object per line:
                           {"put_ms": <epoch millis>, "seq_no": <int>,
                            "body": <str>} or {"body_b64": <base64 bytes>}
                           (body_b64 exercises the CCSID/encoding path,
                            IBMMQReceiver.java:242-244)
    <dir>/<queue>.ack      int: messages destructively consumed (committed)
                           — the MQ-side effect of qmgr.commit()
                           (IBMMQReceiver.java:357-360)
    <dir>/<queue>.inhibit  exists → MQQA_GET_INHIBITED
                           (IBMMQReceiver.java:232-235,428)
    <dir>/<queue>.fail     exists → simulate a broken connection: reads
                           raise until the file is removed
                           (reconnect path, IBMMQReceiver.java:154-198)

A message is one newline-terminated line, and a queue position is a line
number. `put_all` appends whole lines, so an unterminated tail is a put in
flight: readers (`message_block`, `put_ms_index_with_offsets`, `depth`) do
not see it until its newline lands. A blank or malformed line fails the
parse (`parse_block`) instead of shifting every later position.

Semantics:
- *browse* (keepMessages=true) reads never move `.ack`; a browse cursor is
  just a line position (MQOO_BROWSE / BROWSE_FIRST→NEXT,
  IBMMQReceiver.java:131-134,203-205).
- *destructive get* under syncpoint = read lines, then `ack(n)` on commit;
  crash before ack ⇒ the same lines are re-read (at-least-once, matching
  store→commit ordering, IBMMQReceiver.java:349-393).
"""

from __future__ import annotations

import base64
import io
import itertools
import json
import os
from collections.abc import Iterable


class FakeMQBroker:
    def __init__(self, path: str, queue: str = "DEV.QUEUE.1") -> None:
        self.path = path
        self.queue = queue
        os.makedirs(path, exist_ok=True)

    # ---- file paths ----
    def _f(self, suffix: str) -> str:
        return os.path.join(self.path, f"{self.queue}.{suffix}")

    def _check_connection(self) -> None:
        if self.connection_broken():
            raise ConnectionError(f"fake MQ: connection to {self.queue} is down")

    # ---- producer side ----
    def put(self, put_ms: int, seq_no: int, body: str | bytes) -> None:
        self.put_all([(put_ms, seq_no, body)])

    def put_all(self, messages: Iterable[tuple[int, int, str | bytes]]) -> None:
        with open(self._f("jsonl"), "a", encoding="utf-8") as f:
            for put_ms, seq_no, body in messages:
                rec: dict = {"put_ms": int(put_ms), "seq_no": int(seq_no)}
                if isinstance(body, bytes):
                    rec["body_b64"] = base64.b64encode(body).decode("ascii")
                else:
                    rec["body"] = body
                f.write(json.dumps(rec) + "\n")

    # ---- consumer side ----
    def message_block(
        self, from_pos: int, limit: int | None = None, byte_off: int | None = None
    ) -> bytes:
        """Up to ``limit`` whole messages from queue position ``from_pos``,
        as the raw newline-delimited JSON bytes — the one read every consumer
        goes through (the readers hand it to `parse_block` for one columnar
        parse). When the planner supplies ``byte_off`` (from
        `put_ms_index_with_offsets`), the read seeks there instead of
        skipping ``from_pos`` lines, so each split costs O(its slice), not
        O(queue prefix). An unterminated tail is left out."""
        self._check_connection()
        try:
            f = open(self._f("jsonl"), "rb")
        except FileNotFoundError:
            return b""
        with f:
            skip = from_pos
            if byte_off is not None:
                f.seek(byte_off)
                skip = 0
            stop = None if limit is None else skip + limit
            block = b"".join(itertools.islice(f, skip, stop))
        return block[: block.rfind(b"\n") + 1]

    def messages(self, from_pos: int, limit: int | None = None) -> list[dict]:
        """`message_block` decoded to one dict per message. Destructive
        consumers pass from_pos >= acked()."""
        return [json.loads(line) for line in self.message_block(from_pos, limit).splitlines()]

    @staticmethod
    def parse_block(
        block: bytes, queue: str, fields: tuple[str, ...] = ("put_ms", "seq_no", "body", "body_b64")
    ):
        """One pyarrow C++ JSON parse of a block of whole queue lines,
        restricted to ``fields`` (a subset of the default; must include
        put_ms). pyarrow skips blank lines, so a row count that differs
        from the newline count means a blank or malformed line: raise
        rather than let every later queue position shift. A record without
        put_ms raises too."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.json as pj

        types = {"put_ms": pa.int64(), "seq_no": pa.int64(),
                 "body": pa.string(), "body_b64": pa.string()}
        parsed = pj.read_json(
            io.BytesIO(block),
            parse_options=pj.ParseOptions(
                explicit_schema=pa.schema([(name, types[name]) for name in fields]),
                unexpected_field_behavior="ignore",
            ),
        )
        lines = np.count_nonzero(np.frombuffer(block, dtype=np.uint8) == 0x0A)
        if parsed.num_rows != lines:
            raise ValueError(
                f"fake MQ: {queue} parsed {parsed.num_rows} records from {lines} "
                "lines — blank or malformed line in queue file"
            )
        missing = parsed["put_ms"].null_count
        if missing:
            raise ValueError(f"fake MQ: {missing} record(s) in {queue} missing put_ms")
        return parsed

    def put_ms_index_with_offsets(
        self, from_pos: int
    ) -> tuple[list[int], list[int]]:
        """Metadata-only scan for the batch reader's split planning: the
        put_ms of every message from ``from_pos`` on, plus its BYTE offset
        in the queue file (so splits can seek, see `message_block`):
        newline offsets from one numpy byte scan, put_ms from a
        `parse_block` restricted to that field — no per-line Python."""
        self._check_connection()
        try:
            with open(self._f("jsonl"), "rb") as f:
                data = f.read()
        except FileNotFoundError:
            return [], []
        data = data[: data.rfind(b"\n") + 1]
        if not data:
            return [], []
        import numpy as np

        nl = np.flatnonzero(np.frombuffer(data, dtype=np.uint8) == 0x0A)
        starts = np.concatenate(([0], nl[:-1] + 1))
        ms = self.parse_block(data, self.queue, ("put_ms",))["put_ms"].to_numpy()
        return ms[from_pos:].tolist(), starts[from_pos:].tolist()

    @staticmethod
    def decode_body(rec: dict, encoding: str = "utf-8") -> str:
        if "body_b64" in rec:
            raw = base64.b64decode(rec["body_b64"])
            if encoding == "utf-16-mq":
                # IBM MQ CCSID 1200: honor a BOM if present, otherwise
                # default to BIG-endian — BOM-less MQ UTF-16 payloads are
                # conventionally BE, whereas Python's bare 'utf-16' would
                # silently assume LE and mojibake.
                if raw[:2] in (b"\xff\xfe", b"\xfe\xff"):
                    return raw.decode("utf-16")
                return raw.decode("utf-16-be")
            return raw.decode(encoding)
        return rec["body"]

    def ack(self, upto_pos: int) -> None:
        """Destructively consume messages below upto_pos (monotone)."""
        cur = self.acked()
        if upto_pos > cur:
            tmp = self._f("ack.tmp")
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(str(int(upto_pos)))
            os.replace(tmp, self._f("ack"))

    def acked(self) -> int:
        try:
            with open(self._f("ack"), encoding="utf-8") as f:
                return int(f.read().strip() or 0)
        except FileNotFoundError:
            return 0

    # ---- queue state ----
    def depth(self) -> int:
        """Current queue depth (complete puts − destructive consumes)."""
        try:
            with open(self._f("jsonl"), "rb") as f:
                total = sum(chunk.count(b"\n") for chunk in iter(lambda: f.read(1 << 20), b""))
        except FileNotFoundError:
            return 0
        return total - self.acked()

    def get_inhibited(self) -> bool:
        return os.path.exists(self._f("inhibit"))

    def set_inhibited(self, flag: bool) -> None:
        if flag:
            open(self._f("inhibit"), "w").close()
        elif os.path.exists(self._f("inhibit")):
            os.remove(self._f("inhibit"))

    def connection_broken(self) -> bool:
        return os.path.exists(self._f("fail"))

    def set_connection_broken(self, flag: bool) -> None:
        if flag:
            open(self._f("fail"), "w").close()
        elif os.path.exists(self._f("fail")):
            os.remove(self._f("fail"))

    # ---- telemetry (reference R14, IBMMQReceiver.java:481-522) ----
    def stats(self) -> dict:
        return {
            "queue": self.queue,
            "depth": self.depth(),
            "acked": self.acked(),
            "get_inhibited": self.get_inhibited(),
            "connection_broken": self.connection_broken(),
        }
