"""Seeded inputs for the benchmark: the `events` table, the message
backlogs, the keys the repair rule gives them and the writeback source.

Everything here is a pure function of the seed, so two runs with one seed
put byte-identical queues. The program sees only what these functions
produce, through `FakeMQBroker.put_all` and parquet files.

Two message shapes, one per workload:

* ``replication`` (`backlog`): JSON replication rows whose body size
  follows a lognormal of about 350 B mean, capped at 4 KB. About 40
  messages share each put-millisecond with the reset-to-1 MQ sequence
  number, so every put-millisecond forms a collision-repair chain
  (IBMMQReceiver.java:252-254); about 5 % are grouped messages with a
  sequence number above 1 (the chain's reset branch); a few bodies are
  non-ASCII.
* ``events_export`` (`events_backlog`): the queue the program itself
  builds from the `events` table for its MQ queries
  (`operators/mq_source.py`, `_broker_dir_for`): one message per event in
  (ts, event_id) order, with put-millisecond = ts, sequence number =
  event_id and body = the `props` column, a JSON object of about 10 B.
  Put-milliseconds are distinct, so the repair never rewrites a key.
"""

from __future__ import annotations

import os

import numpy as np

# The broker's flush protocol (see `mq_source_destructive_drain`): one extra
# message after the data makes Spark construct one more batch, which is when
# it acks the previous one.
SENTINEL_BODY = "__flush__"
SENTINEL_PUT_MS = 9_999_999_999_999

_BACKLOG_EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
_MEAN_BODY_B = 350
_MAX_BODY_B = 4096
_SIGMA = 0.6
_GROUPED_SHARE = 0.05
_NON_ASCII_SHARE = 0.005
_PER_MS = 40  # mean messages sharing one put-millisecond
_TABLES = ("ORDERS", "LINEITEM", "CUSTOMER", "PART")
_OPS = ("I", "U", "U", "U", "D")
_PAD = "".join(chr(ord("a") + (i * 7) % 26) if i % 6 else " " for i in range(8192))
_NON_ASCII = "Zürich Ærø 東京 Ελλάδα ✓ "


def bodies(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` replication-row message bodies."""
    ids = rng.integers(1, 10**10, size=n).tolist()
    mu = np.log(_MEAN_BODY_B) - _SIGMA**2 / 2
    size = np.minimum(rng.lognormal(mu, _SIGMA, size=n), _MAX_BODY_B).astype(np.int64).tolist()
    table = rng.integers(0, len(_TABLES), size=n).tolist()
    op = rng.integers(0, len(_OPS), size=n).tolist()
    cents = rng.integers(0, 10**7, size=n).tolist()
    pad_at = rng.integers(0, len(_PAD) - _MAX_BODY_B, size=n).tolist()
    non_ascii = (rng.random(n) < _NON_ASCII_SHARE).tolist()
    out = []
    for k in range(n):
        head = (
            f'{{"op":"{_OPS[op[k]]}","table":"{_TABLES[table[k]]}","id":{ids[k]},'
            f'"amount":{cents[k] // 100}.{cents[k] % 100:02d},"note":"'
        )
        room = max(0, size[k] - len(head) - 2)
        note = (_NON_ASCII if non_ascii[k] else "") + _PAD[pad_at[k] : pad_at[k] + room]
        out.append(head + note[:room] + '"}')
    return out


def raw_seqs(rng: np.random.Generator, n: int) -> np.ndarray:
    """MQ sequence numbers of ``n`` replication messages: mostly 1, about
    5 % of grouped messages with a number from 2 to 9."""
    seq = np.ones(n, dtype=np.int64)
    grouped = rng.random(n) < _GROUPED_SHARE
    seq[grouped] = rng.integers(2, 10, size=int(grouped.sum()))
    return seq


def backlog(seed: int, n: int) -> tuple[np.ndarray, np.ndarray, list[str]]:
    """A backlog of ``n`` replication messages: (put_ms, raw seq_no, body)."""
    rng = np.random.default_rng([seed, 1])
    sizes = rng.geometric(1.0 / _PER_MS, size=n)
    sizes = sizes[: int(np.searchsorted(np.cumsum(sizes), n)) + 1]
    sizes[-1] -= int(sizes.sum()) - n
    put_ms = np.repeat(_BACKLOG_EPOCH_MS + np.cumsum(rng.integers(1, 4, size=len(sizes))), sizes)
    return put_ms, raw_seqs(rng, n), bodies(rng, n)


def events_backlog(sf_dir: str) -> tuple[np.ndarray, np.ndarray, list[str]]:
    """The `events` table in ``sf_dir`` as the program's own fixture queue
    lays it out: (put_ms = ts in ms, seq_no = event_id, body = props), in
    (ts, event_id) order."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["ts", "event_id", "props"])
    t = t.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    put_ms = pc.divide(t.column("ts").cast("int64"), 1000).to_numpy()
    return put_ms, t.column("event_id").to_numpy(), t.column("props").to_pylist()


def repaired_keys(put_ms, raw_seq) -> list[str]:
    """Keys the reference's collision-repair rule mints for a queue read
    from its head (IBMMQReceiver.java:252-254), written out as the serial
    loop on purpose: the program's own rule is what is under test."""
    keys = []
    last_ms = last_seq = 0
    for pm, rs in zip(put_ms.tolist(), raw_seq.tolist()):
        seq = last_seq + 1 if (pm == last_ms and rs == 1) else rs
        keys.append(f"{pm}_{seq}")
        last_ms, last_seq = pm, seq
    return keys


def write_writeback_source(path: str, put_ms, seqs, values: list[str], files: int) -> None:
    """Parquet source for the writeback sink: (put_ms, seq_no, value) rows
    split over ``files`` files, so the stream reads them as that many
    micro-batches (maxFilesPerTrigger=1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    n = len(values)
    bounds = np.linspace(0, n, files + 1).astype(int)
    for f in range(files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        pq.write_table(
            pa.table(
                {
                    "put_ms": pa.array(put_ms[lo:hi], pa.int64()),
                    "seq_no": pa.array(seqs[lo:hi], pa.int64()),
                    "value": pa.array(values[lo:hi], pa.string()),
                }
            ),
            os.path.join(path, f"part-{f:03d}.parquet"),
        )


def write_events(sf_dir: str, seed: int, n: int, users: int) -> None:
    """A seeded `events` table with the fixture's schema and value shapes
    (TESTDATA.md), with distinct put-milliseconds, so a fake-broker export
    of it needs no collision repair."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    start_us = _BACKLOG_EPOCH_MS * 1000
    draws = np.unique(rng.integers(0, 30 * 86_400_000, size=n + n // 8))
    ms = np.sort(draws[rng.choice(len(draws), size=n, replace=False)])
    ts_us = start_us + ms * 1000 + rng.integers(0, 1000, size=n)
    types = np.array(["signup", "click", "view", "purchase", "error"])
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(n, dtype=np.int64)),
                "ts": pa.array(ts_us, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, users, size=n), pa.int64()),
                "event_type": pa.array(types[rng.integers(0, len(types), size=n)]),
                "value": pa.array(np.round(rng.random(n) * 200, 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n).tolist()]),
            }
        ),
        os.path.join(sf_dir, "events.parquet"),
    )
