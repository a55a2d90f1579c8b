"""Reading a streaming query's progress reports: which queue range each
micro-batch committed, when it ended, and Spark's own phase timings; and
the host's steal time over any window of the run."""

from __future__ import annotations

import datetime as dt
import json
import statistics
import threading
import time

import numpy as np


def progress_dicts(query) -> list[dict]:
    """A streaming query's progress reports as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def _offset_pos(off) -> int:
    if off is None:
        return 0
    if isinstance(off, str):
        off = json.loads(off)
    return int(off["pos"])


def _epoch_s(stamp: str) -> float:
    return (
        dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def committed_batches(progress: list[dict]) -> list[dict]:
    """One entry per micro-batch that read messages: its queue range
    [start, end), when it ended (progress timestamp plus the trigger's
    duration, in epoch seconds) and Spark's phase durations."""
    out = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        src = p["sources"][0]
        dur = p["durationMs"]
        out.append(
            {
                "batch": int(p["batchId"]),
                "start": _offset_pos(src.get("startOffset")),
                "end": _offset_pos(src["endOffset"]),
                "end_s": _epoch_s(p["timestamp"]) + dur["triggerExecution"] / 1000.0,
                "durations_ms": dur,
                "rows": int(p["numInputRows"]),
            }
        )
    out.sort(key=lambda b: b["start"])
    return out


class StealMeter:
    """Reads the host's CPU-time counters from ``/proc/stat`` every
    ``period`` seconds on a daemon thread, so the share of this machine's
    CPU time that the hypervisor gave to other guests (steal) can be read
    for any window of the run."""

    def __init__(self, period: float = 0.05) -> None:
        self.period = period
        self.samples: list[tuple[float, int, int]] = []
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat", encoding="ascii") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)

    def _loop(self) -> None:
        while not self._done.is_set():
            self.samples.append((time.time(), *self._read()))
            self._done.wait(self.period)

    def __enter__(self) -> "StealMeter":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join()
        self.samples.append((time.time(), *self._read()))

    def share(self, start: float, end: float) -> float:
        """Steal over all CPU time between two `time.time()` stamps."""
        t, steal, total = (np.array(c, dtype=float) for c in zip(*self.samples))
        s0, s1 = np.interp([start, end], t, steal)
        c0, c1 = np.interp([start, end], t, total)
        return float((s1 - s0) / (c1 - c0)) if c1 > c0 else 0.0


STEAL_TOLERANCE = 0.01  # two clock ticks of four CPUs over half a second


def quiet_median(values: list[float], steal: list[float]) -> float:
    """Median of the values whose sample lost at most `STEAL_TOLERANCE`
    more of the host's CPU time to steal than the median sample did: at
    least half of them, and all of them on a quiet host."""
    cut = statistics.median(steal) + STEAL_TOLERANCE
    return statistics.median(v for v, s in zip(values, steal) if s <= cut)
