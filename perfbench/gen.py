"""Seeded sensor-event generator (FIXTURES §1 ``sensor_events``).

Events are ``{"occurred_at_ms", "sensor_name", "reading"}`` JSON lines:
10 sensors, readings in [0, 115) with three decimals, event time equal
to creation time in ms at 5,000 events/s of event time. Events come in
200 ms chunks; a chunk's events are shuffled inside its file (arrival
order is off by at most 200 ms) and 1% are stamped 3 s before their
creation (late).

The ``window_drain`` backlog is files of 500k events on a fixed
event-time base, byte-identical for a given seed. It is built before
any timing.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np

SENSORS = 10
TICK_MS = 200
RATE_PER_S = 5000
LATE_SHARE = 0.01
LATE_MS = 3000
SAMPLE_EVENT = {"occurred_at_ms": 100, "sensor_name": "foo", "reading": 0.0}

# Event-time base of the backlog: fixed, so files are byte-identical.
BASE_MS = 1_700_000_000_000
FILE_EVENTS = 500_000


def make_events(rng: np.random.Generator, start_ms: int, events: int):
    """``events`` events from ``start_ms`` on, in file order.

    Returns ``(occurred_ms, sensor, reading)`` arrays."""
    per_chunk = RATE_PER_S * TICK_MS // 1000
    chunk = np.arange(events, dtype=np.int64) // per_chunk
    created = start_ms + chunk * TICK_MS + rng.integers(0, TICK_MS, events)
    # Shuffle inside each chunk only: sort by (chunk, random key).
    created = created[np.lexsort((rng.random(events), chunk))]
    sensor = rng.integers(0, SENSORS, events)
    reading = np.floor(rng.uniform(0.0, 115.0, events) * 1000.0) / 1000.0
    late = rng.random(events) < LATE_SHARE
    return created - np.where(late, LATE_MS, 0), sensor, reading


def to_json_lines(occurred, sensor, reading) -> bytes:
    return "".join(
        f'{{"occurred_at_ms":{t},"sensor_name":"sensor_{s}","reading":{r:.3f}}}\n'
        for t, s, r in zip(occurred.tolist(), sensor.tolist(), reading.tolist())
    ).encode()


def write_backlog(directory: Path, seed: int, files: int) -> list[tuple]:
    """Write the seed's first ``files`` backlog files into ``directory``
    with increasing mtimes (the file source orders new files by mtime).
    File ``i`` starts 100 s of event time after file ``i - 1``. Returns
    each file's event arrays for the reference."""
    directory.mkdir(parents=True, exist_ok=True)
    out = []
    for i in range(files):
        ev = make_events(np.random.default_rng([seed, i]),
                         BASE_MS + i * FILE_EVENTS * 1000 // RATE_PER_S, FILE_EVENTS)
        path = directory / f"part-{i:04d}.json"
        path.write_bytes(to_json_lines(*ev))
        os.utime(path, ns=(0, (1_000_000 + i) * 1_000_000_000))
        out.append(ev)
    return out
