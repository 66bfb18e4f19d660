"""Seeded input generators for the benchmark workloads.

Every table is written with numpy + pyarrow, never through Spark, so the
inputs do not depend on the engine under test. The same seed always
gives byte-identical files.

- ``events``: the ``events`` table of the star schema (FIXTURES.md §4),
  shaped like the sf0.01 test data: unique, increasing timestamps over
  30 days, 150 devices, five event types, exponential values, a small
  ``props`` JSON string.
- ``documents``: short texts over a 30-word vocabulary; 5% are a copy of
  another document plus the token ``dup`` (the near-duplicates the dedup
  keys look for).
- ``embeddings``: 64-d unit vectors with ten labels.
- ``raw stream``: RuuviTag gateway messages (FIXTURES.md §1) split into
  files, with invalid messages and replayed files mixed in, plus the
  counts a correct ingest must produce (:class:`StreamExpectation`).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = (("en", 0.42), ("es", 0.15), ("fr", 0.14), ("zh", 0.15), ("de", 0.14))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_events(out_dir: str, seed: int, n: int) -> None:
    rng = np.random.default_rng([seed, 1])
    start = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span, size=n, replace=False)) + start  # unique micros
    n_dev = max(2, n * 3 // 200)  # 150 devices per 10k events, as in sf0.01
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_dev, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    _write(table, os.path.join(out_dir, "events.parquet"))


def write_documents(out_dir: str, seed: int, n: int) -> None:
    rng = np.random.default_rng([seed, 2])
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        src = int(rng.integers(0, n))
        texts[i] = texts[src if src != i else (i + 1) % n] + " dup"
    langs, weights = zip(*LANGS)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(langs, n, p=weights)),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    _write(table, os.path.join(out_dir, "documents.parquet"))


def write_embeddings(out_dir: str, seed: int, n: int, dim: int = 64) -> None:
    rng = np.random.default_rng([seed, 3])
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )
    _write(table, os.path.join(out_dir, "embeddings.parquet"))


# --- raw RuuviTag stream ------------------------------------------------------

# Fixed ingest anchor ("now" for relative and unparseable timestamps and
# for the 24 h clamp), so the expected table is a function of the seed.
ANCHOR = "2025-09-26 12:00:00"
_ANCHOR_S = int(datetime(2025, 9, 26, 12, tzinfo=timezone.utc).timestamp())
_RELATIVE_TS_CUTOFF = 10_000_000
_CLAMP_S = 24 * 3600
# channel -> device_type, in RAW_RUUVITAG_SCHEMA order (schema.SENSOR_MAPPING)
CHANNELS = {
    "temperature": "temperature_sensor",
    "humidity": "humidity_sensor",
    "pressure": "pressure_sensor",
    "acceleration_x": "acceleration_sensor",
    "acceleration_y": "acceleration_sensor",
    "acceleration_z": "acceleration_sensor",
    "battery_voltage": "battery_sensor",
    "tx_power": "transmit_power_sensor",
    "movement_counter": "movement_sensor",
}
_RAW_SCHEMA = pa.schema(
    [("device_id", pa.string()), ("device_type", pa.string()), ("timestamp", pa.string())]
    + [(c, pa.float64()) for c in CHANNELS]
    + [("measurement_sequence", pa.float64())]
)


@dataclass(frozen=True)
class StreamExpectation:
    """What a correct effectively-once ingest of the generated files yields."""

    files: int  # micro-batches (one file per trigger)
    replayed_files: int
    messages: int  # raw messages delivered, replays included
    readings_offered: int  # fanned-out readings that pass validation, replays included
    readings_distinct: int  # rows the table must hold
    rejected: int  # fanned-out readings of invalid messages, replays included


def _normalized_second(ts: str) -> int:
    """The epoch second ingest assigns to a raw timestamp string
    (operators.ingest.timestamp_normalize, then clamp_timestamps)."""
    if ts.isdigit():
        sec = int(ts) if int(ts) >= _RELATIVE_TS_CUTOFF else _ANCHOR_S
    else:
        try:
            sec = int(datetime.fromisoformat(ts).replace(tzinfo=timezone.utc).timestamp())
        except ValueError:
            sec = _ANCHOR_S
    return _ANCHOR_S if abs(sec - _ANCHOR_S) > _CLAMP_S else sec


def _raw_batch(rng: np.random.Generator, macs: list[str], first_tick: int, n: int) -> dict[str, list]:
    dev = rng.integers(0, len(macs), n)
    # ticks walk forward one second per message, so a device never repeats a second
    sec = _ANCHOR_S - 20 * 3600 + first_tick + np.arange(n)
    ts = [str(int(s)) for s in sec]
    kind = rng.random(n)
    device_id: list = [macs[d] for d in dev]
    for i in np.flatnonzero(kind < 0.02):  # invalid: no device id -> rejected
        device_id[i] = None
    for i in np.flatnonzero((kind >= 0.02) & (kind < 0.03)):  # unparseable -> anchor
        ts[i] = "not-a-time"
    for i in np.flatnonzero((kind >= 0.03) & (kind < 0.04)):  # uptime-relative -> anchor
        ts[i] = str(int(rng.integers(1000, 9_000_000)))
    for i in np.flatnonzero((kind >= 0.04) & (kind < 0.06)):  # ISO-8601 form
        ts[i] = datetime.fromtimestamp(int(sec[i]), timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    cols: dict[str, list] = {
        "device_id": device_id,
        "device_type": ["ruuvitag"] * n,
        "timestamp": ts,
        "temperature": np.round(rng.normal(21.0, 8.0, n), 2),
        "humidity": np.round(rng.uniform(5.0, 100.0, n), 2),
        "pressure": np.round(rng.uniform(86_000.0, 110_000.0, n), 1),
        "acceleration_x": np.round(rng.uniform(-2.0, 2.0, n), 3),
        "acceleration_y": np.round(rng.uniform(-2.0, 2.0, n), 3),
        "acceleration_z": np.round(rng.uniform(-2.0, 2.0, n), 3),
        "battery_voltage": np.round(rng.uniform(1.9, 3.1, n), 3),
        "tx_power": rng.integers(-40, 9, n).astype(float),
        "movement_counter": rng.integers(0, 256, n).astype(float),
        "measurement_sequence": (first_tick + np.arange(n)).astype(float),
    }
    # out-of-range battery: clamped to 0 or 100 %, still stored
    for i in np.flatnonzero((kind >= 0.06) & (kind < 0.07)):
        cols["battery_voltage"][i] = 1.5 if rng.random() < 0.5 else 3.6
    out = {k: list(v) for k, v in cols.items()}
    for c in CHANNELS:  # each channel is missing from ~4% of messages
        for i in np.flatnonzero(rng.random(n) < 0.04):
            out[c][i] = None
    return out


def write_raw_stream(
    out_dir: str, seed: int, files: int, messages_per_file: int, replay_every: int
) -> StreamExpectation:
    """Write ``files`` parquet files of raw messages into ``out_dir``; every
    ``replay_every``-th file re-delivers an earlier file's messages.
    File modification times increase with the file index, so a file
    source with ``maxFilesPerTrigger=1`` takes them in order."""
    rng = np.random.default_rng([seed, 4])
    macs = [":".join(f"{b:02x}" for b in rng.integers(0, 256, 6)) for _ in range(16)]
    os.makedirs(out_dir, exist_ok=True)
    batches: list[dict[str, list]] = []
    replayed = offered = rejected = messages = 0
    keys: set[tuple[str, int, str]] = set()
    for f in range(files):
        if replay_every and f % replay_every == replay_every - 1:
            batch = batches[int(rng.integers(0, len(batches)))]
            replayed += 1
        else:
            batch = _raw_batch(rng, macs, sum(len(b["timestamp"]) for b in batches), messages_per_file)
            batches.append(batch)
        path = os.path.join(out_dir, f"raw-{f:04d}.parquet")
        _write(pa.table(batch, schema=_RAW_SCHEMA), path)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
        messages += len(batch["timestamp"])
        for i, mac in enumerate(batch["device_id"]):
            present = [c for c in CHANNELS if batch[c][i] is not None]
            if mac is None:
                rejected += len(present)
                continue
            offered += len(present)
            sec = _normalized_second(batch["timestamp"][i])
            keys.update((f"{mac}_{c}", sec, CHANNELS[c]) for c in present)
    return StreamExpectation(files, replayed, messages, offered, len(keys), rejected)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
