"""Seeded inputs for the benchmark workloads, derived from the sf0.1 fixtures.

`data/events.parquet` and `data/documents.parquet` are the engine's sf0.1
fixture tables (FIXTURES.md), committed here so a run needs nothing
outside its checkout. Every input is a pure function of the seed: the same
seed writes byte-identical files. The seed never invents rows; it only
moves and renames fixture rows, so the fixture's distributions and planted
structure survive:

* events (100,000 rows, 1,500 users, 2024-01-01..30, five event types in
  near-equal shares, 45-99 events per user, value median 34.8): a
  seed-chosen set of users with all their events, user_id and event_id
  shifted by a seeded multiple of SHIFT_UNIT. Timestamps, event types,
  values and props are unchanged, so every per-user sequence (sessions,
  daily traffic, areas, popular documents) is the fixture's.
* documents (5,000 rows, 31-word vocabulary, 44-577 characters, en 41 %):
  a seeded window of whole ten-id blocks (the decade a planted media copy
  refers to), its text under a seeded letter cipher (a bijection on
  tokens, so every Jaccard relation inside the window is the fixture's),
  and, where the caller allows it, doc_id shifted by a multiple of
  SHIFT_UNIT (a multiple of 97, so the eval slice doc_id % 97 == 0 is the
  same set of documents).

Document counts depend only on the workload's size constants. Event
counts vary with the users chosen (by under 1 % at half the users), so
throughput is always computed from the rows actually generated.
"""

from __future__ import annotations

import json
import os
import string
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
EVAL_MOD = 97  # operators.pipeline.BENCH_MOD: the eval slice of the funnel
BLOCK = 10  # operators.phash.NEARDUP_DECADE: ids ending in 8/9 copy the block leader
SHIFT_UNIT = EVAL_MOD * 3 * 100_000  # keeps doc_id % 97 and user_id % 3


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input kind, so adding one input never
    shifts another's rows."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def id_shift(seed: int, stream: str) -> int:
    return int(_rng(seed, stream).integers(1, 300)) * SHIFT_UNIT


def fixture(name: str) -> pa.Table:
    return pq.read_table(os.path.join(DATA, f"{name}.parquet"))


def event_table(seed: int, stream: str = "events", n_users: int | None = None,
                day: str | None = None) -> pa.Table:
    """The fixture's events with user_id and event_id shifted by a seeded
    amount. With `n_users`, only the events of that many seed-chosen users
    (each user's whole sequence); with `day` ("YYYY-MM-DD"), only that
    day's events."""
    events = fixture("events")
    if n_users is not None:
        users = np.unique(events["user_id"].to_numpy())
        keep = _rng(seed, f"{stream}-users").choice(users, n_users, replace=False)
        events = events.filter(pc.is_in(events["user_id"], pa.array(keep)))
    if day is not None:
        days = pc.strftime(events["ts"], format="%Y-%m-%d")
        events = events.filter(pc.equal(days, day))
    shift = id_shift(seed, stream)
    for col in ("event_id", "user_id"):
        events = events.set_column(
            events.schema.get_field_index(col), col,
            pc.add(events[col], pa.scalar(shift, pa.int64())))
    return events


def _cipher(seed: int) -> dict[int, str]:
    letters = string.ascii_lowercase
    perm = _rng(seed, "cipher").permutation(len(letters))
    return str.maketrans(letters, "".join(letters[i] for i in perm))


def document_window(seed: int, n: int, lo: int = 0, hi: int | None = None,
                    shift: bool = True) -> pa.Table:
    """`n` consecutive fixture documents (whole BLOCK-id blocks) starting at
    a seeded block inside doc_id [lo, hi), text under the seed's letter
    cipher; doc_id shifted by a seeded multiple of SHIFT_UNIT when
    `shift`. `n`, `lo` and `hi` are multiples of BLOCK."""
    docs = fixture("documents").sort_by("doc_id")
    hi = docs.num_rows if hi is None else hi
    start = lo + BLOCK * int(_rng(seed, f"window{lo}").integers(0, (hi - lo - n) // BLOCK + 1))
    window = docs.slice(start, n)
    table = _cipher(seed)
    text = pa.array([t.translate(table) for t in window["text"].to_pylist()])
    window = window.set_column(window.schema.get_field_index("text"), "text", text)
    if shift:
        window = window.set_column(
            0, "doc_id", pc.add(window["doc_id"], pa.scalar(id_shift(seed, "docs"), pa.int64())))
    return window


def write_table(table: pa.Table, path: str) -> dict:
    """Write one parquet file; returns its size record."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _day_and_time(ts_us: np.ndarray) -> tuple[list[str], list[str]]:
    sec = (ts_us // 1_000_000).astype("datetime64[s]")
    days = np.datetime_as_string(sec, unit="D")
    stamps = np.datetime_as_string(sec, unit="s")
    return list(days), [s.replace("T", " ") for s in stamps]


def write_wire_log(events: pa.Table, path: str, n_files: int = 4) -> dict:
    """The events as click-event JSON lines (the producers' wire format that
    `jobs.pipelines.bronze_archive_job` parses), split over `n_files`."""
    os.makedirs(path, exist_ok=True)
    ts_us = events["ts"].cast(pa.int64()).to_numpy()
    days, stamps = _day_and_time(ts_us)
    users = events["user_id"].to_numpy()
    ids = events["event_id"].to_numpy()
    kinds = events["event_type"].to_pylist()
    lines = [
        json.dumps({
            "date_created": f"/Date({t // 1000})/",
            "session_id": str(u),
            "document_id": int(i % 1000),
            "keywords": k,
            "event_ts": s,
            "event_date": d,
            "dedup_key": str(zlib.crc32(f"{u}|{s}".encode())),
        })
        for t, u, i, k, s, d in zip(ts_us, users, ids, kinds, stamps, days)
    ]
    per = -(-len(lines) // n_files)
    size = 0
    for f in range(n_files):
        name = os.path.join(path, f"part-{f:04d}.json")
        with open(name, "w") as fh:
            fh.write("\n".join(lines[f * per:(f + 1) * per]) + "\n")
        size += os.path.getsize(name)
    return {"rows": len(lines), "bytes": size, "files": n_files}


def silver_table(events: pa.Table) -> pa.Table:
    """The canonical (silver) event relation `sources.readers.load_events`
    derives: ts as epoch ns plus ts_sec, event_ts and event_date."""
    ts_us = events["ts"].cast(pa.int64()).to_numpy()
    days, _ = _day_and_time(ts_us)
    return (
        events.set_column(1, "ts", pa.array(ts_us * 1000))
        .append_column("ts_sec", pa.array(ts_us // 1_000_000))
        .append_column("event_ts", pa.array(ts_us, type=pa.timestamp("us", tz="UTC")))
        .append_column("event_date", pa.array(days))
    )
