"""Seeded input generation. Everything the benchmark chooses comes from
the seed: the synthetic ``events`` table the change log is derived from,
the serve workload's slice roles, key draws and operation order. The
program under test only ever sees the WAL files it writes from these
events and the key lists drawn here.

Key draws take their url list from the WAL the program wrote
(``wal_keys``), so only ``changelog.py`` knows how events map to urls.
Nothing in this module touches Spark, so inputs are byte-identical for
a given seed whatever the host (checked by ``input_digest``).
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = ["error", "view", "purchase", "signup", "click"]
N_USERS = 1500
SPAN_US = 30 * 86400 * 10**6

# -- workload sizes ----------------------------------------------------------
# backfill: base events x amplify, replayed in BACKFILL_BATCHES LSN batches
# into a BACKFILL_BUCKETS-bucket table.
BACKFILL_EVENTS = 15_000
BACKFILL_AMPLIFY = 16
BACKFILL_BATCHES = 2
BACKFILL_BUCKETS = 16
BACKFILL_WAL_FILES = 16
# tail: one WAL file per segment; the first TAIL_WARMUP land before timing.
TAIL_SEGMENT_EVENTS = 1_500
TAIL_PERIOD_S = 2.5
TAIL_WARMUP = 3
TAIL_MAX_SECONDS = 30
# serve: SERVE_SLICES LSN slices; seeded roles base / delta / upsert.
SERVE_EVENTS = 24_000
SERVE_SLICES = 40
SERVE_BASE = 24
SERVE_DELTAS = 2
SERVE_BUCKETS = 16
SERVE_PLAN_BLOCKS = 50
# serve client: ops come in blocks of this mix, shuffled within a block.
# The mix is an assumption, not taken from any recorded traffic: reads
# outnumber writes on a serving table, point lookups most; one upsert per
# block lands about two new delta commits in a 10 s window, so the cost
# of added files shows; two scans per block give scan_since_p50_s at
# least two samples per window.
SERVE_BLOCK = {"lookup": 5, "scan": 2, "upsert": 1}
# untimed warm-up before the window, through the same client: one upsert
# (the process's first is about 40% slower than later ones, and so are
# the lookups right after it), then these reads
SERVE_WARMUP_READS = {"lookup": 2, "scan": 1}
# read_since cursors sit this share of the lsn space below the newest
# lsn (also an assumption: a consumer polling a few percent behind the
# head, so each scan returns a small recent tail of similar size)
SCAN_DEPTH = (0.01, 0.03)
# read probe after a backfill or tail window
PROBE_LOOKUPS = 4
PROBE_SCANS = 2
HOT_SHARE = 0.3  # the change log's own hot-url share (changelog.py)


def tail_segments() -> int:
    """Segments generated for a tail run: warm-up plus enough for the
    longest allowed measuring window."""
    return TAIL_WARMUP + int(np.ceil(TAIL_MAX_SECONDS / TAIL_PERIOD_S)) + 1


def events_table(seed: int, n: int) -> pa.Table:
    """``n`` synthetic events in the ``events`` schema of TESTDATA.md
    (event_id 0..n-1, uniform timestamps over 30 days, 1500 users, five
    event types) drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    ts = rng.integers(0, SPAN_US, n, dtype=np.int64)
    user = rng.integers(0, N_USERS, n, dtype=np.int64)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.random(n) * 560.0, 2)
    k = rng.integers(0, 100, n)
    base_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(base_us + ts, pa.timestamp("us")),
            "user_id": pa.array(user),
            "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
        }
    )


def write_events(seed: int, n: int, sf_dir: str) -> str:
    """Write ``events.parquet`` under ``sf_dir`` (the layout
    ``changelog.changelog`` reads) and return its path."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(events_table(seed, n), path, compression="snappy")
    return path


def workload_events(workload: str) -> int:
    """Rows of the ``events`` table a workload's change log is built from."""
    return {
        "backfill": BACKFILL_EVENTS,
        "tail": TAIL_SEGMENT_EVENTS * tail_segments(),
        "serve": SERVE_EVENTS,
    }[workload]


def wal_keys(files: list[str]) -> tuple[list[str], list[str]]:
    """``(urls, hot)`` of a WAL: its sorted distinct urls, and the
    ``N_HOT_URLS`` most frequent of them (ties by url). Read one file at
    a time, so the harness adds little to the driver's memory."""
    from data_pipeline_spark.changelog import N_HOT_URLS

    counts: dict[str, int] = {}
    for f in files:
        vc = pc.value_counts(pq.read_table(f, columns=["url"])["url"])
        for url, n in zip(vc.field("values").to_pylist(),
                          vc.field("counts").to_pylist()):
            counts[url] = counts.get(url, 0) + n
    hot = sorted(counts, key=lambda u: (-counts[u], u))[:N_HOT_URLS]
    return sorted(counts), hot


def draw_ops(
    rng: np.random.Generator,
    n: int,
    kind: str,
    keys: tuple[list[str], list[str]],
    lsn_top: int,
) -> list[dict]:
    """``n`` read operations of one ``kind`` over ``keys`` (``wal_keys``).
    Lookup keys keep the change log's skew: ``HOT_SHARE`` hit one of the
    hot urls, the rest are uniform over all urls. Scan cursors sit a
    seeded ``SCAN_DEPTH`` share of ``lsn_top`` below it, so a scan returns
    a recent tail of the table of about the same size every time."""
    urls, hot = keys
    ops: list[dict] = []
    for _ in range(n):
        if kind == "scan":
            frac = float(rng.uniform(*SCAN_DEPTH))
            ops.append({"op": "scan", "cursor": int(lsn_top * (1 - frac))})
        elif rng.random() < HOT_SHARE:
            ops.append({"op": "lookup", "key": hot[int(rng.integers(0, len(hot)))]})
        else:
            ops.append({"op": "lookup", "key": urls[int(rng.integers(0, len(urls)))]})
    return ops


def serve_plan(seed: int, keys: tuple[list[str], list[str]]) -> dict:
    """Slice roles and the client's operation sequence for ``serve``.
    ``keys`` is ``wal_keys`` of the serve WAL; an upsert op's ``slice``
    indexes ``upserts``. ``warmup`` is the untimed upsert of the first
    upsert slice followed by ``SERVE_WARMUP_READS``. The timed ``ops``
    come in blocks holding ``SERVE_BLOCK`` of each kind in seeded order,
    so every window of a block or more exercises every kind."""
    rng = np.random.default_rng([seed, 1])
    order = [int(x) for x in rng.permutation(SERVE_SLICES)]
    upserts = order[SERVE_BASE + SERVE_DELTAS:]
    # scans read below the newest lsn the built table holds
    top = max(slice_bounds(i)[1] for i in order[:SERVE_BASE + SERVE_DELTAS])
    block = [k for k, n in SERVE_BLOCK.items() for _ in range(n)]
    kinds = [
        block[int(i)]
        for _ in range(SERVE_PLAN_BLOCKS)
        for i in rng.permutation(len(block))
    ]
    warmup = [{"op": "upsert", "slice": 0}]
    for kind, n in SERVE_WARMUP_READS.items():
        warmup += draw_ops(rng, n, kind, keys, top)
    ops = []
    n_up = 1
    for kind in kinds:
        if kind == "upsert" and n_up < len(upserts):
            ops.append({"op": "upsert", "slice": n_up})
            n_up += 1
        else:
            ops += draw_ops(
                rng, 1, "scan" if kind == "scan" else "lookup", keys, top
            )
    return {
        "base": sorted(order[:SERVE_BASE]),
        "deltas": order[SERVE_BASE:SERVE_BASE + SERVE_DELTAS],
        "upserts": upserts,
        "warmup": warmup,
        "ops": ops,
    }


def probe_plan(
    seed: int, keys: tuple[list[str], list[str]], lsn_top: int
) -> list[dict]:
    """The fixed read probe run on the table a backfill or tail run
    produced: ``PROBE_LOOKUPS`` lookups and ``PROBE_SCANS`` scans in
    seeded order."""
    rng = np.random.default_rng([seed, 2])
    ops = draw_ops(rng, PROBE_LOOKUPS, "lookup", keys, lsn_top)
    ops += draw_ops(rng, PROBE_SCANS, "scan", keys, lsn_top)
    return [ops[int(i)] for i in rng.permutation(len(ops))]


def slice_bounds(i: int) -> tuple[int, int]:
    """Half-open lsn range of serve slice ``i`` (amplify 1: lsn = event_id)."""
    width = SERVE_EVENTS // SERVE_SLICES
    return i * width, (i + 1) * width


def input_digest(seed: int) -> str:
    """sha256 over every generated input for ``seed``: the three
    workloads' events files and the serve and tail client plans. The
    plans are drawn over the keys of a change log DuckDB derives from
    the events with ``changelog.changelog_duckdb_sql``; at amplify 1
    (serve, tail) that is the key list the program's WAL holds."""
    import tempfile

    import duckdb

    from data_pipeline_spark.changelog import changelog_duckdb_sql

    h = hashlib.sha256()
    plans = {}
    with tempfile.TemporaryDirectory(dir=os.environ.get("TMPDIR")) as d:
        con = duckdb.connect()
        for name in ("backfill", "tail", "serve"):
            path = write_events(
                seed, workload_events(name), os.path.join(d, name)
            )
            with open(path, "rb") as f:
                h.update(f.read())
            if name == "backfill":
                continue
            wal = os.path.join(d, f"{name}-wal.parquet")
            events = f"read_parquet('{path}')"
            con.execute(
                f"COPY ({changelog_duckdb_sql(events)}) TO '{wal}' "
                "(FORMAT parquet)"
            )
            keys = wal_keys([wal])
            plans[name] = (
                serve_plan(seed, keys) if name == "serve"
                else probe_plan(seed, keys, 1)
            )
        con.close()
    h.update(json.dumps(plans, sort_keys=True).encode())
    return h.hexdigest()
