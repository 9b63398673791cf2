"""Tests for the benchmark itself (not the engine):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_pipeline_spark.changelog import N_HOT_URLS
from perfbench import inputs, layers, oracle, run
from perfbench.stats import tail_or_max, tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    # 11 samples: only the smallest has ten above it
    assert tail_percentile(list(range(11))) == pytest.approx((100 / 11, 0))
    q, v = tail_percentile([float(x) for x in range(20)][::-1])
    assert q == pytest.approx(50.0) and v == 9.0
    q, v = tail_percentile(list(range(1000)))
    assert q == pytest.approx(99.0) and v == 989
    assert sum(1 for x in range(1000) if x > v) == 10


def test_tail_or_max_labels_short_samples():
    assert tail_or_max([3.0, 1.0, 2.0]) == ("max", 3.0)
    label, v = tail_or_max([float(x) for x in range(1000)])
    assert label == "p99.0" and v == 989.0


def _wal(path: str) -> None:
    rows = [
        ("https://a", 1, "insert", b"<p>one</p>"),
        ("https://a", 5, "update", b"<p>five  <b>bold</b></p>"),
        ("https://b", 2, "insert", b"<html>two</html>"),
        ("https://b", 3, "delete", None),
        ("https://c", 4, "insert", b"<i>four</i>"),
    ]
    pq.write_table(
        pa.table(
            {
                "url": [r[0] for r in rows],
                "lsn": pa.array([r[1] for r in rows], pa.int64()),
                "warc_ts": pa.array([0] * len(rows), pa.timestamp("us")),
                "op": [r[2] for r in rows],
                "html": pa.array([r[3] for r in rows], pa.binary()),
                "lang": ["en"] * len(rows),
            }
        ),
        path,
    )


def test_oracle_gate_catches_one_corrupted_row(tmp_path):
    path = str(tmp_path / "wal.parquet")
    _wal(path)
    con = oracle.connect(1)
    want = oracle.expected_state(con, [path])
    assert want == {
        "https://a": (5, oracle.text_digest("five bold")),
        "https://c": (4, oracle.text_digest("four")),
    }
    assert oracle.mismatches(dict(want), want) == []
    corrupt = dict(want)
    corrupt["https://c"] = (4, oracle.text_digest("four!"))
    assert oracle.mismatches(corrupt, want) == ["https://c"]
    stale = dict(want, **{"https://a": (1, oracle.text_digest("one"))})
    assert oracle.mismatches(stale, want) == ["https://a"]
    resurrected = dict(want, **{"https://b": (2, oracle.text_digest("two"))})
    assert oracle.mismatches(resurrected, want) == ["https://b"]
    # lsn-range restriction (the serve workload's state as of an upsert)
    assert oracle.expected_state(con, [path], [(0, 3)]) == {
        "https://a": (1, oracle.text_digest("one")),
        "https://b": (2, oracle.text_digest("two")),
    }


def test_wal_keys_reads_urls_and_hot_keys_from_the_wal(tmp_path):
    paths = []
    for i, urls in enumerate((["b", "a", "h1"], ["h1", "h2", "h1", "c"])):
        paths.append(str(tmp_path / f"part-{i}.parquet"))
        pq.write_table(pa.table({"url": urls}), paths[-1])
    urls, hot = inputs.wal_keys(paths)
    assert urls == ["a", "b", "c", "h1", "h2"]
    # most frequent first, ties by url
    assert hot[:2] == ["h1", "a"]
    assert len(hot) == min(N_HOT_URLS, len(urls))


def test_same_seed_same_inputs():
    assert inputs.input_digest(7) == inputs.input_digest(7)
    assert inputs.input_digest(7) != inputs.input_digest(8)


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.LISTED)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.E2E
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (name, unit) for name, (unit, _, _) in layers.LAYERS.items()
    ]
