"""Per-layer metrics of the traced run, each with the end-to-end metric
and workload it should move (``LAYERS``). Values come from the spans
``perfbench/trace.py`` records around the program's public functions,
from counters the program already writes (snapshot summaries, the
``_metrics`` sidecar, ``LakeTable.files()``, ``DataFrame.inputFiles()``),
from streaming progress and from the Spark event log. A layer the
workload does not exercise reports 0.

Times named ``*.self_s`` are the median per call of the span's self
time (duration minus its child spans), except two whole-call figures:
``lake.lookup.self_s`` (``LakeTable.lookup`` only routes keys and plans
a lazy read, so it is the lookup plus the collect that reads the files)
and ``lake.compact.self_s`` (``compact`` plans the rewrite and hands it
to ``commit_buckets``).
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.stats import median

# Reads run in serve's window and in the read probe after every
# backfill and tail window.
READS = "backfill, tail (read probe); serve"

# name -> (unit, end-to-end metric it maps to, workloads)
LAYERS: dict[str, tuple[str, str, str]] = {
    "session.start_s": ("s", "setup_s", "all"),
    "changelog.wal_write_s": ("s", "setup_s", "all"),
    "changelog.wal_bytes": ("bytes", "setup_s", "all"),
    "changelog.events": ("count", "setup_s", "all"),
    "streaming.epochs": ("count", "commit_latency_*", "tail"),
    "streaming.trigger_ms_p50": ("ms", "commit_latency_*", "tail"),
    "streaming.add_batch_ms_p50": ("ms", "commit_latency_*", "tail"),
    "streaming.machinery_ms_p50": ("ms", "commit_latency_*", "tail"),
    "pipeline.apply_batch.calls": ("count", "commit_latency_*", "all"),
    "pipeline.apply_batch.self_s": (
        "s", "commit_latency_*, events_per_s, upsert_p50_s", "all"),
    "pipeline.events_in": ("count", "events_per_s", "all"),
    "pipeline.winners": ("count", "events_per_s", "all"),
    "pipeline.winner_ratio": ("ratio", "events_per_s", "all"),
    "pipeline.jobs_per_batch": ("count", "commit_latency_*", "all"),
    "extraction.rows": ("count", "events_per_s", "backfill"),
    "extraction.rows_per_event": ("ratio", "events_per_s", "backfill"),
    "extraction.udf_s": ("s", "events_per_s", "backfill"),
    "lake.merge.self_s": ("s", "events_per_s, commit_latency_*", "backfill, tail"),
    "lake.commit.write_s": ("s", "commit_latency_*, events_per_s", "all"),
    "lake.commit.meta_s": ("s", "commit_latency_*", "all"),
    "lake.commit.files_added_per_commit": ("count", "lookup_*", "all"),
    "lake.commit.bytes_per_event": ("bytes", "events_per_s", "all"),
    "lake.compact.self_s": ("s", "events_per_s", "backfill"),
    "lake.compact.bytes_rewritten": ("bytes", "events_per_s", "backfill"),
    "lake.compact.files_in": ("count", "events_per_s", "backfill"),
    "lake.compact.files_out": ("count", "events_per_s", "backfill"),
    "lake.table.files_live": ("count", "lookup_*, scan_since_p50_s", READS),
    "lake.lookup.self_s": ("s", "lookup_*", READS),
    "lake.lookup.files_opened_p50": ("count", "lookup_*", READS),
    "lake.lookup.files_opened_ratio": ("ratio", "lookup_*", READS),
    "lake.read_since.files_opened_p50": ("count", "scan_since_p50_s", READS),
    "metrics.record_commit.self_s": ("s", "commit_latency_*", "tail"),
    "spark.jobs": ("count", "commit_latency_*", "tail"),
    "spark.tasks": ("count", "events_per_s", "backfill"),
    "spark.executor_run_s": ("s", "events_per_s", "backfill"),
    "spark.executor_cpu_s": ("s", "events_per_s", "backfill"),
    "spark.gc_s": ("s", "events_per_s", "backfill"),
    "spark.input_bytes": ("bytes", "events_per_s", "backfill"),
    "spark.shuffle_write_bytes": ("bytes", "events_per_s", "backfill"),
    "spark.spill_bytes": ("bytes", "events_per_s", "backfill"),
    "jvm.live_heap_mb": ("MB", "driver_mem_mb", "all"),
    "jvm.heap_peak_mb": ("MB", "driver_mem_mb", "all"),
    "jvm.non_heap_peak_mb": ("MB", "driver_mem_mb", "all"),
    "jvm.vmhwm_mb": ("MB", "driver_mem_mb", "all"),
    "python.vmhwm_mb": ("MB", "driver_mem_mb", "all"),
    "harness.generator_late_max_s": ("s", "diagnostic", "tail"),
    "harness.backlog_segments_max": ("count", "diagnostic", "tail"),
    "harness.cpu_control_s": ("s", "diagnostic", "all"),
    "harness.speedup_1_to_n": ("ratio", "events_per_s", "backfill"),
    "harness.trace_overhead_ratio": ("ratio", "diagnostic", "all"),
}

# Headline end-to-end metric per workload: the base of the overhead ratio.
HEADLINE = {
    "backfill": "events_per_s",
    "tail": "commit_latency_p50_s",
    "serve": "lookup_p50_s",
}


def _self_times(tracer, name: str, window) -> list[float]:
    return [tracer.self_time(s) for s in tracer.named(name, *window)]


def _sidecar_commits(table, window) -> list[dict]:
    rows = []
    for f in glob.glob(os.path.join(table.root, "_metrics", "commits", "*.parquet")):
        rows += pq.read_table(f).to_pylist()
    lo, hi = window
    return [r for r in rows if lo * 1000 <= r["ts_unix_ms"] <= hi * 1000]


def _abs_size(table, rel: str) -> int:
    p = os.path.join(table.root, rel)
    return os.path.getsize(p) if os.path.exists(p) else 0


def collect(ctx, res: dict, start_s: float) -> dict:
    """Layer values readable while the session is still up."""
    tr = ctx.tracer
    win = res["window"]
    v: dict[str, float] = {k: 0.0 for k in LAYERS}
    v["session.start_s"] = start_s
    files = res["wal_files"]
    v["changelog.wal_bytes"] = float(sum(os.path.getsize(f) for f in files))
    v["changelog.events"] = float(
        sum(pq.read_metadata(f).num_rows for f in files)
    )

    applies = tr.named("pipeline.apply_batch", *win)
    v["pipeline.apply_batch.calls"] = float(len(applies))
    v["pipeline.apply_batch.self_s"] = median(
        [tr.self_time(s) for s in applies]
    )
    v["lake.merge.self_s"] = median(
        _self_times(tr, "lake.merge.merge_into", win)
    )
    # compact plans the rewrite and hands it to commit_buckets: the
    # figure is the whole call
    v["lake.compact.self_s"] = median(
        [s.end - s.start for s in tr.named("lake.table.compact", *win)]
    )
    # a lookup is LakeTable.lookup plus the collect that opens and reads
    # its files; lookups run in the serve window or in the probe after it
    v["lake.lookup.self_s"] = median(
        [s.end - s.start for s in tr.named("read.lookup")]
    )
    v["metrics.record_commit.self_s"] = median(
        _self_times(tr, "metrics.record_commit", win)
    )

    events_in = winners = 0
    merge_write, merge_meta, added_files = [], [], []
    added_bytes = 0
    compact_bytes, files_in, files_out = [], [], []
    for table in res["tables"]:
        for r in _sidecar_commits(table, win):
            events_in += r["events_read"] or 0
            winners += r["events_applied"] or 0
        snaps = table.snapshot_log()
        by_version = {s.version: s for s in snaps}
        for s in snaps:
            if not (win[0] <= s.committed_at <= win[1]):
                continue
            op = s.summary.get("op")
            added = s.summary.get("added", {})
            paths = [p for ps in added.values() for p in ps]
            if op == "merge":
                merge_write.append(s.summary.get("t_write_s", 0.0))
                merge_meta.append(s.summary.get("t_meta_s", 0.0))
                added_files.append(len(paths))
                added_bytes += sum(_abs_size(table, p) for p in paths)
            elif op == "compact":
                compact_bytes.append(sum(_abs_size(table, p) for p in paths))
                files_out.append(len(paths))
                parent = by_version.get(s.version - 1)
                if parent is not None:
                    files_in.append(
                        sum(
                            len(table.bucket_entries(parent, b))
                            for b in s.summary.get("touched", [])
                        )
                    )
    v["pipeline.events_in"] = float(events_in)
    v["pipeline.winners"] = float(winners)
    v["pipeline.winner_ratio"] = winners / events_in if events_in else 0.0
    v["lake.commit.write_s"] = median(merge_write)
    v["lake.commit.meta_s"] = median(merge_meta)
    v["lake.commit.files_added_per_commit"] = median(added_files)
    v["lake.commit.bytes_per_event"] = (
        added_bytes / events_in if events_in else 0.0
    )
    v["lake.compact.bytes_rewritten"] = median(compact_bytes)
    v["lake.compact.files_in"] = median(files_in)
    v["lake.compact.files_out"] = median(files_out)
    v["lake.table.files_live"] = float(res["tables"][-1].files().count())

    client = res.get("client")
    if client is not None:
        v["lake.lookup.files_opened_p50"] = median(client.opened["lookup"])
        v["lake.lookup.files_opened_ratio"] = median(
            client.opened["lookup_ratio"]
        )
        v["lake.read_since.files_opened_p50"] = median(client.opened["scan"])

    progress = ctx.extra.get("progress", [])
    epochs = [
        p for p in progress
        if p["batch"] >= inputs.TAIL_WARMUP and "addBatch" in p["ms"]
    ]
    v["streaming.epochs"] = float(len(epochs))
    v["streaming.trigger_ms_p50"] = median(
        [p["ms"].get("triggerExecution", 0) for p in epochs]
    )
    v["streaming.add_batch_ms_p50"] = median(
        [p["ms"]["addBatch"] for p in epochs]
    )
    v["streaming.machinery_ms_p50"] = median(
        [p["ms"].get("triggerExecution", 0) - p["ms"]["addBatch"]
         for p in epochs]
    )
    if "late" in ctx.extra:
        v["harness.generator_late_max_s"] = max(ctx.extra["late"])
        v["harness.backlog_segments_max"] = float(ctx.extra["backlog"])
    return v


def from_event_log(ctx, res: dict, events_in: float) -> dict:
    """Spark substrate and extraction counters over the measured window
    (the event log is complete only once the session has stopped)."""
    from perfbench import trace

    win = res["window"]
    ev = trace.parse_event_log(os.path.join(ctx.work, "eventlog"), win)
    tr = ctx.tracer
    applies = tr.named("pipeline.apply_batch", *win)
    in_apply = sum(
        1 for t in ev["jobs"]
        if any(s.start <= t <= s.end for s in applies)
    )
    out = {
        "spark.jobs": float(len(ev["jobs"])),
        "spark.tasks": float(ev["tasks"]),
        "spark.executor_run_s": ev["run_ms"] / 1000.0,
        "spark.executor_cpu_s": ev["cpu_ns"] / 1e9,
        "spark.gc_s": ev["gc_ms"] / 1000.0,
        "spark.input_bytes": float(ev["input_bytes"]),
        "spark.shuffle_write_bytes": float(ev["shuffle_write_bytes"]),
        "spark.spill_bytes": float(ev["spill_bytes"]),
        "pipeline.jobs_per_batch": in_apply / len(applies) if applies else 0.0,
        "extraction.rows": float(ev["udf_rows"]),
        "extraction.udf_s": ev["udf_ms"] / 1000.0,
    }
    if events_in:
        out["extraction.rows_per_event"] = ev["udf_rows"] / events_in
    return out


def finish(traced: dict, plain: dict, single: dict | None, workload: str) -> dict:
    """Final per-layer values: the traced leg's layers plus the harness
    figures that need the other legs."""
    v = dict(traced["layers"])
    # memory from the untraced leg: tracing holds spans and the event log
    mem = plain["diag"]["memory_mb"]
    v["jvm.live_heap_mb"] = mem["jvm_live_heap"]
    v["jvm.heap_peak_mb"] = mem["jvm_heap_peak"]
    v["jvm.non_heap_peak_mb"] = mem["jvm_non_heap_peak"]
    v["jvm.vmhwm_mb"] = mem["jvm_vmhwm"]
    v["python.vmhwm_mb"] = mem["python_vmhwm"]
    v["harness.cpu_control_s"] = median(
        [traced["diag"]["cpu_control_before_s"],
         traced["diag"]["cpu_control_after_s"]]
    )
    head = HEADLINE[workload]
    base = plain["metrics"][head][0]
    v["harness.trace_overhead_ratio"] = (
        (traced["metrics"][head][0] - base) / base if base else 0.0
    )
    if single is not None:
        # first (cold) replay of the same WAL at local[1] and local[nproc]
        v["harness.speedup_1_to_n"] = (
            single["diag"]["iteration_s"][0] / plain["diag"]["warmup_replay_s"]
        )
    # set-up is timed in the untraced leg (a backfill traced leg reuses
    # its WAL)
    v["changelog.wal_write_s"] = median(plain["diag"]["wal_write_s"])
    v["_overhead"] = {
        name: {
            "untraced": plain["metrics"][name][0],
            "traced": traced["metrics"][name][0],
            "traced_minus_untraced": traced["metrics"][name][0]
            - plain["metrics"][name][0],
        }
        for name in plain["metrics"]
        if name != "setup_s" or traced["diag"]["setup_reps_s"]
    }
    return v


def report(values: dict) -> dict:
    return {
        name: {"value": float(values[name]), "unit": unit}
        for name, (unit, _, _) in LAYERS.items()
    }


def table(values: dict, workload: str) -> list[dict]:
    return [
        {"metric": name, "value": values[name], "unit": unit,
         "maps_to": target, "moves_on": where, "workload": workload}
        for name, (unit, target, where) in LAYERS.items()
    ]
