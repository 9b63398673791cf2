"""Tracing for the traced run: spans around calls into the program's
public layer functions, a streaming progress listener, and Spark event
log parsing. Nothing here is imported by an untraced run.

Spans are kept in memory and reduced when the run ends. Each span has a
name, start, end, parent span and an operation id shared by every span
under one top-level call; a layer's self time is its duration minus the
union of its children's intervals.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = 0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records spans from any thread (py4j runs foreachBatch callbacks on
    its own threads); parents are tracked per thread."""

    def __init__(self) -> None:
        self.spans: dict[int, Span] = {}
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                st = tracer._stack()
                parent = st[-1] if st else None
                with tracer._lock:
                    sp = Span(
                        next(tracer._ids), name, time.time(),
                        parent.sid if parent else None,
                        parent.op if parent else next(tracer._ops),
                    )
                    tracer.spans[sp.sid] = sp
                    if parent:
                        parent.children.append(sp.sid)
                st.append(sp)
                return sp

            def __exit__(self, *exc):
                sp = tracer._stack().pop()
                sp.end = time.time()
                return False

        return _Ctx()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, traced)

    # -- reductions ------------------------------------------------------

    def named(self, name: str, lo: float = 0.0, hi: float = 1e18) -> list[Span]:
        return [
            s for s in self.spans.values()
            if s.name == name and s.end and lo <= s.start <= hi
        ]

    def self_time(self, sp: Span) -> float:
        ivs = sorted(
            (self.spans[c].start, self.spans[c].end)
            for c in sp.children
            if self.spans[c].end
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            a, b = max(a, sp.start), min(b, sp.end)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (sp.end - sp.start) - covered


def install(tracer: Tracer) -> None:
    """Wrap the public functions of every layer the benchmark names.
    Call sites that imported a function by name are wrapped where they
    look it up, so each layer is timed whichever path reaches it."""
    from data_pipeline_spark import changelog, metrics, pipeline
    from data_pipeline_spark.lake import merge
    from data_pipeline_spark.lake.table import LakeTable
    from data_pipeline_spark.streaming import pipeline as streaming

    tracer.wrap(changelog, "changelog", "changelog.changelog")
    tracer.wrap(pipeline, "materialize_wal", "pipeline.materialize_wal")
    tracer.wrap(pipeline, "replay_log", "pipeline.replay_log")
    tracer.wrap(pipeline, "apply_batch", "pipeline.apply_batch")
    tracer.wrap(streaming, "apply_batch", "pipeline.apply_batch")
    tracer.wrap(streaming, "reread_wal_paths", "streaming.reread_wal_paths")
    tracer.wrap(pipeline, "merge_into", "lake.merge.merge_into")
    tracer.wrap(merge, "merge_into", "lake.merge.merge_into")
    tracer.wrap(metrics, "record_commit", "metrics.record_commit")
    for attr in ("commit_delta", "commit_buckets", "compact", "lookup",
                 "read_since", "read"):
        tracer.wrap(LakeTable, attr, f"lake.table.{attr}")


def progress_listener(sink: list):
    """A StreamingQueryListener appending each progress' ``durationMs``
    (plus batch id and input rows) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _L(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append(
                {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _L()


EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.rolling.enabled": "false",
    "spark.eventLog.compress": "false",
}

_UDF_NODE = "ArrowEvalPython"


def parse_event_log(log_dir: str, window: tuple[float, float]) -> dict:
    """Spark substrate counters for tasks launched inside ``window``
    (epoch seconds) plus the job submission times, read from the
    uncompressed event log in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    out = {
        "jobs": [], "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
        "input_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "udf_ms": 0, "udf_rows": 0,
    }
    udf_acc: dict[int, str] = {}

    def inside(ms: float) -> bool:
        return window[0] <= ms / 1000.0 <= window[1]

    def walk(plan: dict) -> None:
        if plan.get("nodeName", "").startswith(_UDF_NODE):
            for m in plan.get("metrics", []):
                udf_acc[int(m["accumulatorId"])] = m["name"]
        for c in plan.get("children", []):
            walk(c)

    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event", "")
                if kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    walk(e.get("sparkPlanInfo", {}))
                elif kind == "SparkListenerJobStart":
                    ts = e.get("Submission Time", 0)
                    if inside(ts):
                        out["jobs"].append(ts / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    info = e.get("Task Info", {})
                    if not inside(info.get("Launch Time", 0)):
                        continue
                    tm = e.get("Task Metrics") or {}
                    out["tasks"] += 1
                    out["run_ms"] += tm.get("Executor Run Time", 0)
                    out["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    out["gc_ms"] += tm.get("JVM GC Time", 0)
                    out["input_bytes"] += (tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    )
                    out["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    out["spill_bytes"] += tm.get(
                        "Memory Bytes Spilled", 0
                    ) + tm.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", []):
                        name = udf_acc.get(int(acc.get("ID", -1)))
                        if name is None:
                            continue
                        upd = int(acc.get("Update", 0) or 0)
                        if name == "time to run Python workers":
                            out["udf_ms"] += upd
                        elif name == "number of output rows":
                            out["udf_rows"] += upd
    return out
