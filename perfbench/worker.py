"""One benchmark process: start a session, set up one workload, measure
it for a fixed window, check its outputs against the DuckDB oracle, and
write the result as JSON. ``perfbench/run.py`` starts one of these per
leg so every measurement gets a fresh JVM.

    python perfbench/worker.py --workload backfill --seed 1 --seconds 10 \
        --parallelism 4 --traced 0 --reps 3 --probe 1 --events DIR \
        --work DIR --out result.json

``--events`` is the directory holding the seeded ``events.parquet`` that
``run.py`` generated; the worker never generates inputs itself, so its
memory high-water mark holds no input generation.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import glob
import json
import math
import os
import statistics
import sys
import threading
import time

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs  # noqa: E402
from perfbench.stats import median, tail_or_max  # noqa: E402


def cpu_control() -> float:
    """Median time of a fixed pure-Python loop: a host-noise reading."""
    runs = []
    for _ in range(5):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i
        runs.append(time.perf_counter() - t)
    return statistics.median(runs)


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def driver_memory_mb(spark) -> dict[str, float]:
    """Memory of the driver: the JVM's heap in use after full
    collections (``jvm_live_heap``: what the program still holds), the
    peak use of its heap and non-heap pools since it started
    (``getPeakUsage``), its VmHWM, and the Python driver's VmHWM. Call
    it before any harness work that is not the program's."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    out = {"jvm_heap_peak": 0.0, "jvm_non_heap_peak": 0.0}
    for pool in mf.getMemoryPoolMXBeans():
        kind = "heap" if pool.getType().toString() == "Heap memory" else "non_heap"
        out[f"jvm_{kind}_peak"] += pool.getPeakUsage().getUsed() / 2**20
    # Python first, so py4j releases the JVM objects its dead proxies
    # pinned. Then collect until the heap stops shrinking: a collection
    # lets Spark's ContextCleaner drop what only weak references held,
    # and the next one frees it.
    gc.collect()
    heap = mf.getMemoryMXBean()
    live = float("inf")
    for _ in range(5):
        jvm.java.lang.System.gc()
        used = heap.getHeapMemoryUsage().getUsed() / 2**20
        if used > live - 2.0:
            break
        live = used
        time.sleep(0.2)
    out["jvm_live_heap"] = min(live, used)
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    out["jvm_vmhwm"] = vm_hwm_mb(proc.pid) if proc is not None else 0.0
    out["python_vmhwm"] = vm_hwm_mb("self")
    return out


def wal_files(wal_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(wal_dir, "*.parquet")))


def parquet_rows(files: list[str]) -> int:
    return sum(pq.read_metadata(f).num_rows for f in files)


def max_lsn(files: list[str]) -> int:
    """Largest lsn in the WAL files, from their parquet statistics."""
    top = 0
    for f in files:
        md = pq.read_metadata(f)
        col = md.schema.names.index("lsn")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col).statistics
            if st is not None and st.has_min_max:
                top = max(top, int(st.max))
    return top


def connect_oracle(ctx):
    from perfbench import oracle

    return oracle, oracle.connect(ctx.parallelism)


class Ctx:
    """Per-process state a workload needs: the session, its directories,
    the seed and window, and (traced runs) the tracer."""

    def __init__(self, spark, args, tracer):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.parallelism = args.parallelism
        self.events = args.events
        self.wal = args.wal
        self.warmup = bool(args.warmup)
        self.work = args.work
        self.tracer = tracer
        self.reps = args.reps
        # the local[1] speedup leg skips the read probe
        self.skip_probe = not args.probe
        self.setup_times: list[float] = []
        self.wal_write: list[float] = []
        self.setup_once = 0.0  # set-up work done once, after the reps
        self.extra: dict = {}

    def repeat_setup(self, build) -> list:
        """Run ``build(dir)`` ``self.reps`` times in fresh directories;
        return every result (last one last) and keep every duration."""
        out = []
        for rep in range(self.reps):
            d = os.path.join(self.work, f"setup{rep}")
            t = time.perf_counter()
            out.append(build(d))
            self.setup_times.append(time.perf_counter() - t)
        return out

    def materialize(self, wal_dir: str, **kw):
        """Land the change log of the seeded events as a WAL."""
        from data_pipeline_spark import pipeline

        t = time.perf_counter()
        wal = pipeline.materialize_wal(self.spark, self.events, wal_dir, **kw)
        self.wal_write.append(time.perf_counter() - t)
        return wal


class Client:
    """One closed-loop client: runs lookup / scan / upsert operations
    against a table, one after the other, and keeps every result for the
    output gate. ``upsert_source(i)`` gives the WAL rows of upsert ``i``."""

    def __init__(self, ctx: Ctx, table, upsert_source, tag: str):
        self.ctx = ctx
        self.table = table
        self.upsert_source = upsert_source
        self.tag = tag
        self.done: list[tuple[dict, float, list, int]] = []
        # ops before this index were an untimed warm-up
        self.timed_from = 0
        self.level = 0
        self.opened: dict[str, list[float]] = {
            "lookup": [], "lookup_ratio": [], "scan": []
        }

    def _files_in_bucket(self, key: str) -> int:
        snap = self.table.current()
        b = (
            self.ctx.spark.createDataFrame([(key,)], "url string")
            .select(self.table.bucket_expr(snap).alias("b"))
            .first()["b"]
        )
        return len(self.table.bucket_entries(snap, b))

    def run(self, ops: list[dict], t_end: float | None = None) -> float:
        """Execute ``ops`` in order (until ``t_end`` on the perf_counter
        clock, if given); return the elapsed seconds."""
        from data_pipeline_spark import pipeline

        t_start = time.perf_counter()
        for op in ops:
            if t_end is not None and time.perf_counter() >= t_end:
                break
            kind = op["op"]
            t = time.perf_counter()
            if kind == "upsert":
                df = None
                pipeline.apply_batch(
                    self.table, self.upsert_source(op["slice"]),
                    commit_key=f"{self.tag}-upsert-{len(self.done)}",
                )
                rows = []
            else:
                # traced legs time the read with its collect, where the
                # files are opened and read
                with (
                    self.ctx.tracer.span(f"read.{kind}")
                    if self.ctx.tracer is not None
                    else contextlib.nullcontext()
                ):
                    if kind == "lookup":
                        df = self.table.lookup([op["key"]])
                    else:
                        df = self.table.read_since(op["cursor"])
                    rows = df.select("url", "lsn", "text").collect()
            self.done.append((op, time.perf_counter() - t, rows, self.level))
            if kind == "upsert":
                self.level += 1
            elif self.ctx.tracer is not None:
                n_files = len(df.inputFiles())
                if kind == "scan":
                    self.opened["scan"].append(n_files)
                else:
                    self.opened["lookup"].append(n_files)
                    self.opened["lookup_ratio"].append(
                        n_files / max(self._files_in_bucket(op["key"]), 1)
                    )
        return time.perf_counter() - t_start

    def timed(self) -> list[tuple[dict, float, list, int]]:
        return self.done[self.timed_from:]

    def op_log(self) -> list[str]:
        """Each timed operation's kind and seconds, in the order they
        ran."""
        return [f"{op['op']}:{dt:.3f}" for op, dt, *_ in self.timed()]

    def times(self, kind: str) -> list[float]:
        return [dt for op, dt, *_ in self.timed() if op["op"] == kind]

    def check(self, state_at) -> tuple[int, int]:
        """Compare every read with the oracle state as of the upserts
        applied before it; return (failed ops, mismatched rows)."""
        from perfbench import oracle

        failed = bad_rows = 0
        for op, _, rows, lv in self.done:
            if op["op"] == "upsert":
                continue
            st = state_at(lv)
            got = {
                r["url"]: (int(r["lsn"]), oracle.text_digest(r["text"]))
                for r in rows
            }
            if op["op"] == "lookup":
                want = {op["key"]: st[op["key"]]} if op["key"] in st else {}
            else:
                want = {u: v for u, v in st.items() if v[0] > op["cursor"]}
            n_bad = len(oracle.mismatches(got, want)) + len(rows) - len(got)
            bad_rows += n_bad
            failed += bool(n_bad)
        return failed, bad_rows

    def metrics(self) -> dict:
        lookups = self.times("lookup")
        _, tail_v = tail_or_max(lookups)
        return {
            "lookup_p50_s": (median(lookups), "s"),
            "lookup_tail_s": (tail_v, "s"),
            "scan_since_p50_s": (median(self.times("scan")), "s"),
            "upsert_p50_s": (median(self.times("upsert")), "s"),
        }

    def diag(self) -> dict:
        lookups = self.times("lookup")
        label, _ = tail_or_max(lookups)
        return {
            "ops": len(self.timed()), "lookups": len(lookups),
            "scans": len(self.times("scan")),
            "upserts": len(self.times("upsert")),
            "lookup_tail": f"{label} of n={len(lookups)}",
        }


def probe(ctx: Ctx, table, files: list[str]):
    """The read probe after a backfill or tail window: one untimed
    lookup to warm the read path, then the fixed seeded lookups and
    scans on the table the window produced over the keys of its WAL
    ``files`` (none when the leg skips the probe)."""
    if ctx.skip_probe:
        return Client(ctx, table, None, "probe")
    keys = inputs.wal_keys(files)
    Client(ctx, table, None, "warmup").run(
        [{"op": "lookup", "key": keys[1][0]}]
    )
    client = Client(ctx, table, None, "probe")
    client.run(inputs.probe_plan(ctx.seed, keys, max_lsn(files)))
    return client


def commit_latencies(table, start: float) -> list[float]:
    """Seconds from each apply commit's batch becoming available (the
    previous commit, or ``start`` for the first) to its commit being
    visible, from the snapshots' publish stamps."""
    stamps = sorted(
        s.committed_at for s in table.snapshot_log()
        if s.summary.get("op") == "merge"
        and any(k.startswith("replay-") for k, v in s.commits.items()
                if v == s.version)
    )
    out, prev = [], start
    for t in stamps:
        out.append(t - prev)
        prev = t
    return out


# -- backfill ------------------------------------------------------------------


def run_backfill(ctx: Ctx) -> dict:
    from data_pipeline_spark import pipeline
    from data_pipeline_spark.lake.table import LakeTable

    def build(d):
        wal_dir = os.path.join(d, "wal")
        wal = ctx.materialize(
            wal_dir, amplify=inputs.BACKFILL_AMPLIFY,
            partitions=inputs.BACKFILL_WAL_FILES,
        )
        return wal_dir, wal

    if ctx.wal:
        # a traced run's traced and local[1] legs replay the WAL its
        # untraced leg landed
        reps = [(ctx.wal, ctx.spark.read.parquet(ctx.wal))]
    else:
        reps = ctx.repeat_setup(build)
    wal_dir, wal = reps[-1]
    files = wal_files(wal_dir)
    n_events = parquet_rows(files)

    def replay(log, root):
        return pipeline.replay_log(
            ctx.spark, log, root, n_batches=inputs.BACKFILL_BATCHES,
            n_buckets=inputs.BACKFILL_BUCKETS, compact_at_end=True,
        )

    # Untimed warm-up: a full replay of the first set-up repetition's WAL,
    # so the timed replays run with a warm JVM, grown heap and started
    # Python workers, like a catch-up job on a long-running session.
    warmup_s = None
    if ctx.warmup:
        t = time.perf_counter()
        replay(reps[0][1], os.path.join(ctx.work, "warmup"))
        warmup_s = time.perf_counter() - t

    runs: list[tuple[str, float, float]] = []
    w0 = time.time()
    t_end = time.perf_counter() + ctx.seconds
    # closed loop: start another replay only if the last one's duration
    # still fits in the window
    while not runs or time.perf_counter() + runs[-1][2] <= t_end:
        root = os.path.join(ctx.work, f"replay{len(runs)}")
        started = time.time()
        t = time.perf_counter()
        replay(wal, root)
        runs.append((root, started, time.perf_counter() - t))
    window = (w0, time.time())

    tables = [LakeTable(ctx.spark, root) for root, _, _ in runs]
    lat = [
        x for tbl, (_, started, _) in zip(tables, runs)
        for x in commit_latencies(tbl, started)
    ]
    n_commits = sum(
        1 for tbl in tables for s in tbl.snapshot_log()
        if s.summary.get("op") in ("merge", "compact")
    )
    client = probe(ctx, tables[-1], files)

    def gate() -> dict:
        oracle, con = connect_oracle(ctx)
        expected = oracle.expected_state(con, files)
        failed, bad_rows = client.check(lambda _lv: expected)
        for tbl in tables:
            bad = oracle.mismatches(oracle.table_state(tbl), expected)
            bad_rows += len(bad)
            failed += bool(bad)
        return {"failed": failed, "mismatched_rows": bad_rows,
                "correct": bad_rows == 0}

    _, lat_tail = tail_or_max(lat)
    return {
        "metrics": {
            "events_per_s": (median([n_events / w for *_, w in runs]), "1/s"),
            "commit_latency_p50_s": (median(lat), "s"),
            "commit_latency_tail_s": (lat_tail, "s"),
            "ops_per_s": (n_commits / (window[1] - window[0]), "1/s"),
            **client.metrics(),
            # a replay batch is the backfill's upsert
            "upsert_p50_s": (median(lat), "s"),
        },
        "attempted": len(runs) + len(client.done),
        "gate": gate,
        "window": window,
        "tables": tables,
        "diag": {
            "events": n_events, "iterations": len(runs),
            "warmup_replay_s": warmup_s,
            "iteration_s": [round(w, 4) for *_, w in runs],
            "commit_latency_tail": f"{tail_or_max(lat)[0]} of n={len(lat)}",
            "probe": client.diag(),
        },
        "client": client,
        "wal_files": files,
        "wal_dir": wal_dir,
    }


# -- tail ----------------------------------------------------------------------


def run_tail(ctx: Ctx) -> dict:
    from data_pipeline_spark.lake.table import LakeTable
    from data_pipeline_spark.streaming import pipeline as streaming

    nseg = inputs.tail_segments()
    warm = inputs.TAIL_WARMUP
    period = inputs.TAIL_PERIOD_S
    measured = max(1, math.ceil(ctx.seconds / period))

    def build(d):
        wal_dir = os.path.join(d, "wal")
        ctx.materialize(wal_dir, partitions=nseg)
        parts = wal_files(wal_dir)
        if len(parts) < warm + measured:
            raise RuntimeError(
                f"WAL has {len(parts)} segments, need {warm + measured}"
            )
        return d, parts

    d, parts = ctx.repeat_setup(build)[-1]
    watch = os.path.join(d, "watch")
    root = os.path.join(d, "table")
    os.makedirs(watch)
    progress: list = []
    if ctx.tracer is not None:
        from perfbench import trace

        ctx.spark.streams.addListener(trace.progress_listener(progress))
    t_stream = time.time()
    q = streaming.run_stream(
        ctx.spark, watch, root, os.path.join(d, "ckpt"),
        available_now=False, max_files_per_trigger=1, record_metrics=True,
    )
    landed: list[tuple[str, float]] = []

    def land(i: int) -> float:
        # arrival order == file-source order: stamp mtime, then rename
        now = time.time()
        os.utime(parts[i], (now, now))
        dest = os.path.join(watch, os.path.basename(parts[i]))
        os.rename(parts[i], dest)
        landed.append((dest, now))
        return now

    def committed(n_epochs: int) -> bool:
        if not LakeTable.exists(root):
            return False
        key = f"epoch={n_epochs - 1}"
        return key in LakeTable(ctx.spark, root).current().commits

    def wait_for(n_epochs: int, deadline: float) -> bool:
        while time.time() < deadline:
            if committed(n_epochs):
                return True
            if not q.isActive:
                raise RuntimeError(f"stream stopped: {q.exception()}")
            time.sleep(0.05)
        return committed(n_epochs)

    late: list[float] = []
    try:
        for i in range(warm):
            land(i)
        if not wait_for(warm, time.time() + 120):
            raise RuntimeError("warm-up epochs never committed")
        # an epoch's addBatch goes on after its commit (metrics sidecar):
        # start the schedule once the last warm-up epoch has finished
        idle_by = time.time() + 30
        while time.time() < idle_by and (
            q.lastProgress is None or q.lastProgress["batchId"] < warm - 1
        ):
            time.sleep(0.02)
        warmup_s = time.time() - t_stream
        t0 = time.time() + 0.1
        due = [t0 + i * period for i in range(measured)]

        def generator():
            for i, t_due in enumerate(due):
                while (rem := t_due - time.time()) > 0:
                    time.sleep(min(rem, 0.01))
                late.append(land(warm + i) - t_due)

        gen = threading.Thread(target=generator, name="tail-generator")
        gen.start()
        gen.join()
        wait_for(warm + measured, due[-1] + 60)
        window = (t0, time.time())
    finally:
        # stop between triggers: interrupting one floods the log
        t_stop = time.time()
        idle_by = time.time() + 5
        while q.status["isTriggerActive"] and time.time() < idle_by:
            time.sleep(0.02)
        q.stop()
        ctx.extra["stream_stop_s"] = time.time() - t_stop

    table = LakeTable(ctx.spark, root)
    snaps = table.snapshot_log()
    by_version = {s.version: s for s in snaps}
    commit_at = {
        k: by_version[v].committed_at for k, v in snaps[-1].commits.items()
    }
    epoch_times = sorted(
        t for k, t in commit_at.items() if k.startswith("epoch=")
    )
    lat = [
        commit_at[f"epoch={warm + i}"] - t_due
        for i, t_due in enumerate(due)
        if f"epoch={warm + i}" in commit_at
    ]
    missing = measured - len(lat)
    backlog = max(
        sum(1 for _, tl in landed if tl <= t_land)
        - sum(1 for tc in epoch_times if tc <= t_land)
        for _, t_land in landed[warm:]
    )
    landed_files = [p for p, _ in landed]
    seg_events = parquet_rows(landed_files[warm:])
    last = max(
        commit_at.get(f"epoch={warm + i}", 0.0) for i in range(measured)
    )
    in_window = sum(1 for t in epoch_times if window[0] <= t <= window[1])
    client = probe(ctx, table, landed_files)
    # an epoch's apply (file re-read + apply_batch) is the tail's upsert
    applies = [
        p["durationMs"]["addBatch"] / 1000.0 for p in q.recentProgress
        if p["batchId"] >= warm and "addBatch" in p["durationMs"]
    ]

    def gate() -> dict:
        oracle, con = connect_oracle(ctx)
        expected = oracle.expected_state(con, landed_files)
        failed, bad_rows = client.check(lambda _lv: expected)
        bad = oracle.mismatches(oracle.table_state(table), expected)
        bad_rows += len(bad)
        # an uncommitted segment is a failed operation
        failed += min(measured, missing + len(bad))
        return {"failed": failed, "mismatched_rows": bad_rows,
                "correct": bad_rows == 0 and not missing}

    label, tail_v = tail_or_max(lat)
    ctx.extra.update(progress=progress, late=late, backlog=backlog)
    return {
        "metrics": {
            "events_per_s": (seg_events / max(last - due[0], 1e-9), "1/s"),
            "commit_latency_p50_s": (median(lat), "s"),
            "commit_latency_tail_s": (tail_v, "s"),
            "ops_per_s": (in_window / (window[1] - window[0]), "1/s"),
            **client.metrics(),
            "upsert_p50_s": (median(applies), "s"),
        },
        "attempted": measured + len(client.done),
        "gate": gate,
        "window": window,
        "tables": [table],
        "diag": {
            "segments": measured, "period_s": period,
            "warmup_s": round(warmup_s, 2),
            "commit_latency_tail": f"{label} of n={len(lat)}",
            "latencies_s": [round(x, 4) for x in lat],
            "generator_late_max_s": round(max(late), 4),
            "backlog_segments_max": backlog,
            "uncommitted": missing,
            "stream_stop_s": round(ctx.extra["stream_stop_s"], 2),
            "probe": client.diag(),
        },
        "client": client,
        "wal_files": landed_files,
    }


# -- serve ---------------------------------------------------------------------


def run_serve(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from data_pipeline_spark import pipeline

    def lsn_filter(slices):
        cond = None
        for s in slices:
            lo, hi = inputs.slice_bounds(s)
            c = (F.col("lsn") >= lo) & (F.col("lsn") < hi)
            cond = c if cond is None else cond | c
        return cond

    def build(d):
        wal_dir = os.path.join(d, "wal")
        return wal_dir, ctx.materialize(wal_dir)

    wal_dir, wal = ctx.repeat_setup(build)[-1]
    files = wal_files(wal_dir)
    keys = inputs.wal_keys(files)
    plan = inputs.serve_plan(ctx.seed, keys)
    # The table is built once: the repeated part of set-up is the WAL.
    t = time.perf_counter()
    table = pipeline.replay_log(
        ctx.spark, wal.filter(lsn_filter(plan["base"])),
        os.path.join(ctx.work, "table"), n_batches=1,
        n_buckets=inputs.SERVE_BUCKETS, record_metrics=False,
        compact_at_end=True,
    )
    for s in plan["deltas"]:
        pipeline.apply_batch(
            table, wal.filter(lsn_filter([s])), commit_key=f"delta-{s}",
            record_metrics=False,
        )
    ctx.setup_once = time.perf_counter() - t

    def upsert_source(i):
        return wal.filter(lsn_filter([plan["upserts"][i]]))

    client = Client(ctx, table, upsert_source, "serve")
    # untimed warm-up through the same client, so its upsert counts in
    # the oracle's levels and its reads are checked too
    client.run(plan["warmup"])
    client.timed_from = len(client.done)
    w0 = time.time()
    elapsed = client.run(plan["ops"], time.perf_counter() + ctx.seconds)
    window = (w0, time.time())
    # An upsert leaves about 125 MB reachable until the next query runs.
    # End on one untimed lookup, as backfill and tail end on their read
    # probe, so driver_mem_mb does not depend on which op the window
    # happened to end with.
    Client(ctx, table, upsert_source, "settle").run(
        [{"op": "lookup", "key": keys[1][0]}]
    )
    upserts = client.times("upsert")

    def gate() -> dict:
        oracle, con = connect_oracle(ctx)
        states: dict[int, dict] = {}

        def state_at(lv: int) -> dict:
            if lv not in states:
                slices = plan["base"] + plan["deltas"] + plan["upserts"][:lv]
                states[lv] = oracle.expected_state(
                    con, files, [inputs.slice_bounds(s) for s in slices]
                )
            return states[lv]

        failed, bad_rows = client.check(state_at)
        final_bad = oracle.mismatches(
            oracle.table_state(table), state_at(client.level)
        )
        bad_rows += len(final_bad)
        failed += min(len(final_bad), max(len(upserts), 1))
        return {"failed": min(failed, len(client.done)),
                "mismatched_rows": bad_rows, "correct": bad_rows == 0}

    width = inputs.SERVE_EVENTS // inputs.SERVE_SLICES
    _, up_tail = tail_or_max(upserts)
    return {
        "metrics": {
            "events_per_s": (
                width * len(upserts) / sum(upserts) if upserts else 0.0,
                "1/s",
            ),
            "commit_latency_p50_s": (median(upserts), "s"),
            "commit_latency_tail_s": (up_tail, "s"),
            "ops_per_s": (len(client.timed()) / elapsed, "1/s"),
            **client.metrics(),
        },
        "attempted": len(client.done),
        "gate": gate,
        "window": window,
        "tables": [table],
        "diag": {**client.diag(), "op_s": client.op_log()},
        "client": client,
        "wal_files": files,
    }


WORKLOADS = {"backfill": run_backfill, "tail": run_tail, "serve": run_serve}


def spark_conf(args) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
    }
    if args.traced:
        from perfbench import trace

        log_dir = os.path.join(args.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(trace.EVENTLOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + log_dir
    return conf


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--parallelism", type=int, required=True)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--reps", type=int, required=True)
    ap.add_argument("--probe", type=int, required=True)
    ap.add_argument("--events", required=True)
    ap.add_argument("--wal", default=None)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    os.makedirs(args.work, exist_ok=True)

    cpu_before = cpu_control()
    tracer = None
    if args.traced:
        from perfbench import trace

        tracer = trace.Tracer()
        trace.install(tracer)

    from data_pipeline_spark import session

    t = time.perf_counter()
    spark = session.get_spark(
        app_name=f"perfbench-{args.workload}",
        parallelism=args.parallelism,
        extra_conf=spark_conf(args),
    )
    start_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    # Workers import the package from PYTHONPATH (set by run.py); marking
    # it shipped keeps ship_package from writing its zip outside the
    # benchmark's work directory.
    session._PKG_SHIPPED.add(id(spark.sparkContext))

    master = spark.sparkContext.master
    ctx = Ctx(spark, args, tracer)
    t_run = time.perf_counter()
    res = WORKLOADS[args.workload](ctx)
    t_mem = time.perf_counter()
    # Memory is read before the output gate, whose DuckDB oracle and
    # table reads are the harness's, not the program's.
    mem = driver_memory_mb(spark)
    gw = spark.sparkContext._gateway
    jvm = getattr(gw, "proc", None)
    t_gate = time.perf_counter()
    gate = res["gate"]()
    t_stop = time.perf_counter()

    layers = None
    if tracer is not None:
        from perfbench import layers as layers_mod

        layers = layers_mod.collect(ctx, res, start_s)
    spark.stop()
    if jvm is not None:
        gw.shutdown()
        try:
            jvm.stdin.close()
        except OSError:
            pass
        jvm.wait(timeout=60)
    if tracer is not None:
        layers.update(layers_mod.from_event_log(
            ctx, res, layers["pipeline.events_in"]
        ))
    t_end = time.perf_counter()
    cpu_after = cpu_control()

    metrics = {k: list(v) for k, v in res["metrics"].items()}
    metrics["setup_s"] = [
        start_s + median(ctx.setup_times) + ctx.setup_once, "s"
    ]
    # The heap's transient peak and the JVM's VmHWM follow G1's adaptive
    # young-generation sizing more than the program (see README.md), so
    # the heap counts here by what stays live.
    metrics["driver_mem_mb"] = [
        mem["jvm_live_heap"] + mem["jvm_non_heap_peak"] + mem["python_vmhwm"],
        "MB",
    ]
    attempted = max(int(res["attempted"]), 1)
    out = {
        "workload": args.workload,
        "wal_dir": res.get("wal_dir"),
        "parallelism": args.parallelism,
        "traced": bool(args.traced),
        "metrics": metrics,
        "attempted": attempted,
        "failed": int(gate["failed"]),
        "correct": bool(gate["correct"]),
        "layers": layers,
        "diag": {
            **res["diag"],
            "mismatched_rows": gate["mismatched_rows"],
            "master": master,
            "session_start_s": round(start_s, 4),
            "setup_once_s": round(ctx.setup_once, 4),
            "memory_mb": {k: round(v, 1) for k, v in mem.items()},
            "setup_reps_s": [round(x, 4) for x in ctx.setup_times],
            "wal_write_s": ctx.wal_write,
            # where a leg's wall time goes (set-up, window and probe are
            # all in "workload")
            "phases_s": {
                "workload": round(t_mem - t_run, 2),
                "memory": round(t_gate - t_mem, 2),
                "gate": round(t_stop - t_gate, 2),
                "stop": round(t_end - t_stop, 2),
            },
            "cpu_control_before_s": round(cpu_before, 5),
            "cpu_control_after_s": round(cpu_after, 5),
        },
    }
    tmp = args.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
