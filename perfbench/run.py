"""Benchmark of record for the CDC ingest engine.

    python3 perfbench/run.py --workload {backfill,tail,serve} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The seeded ``events`` input is generated
here, once per invocation; each leg then runs in its own process
(``perfbench/worker.py``) on ``local[nproc]`` so it starts from a fresh
JVM. ``--trace 0`` prints every end-to-end metric; ``--trace 1`` runs an
untraced leg, a traced leg (and, for backfill, a ``local[1]`` leg) and
prints every per-layer metric with the end-to-end metric it maps to.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
See perfbench/README.md for metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# BENCHMARK.json lists these two; serve runs by hand (README.md says why)
LISTED = ("backfill", "tail")
WORKLOADS = LISTED + ("serve",)

# End-to-end metrics: every workload reports every one (README.md says
# what each means per workload).
E2E = [
    ("setup_s", "s"),
    ("events_per_s", "1/s"),
    ("commit_latency_p50_s", "s"),
    ("commit_latency_tail_s", "s"),
    ("lookup_p50_s", "s"),
    ("lookup_tail_s", "s"),
    ("scan_since_p50_s", "s"),
    ("upsert_p50_s", "s"),
    ("ops_per_s", "1/s"),
    ("driver_mem_mb", "MB"),
]

# legs must end by then, leaving time to stop a late one and exit
RUN_BUDGET_S = 160.0
# set-up repetitions of a timed leg; setup_s is their median
SETUP_REPS = 3


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _reap_group(pgid: int) -> None:
    """Stop whatever the leg left in its process group (the JVM, Python
    workers) and wait until the group is empty."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline and _group_alive(pgid):
            time.sleep(0.05)


def run_leg(
    workload: str, seed: int, seconds: float, parallelism: int,
    traced: bool, events: str, work: str, deadline: float,
    reps: int, probe: bool = True, wal: str | None = None,
    warmup: bool = True,
) -> dict:
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH", "")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(parallelism),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--parallelism", str(parallelism),
        "--traced", "1" if traced else "0", "--reps", str(reps),
        "--probe", "1" if probe else "0",
        "--events", events, "--work", work, "--out", out,
    ]
    if wal:
        cmd += ["--wal", wal]
    if not warmup:
        cmd += ["--warmup", "0"]
    log_path = os.path.join(work, "worker.log")
    started = time.monotonic()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap_group(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        why = "timed out" if rc is None else f"exit code {rc}"
        raise RuntimeError(f"{workload} leg {why}:\n{tail}")
    with open(out) as f:
        res = json.load(f)
    res["diag"]["leg_wall_s"] = round(time.monotonic() - started, 2)
    return res


def e2e_report(res: dict) -> dict:
    return {
        name: {"value": float(res["metrics"][name][0]), "unit": unit}
        for name, unit in E2E
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_pipeline_spark")):
        print(
            "perfbench: data_pipeline_spark/ not found next to perfbench/; "
            "run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2

    started = time.monotonic()
    deadline = started + RUN_BUDGET_S
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")

    events = os.path.join(work, "events")

    def leg(name: str, par: int, traced: bool, reps: int, **kw) -> dict:
        return run_leg(
            args.workload, args.seed, args.seconds, par, traced, events,
            os.path.join(work, name), deadline, reps, **kw,
        )

    try:
        from perfbench import inputs

        inputs.write_events(
            args.seed, inputs.workload_events(args.workload), events
        )
        if not args.trace:
            res = leg("timed", nproc, False, SETUP_REPS)
            report = {"metrics": e2e_report(res)}
            print("diag " + json.dumps(
                {"workload": args.workload, "seed": args.seed,
                 "failed_ratio": res["failed"] / res["attempted"],
                 **res["diag"]}, sort_keys=True))
            legs = [res]
        else:
            from perfbench import layers

            # Traced invocations set up once per leg, so their setup_s
            # is a first (cold) set-up. To fit three backfill legs in the
            # run budget, the traced and local[1] legs replay the
            # untraced leg's WAL instead of landing their own; the
            # local[1] leg also skips the warm-up and the read probe, and
            # the speedup compares its one (cold) replay with the
            # untraced leg's cold warm-up replay.
            plain = leg("untraced", nproc, False, 1)
            if args.workload == "backfill":
                traced = leg("traced", nproc, True, 0, wal=plain["wal_dir"])
                single = leg("local1", 1, False, 0, probe=False,
                             wal=plain["wal_dir"], warmup=False)
            else:
                traced = leg("traced", nproc, True, 1)
                single = None
            values = layers.finish(traced, plain, single, args.workload)
            report = {"metrics": layers.report(values)}
            path = os.path.join(
                base, "reports",
                f"{args.workload}-seed{args.seed}-trace.json",
            )
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump(
                    {"workload": args.workload, "seed": args.seed,
                     "layers": layers.table(values, args.workload),
                     "overhead": values["_overhead"],
                     "untraced": e2e_report(plain),
                     "traced": e2e_report(traced),
                     "local1": e2e_report(single) if single else None,
                     "diag": {"untraced": plain["diag"],
                              "traced": traced["diag"],
                              "local1": single["diag"] if single else None}},
                    f, indent=1, sort_keys=True,
                )
            for row in layers.table(values, args.workload):
                print("layer " + json.dumps(row, sort_keys=True))
            print("overhead " + json.dumps(values["_overhead"], sort_keys=True))
            legs = [x for x in (plain, traced, single) if x]
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report = {
        "correct": all(x["correct"] for x in legs),
        "attempted": sum(int(x["attempted"]) for x in legs),
        "failed": sum(int(x["failed"]) for x in legs),
        **report,
    }
    print(json.dumps(report, sort_keys=True))
    # the output gate fails the run on any mismatch
    return 0 if report["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
