#!/usr/bin/env python3
"""kgspark benchmark: one workload, one seed, a closed loop of runs.

    python3 kgbench/run.py --workload detect --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up (input generation, session start and
a discarded engine warm-up pass) is timed as ``setup_s``; then one client
runs the workload back to back until ``--seconds`` have passed, checks
every run's outputs against ``expected.json`` and reports medians.
``--trace 1`` also writes an uncompressed Spark event log and reports the
per-layer metrics instead. The last line of standard output is the result
JSON; the line before it records the context (inputs, core count, load
average, every run).
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DEADLINE_S = 170  # a run with no result by then is stopped and fails
GRACE_S = 5  # SIGTERM, then SIGKILL after this many seconds
PR_SET_CHILD_SUBREAPER = 36
GEN_REPEATS = 3  # input generation is timed this many times; median counts
LAYERS = ("extract", "link", "encode", "typesys", "errorsgen", "scoring",
          "rank", "checkpoint.fresh", "checkpoint.resume", "patybred.paths",
          "patybred.fit_lr", "patybred.score_lr", "patybred.fit_dt",
          "patybred.score_dt")
# per-layer figures a run returns itself, not read from the event log
RUN_STATS = {"checkpoint.write_mb": "MB", "checkpoint.resumed_frac": "ratio"}


class Ctx:
    def __init__(self, spark, tracer, data_dir: str, work: str):
        self.spark, self.tracer = spark, tracer
        self.data_dir, self.work = data_dir, work


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def retained_mb(spark) -> float:
    """Block-manager storage still held after a requested JVM GC."""
    gc.collect()
    spark._jvm.System.gc()
    time.sleep(0.3)  # the context cleaner drops collected blocks async
    infos = spark._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def start_session(work: str, n_cores: int, event_dir: str | None):
    from kgspark.session import get_spark

    tmp = os.path.join(work, "tmp")
    extra = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + event_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    return get_spark("kgbench", master=f"local[{n_cores}]", extra=extra)


def engine_warmup(spark, work: str) -> None:
    """The discarded warm-up pass. It starts a Python worker per core
    (pandas and numpy in a grouped pandas UDF, over Arrow) and runs a
    shuffle, a broadcast join, a window and parquet I/O, so the first
    measured run does not pay for JVM and worker start-up. It calls no
    kgspark code: one run of detect or resume takes too long to repeat,
    so each measured run is the first call of its plans in the session,
    as in a batch job."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def group_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        return pd.DataFrame({"k": [int(pdf["k"].iloc[0])],
                             "m": [float(np.mean(pdf["id"]))]})

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 20000, 1, 2 * n).withColumn("k", F.col("id") % 97)
    means = df.groupBy("k").applyInPandas(group_mean, "k long, m double")
    out = df.join(F.broadcast(means), "k").withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy("id")))
    path = os.path.join(work, "warmup")
    out.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).agg(F.sum("r")).first()
    shutil.rmtree(path)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", help=argparse.SUPPRESS)  # set by supervise()
    args = ap.parse_args()
    if args.work is None:
        return supervise(args)
    if not os.path.isfile(os.path.join(ROOT, "kgspark", "__init__.py")):
        print("kgbench: no kgspark package next to the benchmark; run it "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from kgbench import spans, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)[args.workload]
    return measure(args, expected, args.work, spans, workloads)


def supervise(args) -> int:
    """Run the measurement in a child process and stop everything it
    started. The JVM that PySpark launches, and the Python workers that
    the JVM forks (in a process group of their own), outlive the driver
    process; as a child subreaper this process inherits them when their
    parents exit, so it can stop each one and wait for it, on every path
    out: a result, an error or the deadline."""
    # a SIGTERM to this process still stops and reaps the children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("kgbench: cannot become a child subreaper", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".kgbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temporary file of Python, the JVM and Spark in the checkout
    env = dict(os.environ, TMPDIR=os.path.join(work, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__),
                              *sys.argv[1:], "--work", work], env=env)
    try:
        return child.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"kgbench: no result within {DEADLINE_S} s", file=sys.stderr)
        return 1
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work is still there
            pass


def descendants() -> list[int]:
    """Every live process below this one, read from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:  # it ended meanwhile
                continue
            # the command name is in parentheses and may hold spaces
            parent[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        kids = [c for c, p in parent.items() if p == pid]
        out += kids
        todo += kids
    return out


def stop_descendants() -> None:
    """SIGTERM every descendant, SIGKILL what is left after a grace
    period, and reap each one until this process has no child left."""
    t0 = time.time()
    while True:
        while True:  # reap those that have ended
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        pids = descendants()
        if not pids:
            return
        if time.time() - t0 > 4 * GRACE_S:
            print(f"kgbench: processes {pids} did not end", file=sys.stderr)
            return
        sig = signal.SIGTERM if time.time() - t0 < GRACE_S else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def measure(args, expected, work, spans, workloads) -> int:
    n_cores = len(os.sched_getaffinity(0))
    load_pre = loadavg()
    inputs_fn, run_fn = workloads.WORKLOADS[args.workload]
    data_dir = os.path.join(work, "data")
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)

    gen_s = []
    for _ in range(GEN_REPEATS):
        g0 = time.time()
        shutil.rmtree(data_dir, ignore_errors=True)
        counts = inputs_fn(data_dir, args.seed)
        gen_s.append(time.time() - g0)
    t1 = time.time()
    spark = start_session(work, n_cores, event_dir)
    session_s = time.time() - t1
    engine_warmup(spark, work)
    warmup_s = time.time() - t1 - session_s
    setup_s = statistics.median(gen_s) + session_s + warmup_s
    tracer = spans.Tracer(spark.sparkContext, bool(args.trace))
    ctx = Ctx(spark, tracer, data_dir, work)

    attempted, failed = 0, 0
    walls, windows, mismatches, stats = [], [], [], []
    retained = [retained_mb(spark)]
    loop0 = time.time()
    while attempted == 0 or time.time() - loop0 < args.seconds:
        tracer.run = attempted
        attempted += 1
        r0 = time.time()
        try:
            out, st = run_fn(ctx)
            bad = workloads.check(out, expected)
            stats.append(st)
        except Exception as e:  # a raising run counts as failed
            bad = [f"raised {type(e).__name__}: {e}"]
        r1 = time.time()
        walls.append(r1 - r0)
        windows.append((r0, r1))
        if bad:
            failed += 1
            mismatches.append({"run": attempted - 1, "keys": bad[:5]})
        retained.append(retained_mb(spark))
    app_id = spark.sparkContext.applicationId
    spark.stop()

    wall_s = statistics.median(walls)
    per_run_growth = (retained[-1] - retained[0]) / (len(retained) - 1)
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": n_cores, "loadavg_pre": load_pre, "loadavg_post": loadavg(),
        "inputs": counts, "input_gen_s": gen_s, "session_start_s": session_s,
        "warmup_s": warmup_s, "run_wall_s": walls, "run_stats": stats,
        "retained_mb": retained, "mismatches": mismatches,
    }
    print(json.dumps({"context": context}))

    if args.trace:
        rep = spans.layer_report(os.path.join(event_dir, app_id),
                                 tracer.spans, windows)
        metrics = layer_metrics(rep, attempted, spans.FIELDS)
        for name, unit in RUN_STATS.items():
            vals = [st.get(name, 0.0) for st in stats] or [0.0]
            metrics[name] = {"value": statistics.median(vals), "unit": unit}
        metrics["trace.wall_s"] = {"value": wall_s, "unit": "s"}
        metrics["trace.unattributed_jobs"] = {
            "value": rep["unattributed_jobs"], "unit": "count"}
        metrics["session.retained_mb_per_run"] = {"value": per_run_growth,
                                                  "unit": "MB"}
    else:
        metrics = {
            "wall_s": {"value": wall_s, "unit": "s"},
            "input_rows_per_s": {"value": counts["rows"] / wall_s,
                                 "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def layer_metrics(rep: dict, n_runs: int, fields: dict) -> dict:
    """Median over the measured runs of each layer's per-run totals."""
    out = {}
    runs = [rep["layers"].get(i, {}) for i in range(n_runs)]
    for layer in LAYERS:
        for field, unit in fields.items():
            vals = [r.get(layer, {}).get(field, 0.0) for r in runs]
            out[f"{layer}.{field}"] = {"value": statistics.median(vals),
                                       "unit": unit}
    return out


if __name__ == "__main__":
    sys.exit(main())
