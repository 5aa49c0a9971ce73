"""Engine benchmark for pdfsearch_spark: search and maintain workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload search --seed 1 --seconds 30 --trace 0

Spark runs at local[4] with the session defaults of ``session.get_spark``.
Every answer is checked against the SQLite FTS5 oracle. The last line of
stdout is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the ``end_to_end`` metrics of ``BENCHMARK.json``, with
``--trace 1`` its ``per_layer`` metrics (from spans, Spark job accounting and
driver-side kernel timings). ``perfbench/METRICS.md`` defines each metric.

Everything the run writes stays under ``.perfbench_work/`` in the checkout:
the run's corpus and indexes (``run/``, replaced by the next run), Spark
scratch, the Spark/JVM log of each run (``logs/``), the spans of traced runs
(``spans/``) and one self-describing record per run (``results.jsonl``). A traced run prints its self times and
its tracing overhead against the last untraced run of the same workload.
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
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = 4


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("search", "maintain"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---- process tree ------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(e))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---- environment -------------------------------------------------------


def prepare_env() -> None:
    """Spark scratch, JVM and Python temp files inside the checkout; engine
    importable by the Python workers."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "run")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    sys.path.insert(0, ROOT)


def describe_env() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    try:
        rev = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        rev = "unknown"
    loc = 0
    for d, _, fs in os.walk(os.path.join(ROOT, "pdfsearch_spark")):
        for f in fs:
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    loc += fh.read().count(b"\n")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark": pyspark.__version__, "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        "python": sys.version.split()[0], "git_rev": rev, "pdfsearch_spark_loc": loc,
    }


# ---- one run -----------------------------------------------------------


def run(args, log) -> dict:
    from perfbench import report
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Run
    from pdfsearch_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    log(f"session {session_s:.1f}s")
    try:
        tracer = Tracer(bool(args.trace), spark)
        tracer.install()
        r = Run(spark, tracer, os.path.join(WORK, "run"), args.seed, args.seconds, session_s, log)
        try:
            WORKLOADS[args.workload](r)
        finally:
            tracer.uninstall()
        jobs = tracer.job_counts()
        rss = peak_rss_mb()
        if args.trace:
            r.kernels()
            log("kernels timed")
    finally:
        stop_spark(spark)
        log("session stopped")
    rec = report.record(r, jobs, rss)
    if args.trace:
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
    return rec


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pdfsearch_spark")):
        print("perfbench: no pdfsearch_spark/ package next to perfbench/", file=sys.stderr)
        return 2
    prepare_env()
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log_path = os.path.join(WORK, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")

    # Spark, the JVM and the Python workers inherit fds 1 and 2: send both
    # to the run's log so nothing but this program's lines reaches stdout.
    out = os.fdopen(os.dup(1), "w")
    err = os.fdopen(os.dup(2), "w")
    sys.stdout.flush()
    sys.stderr.flush()
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    def log(msg: str) -> None:
        print(f"[perfbench {args.workload} seed={args.seed} {time.time() - started:6.1f}s] {msg}",
              file=err, flush=True)

    started = time.time()
    try:
        rec = run(args, log)
    except Exception:
        err.write(traceback.format_exc())
        err.write(f"(Spark log: {log_path})\n")
        return 1
    from perfbench import report

    rec.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        started=started, wall_s=time.time() - started, env=describe_env(),
    )
    result = report.result_line(rec)
    results = os.path.join(WORK, "results.jsonl")
    for line in report.summary_lines(rec, results):
        print(line, file=out)
    with open(results, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(result), file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
