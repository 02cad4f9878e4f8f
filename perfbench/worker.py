"""The benchmark's load process: one SparkSession at local[N] that runs one
workload's job back to back for the measurement window.

``run.py`` starts it with the state directories in the environment and
``PERFBENCH_T_SPAWN`` set to the wall-clock time just before the spawn, so
``setup_s`` is process start until ``get_spark`` returns. The benchmark's
own modules (the workloads in ``jobs.py``, the checks, numpy) are imported
only after that, so ``setup_s`` holds the interpreter, the library's imports
and the session start. With ``--setup-only`` it stops right there. Otherwise the first job is the cold
one (fresh JVM, empty compile cache). ``WARM_JOBS`` warm jobs follow; on a
quiet 4-core host the jobs take at most about ``--seconds`` in all. The count is
fixed rather than filled to the window because job times still fall from
one warm job to the next as the JIT warms up: a change that makes jobs
faster must not change how many samples the median is taken over. Only a
host slowed about threefold stops the warm jobs early: none starts once
twice ``--seconds`` have passed, so that the run keeps to its deadline. Each job's
output is checked (untimed) and then deleted. The result goes to
``--result`` as JSON.

With ``--trace 1`` the calls into the library run inside spans
(``spans.py``). The first job is traced, and warm jobs come in blocks of
four ordered untraced, traced, traced, untraced, so one run also measures
the tracing overhead without the JIT warm-up trend biasing it. A traced
run makes one such block.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time
import traceback

# 20-30 s of jobs on a quiet 4-core host, the cold job included
WARM_JOBS = {"validate": 2, "curate-dup400": 1, "curate-dup3": 1}
TRACE_BLOCK = (False, True, True, False)


def attempt(fn, *args):
    """(fn's result, None), or (None, its traceback) if it raised: a job
    that fails is counted and reported, and the run goes on."""
    try:
        return fn(*args), None
    except Exception:
        return None, traceback.format_exc(limit=3)


def run_jobs(spark, args, info) -> dict:
    # imported here, not at the top, so that setup_s leaves them out
    import host
    from jobs import WORKLOADS
    from spans import Tracer

    tracer = Tracer(spark, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, tracer, f"{args.state}/input", info)
    jobs = []
    window_t0 = time.perf_counter()
    while True:
        k = len(jobs)
        traced = bool(args.trace) and (k == 0 or TRACE_BLOCK[k - 1])
        tracer.enabled = traced
        tracer.new_job()
        out = f"{args.state}/output/job-{k}"
        t0 = time.perf_counter()
        _, error = attempt(wl.run, out)
        seconds = time.perf_counter() - t0
        mem = None if traced else tracer.ungrouped_counters()["exec_mem_bytes"] / 2**20
        if not error:
            checked, error = attempt(wl.check, out)
        errors, hist = ([error], {}) if error else checked
        job = {
            "seconds": seconds, "traced": traced, "errors": errors, "reasons": hist,
            "exec_mem_mb": mem,
        }
        if traced:
            job["spans"] = tracer.job_spans
        if args.smoke and not error:
            job["negatives_missed"] = wl.smoke_negatives(out)
        jobs.append(job)
        shutil.rmtree(out, ignore_errors=True)
        wl.cleanup()
        if args.smoke:
            break
        n_warm = len(jobs) - 1
        if args.trace:
            if n_warm == len(TRACE_BLOCK):
                break
        elif n_warm >= WARM_JOBS[args.workload] or (
            n_warm and time.perf_counter() - window_t0 > 2 * args.seconds
        ):
            break
    return {"jobs": jobs, "peak_rss_mb": host.peak_rss_mb()}


def stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()

    from json_schema_py_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=args.cpus)
    result = {"setup_s": time.time() - float(os.environ["PERFBENCH_T_SPAWN"])}
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if not args.setup_only:
            with open(f"{args.state}/input/info.json") as f:
                info = json.load(f)
            result.update(run_jobs(spark, args, info))
    finally:
        stop(spark)
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
