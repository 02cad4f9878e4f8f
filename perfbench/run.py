#!/usr/bin/env python3
"""Layered benchmark of the validation job and the curation pipeline.

    python3 perfbench/run.py --workload validate --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --smoke

Workloads (inputs generated from ``--seed`` by ``corpus.py``):

* ``validate``      - first-run path of scripts/run_validation_job.py over
                      the spans table derived from 100k docs (sf0.1 x 20);
* ``curate-dup3``   - LM train + curate_documents + verdict write over 7.5k
                      docs: 2500 distinct texts, each copied 3x;
* ``curate-dup400`` - the same calls over 20k docs: 50 texts, each 400x.

``BENCHMARK.json`` lists the first two. ``curate-dup400`` runs only when
asked for: a third workload of about a minute per run does not fit the
benchmark's budget of 4 + 22 x (workloads) runs within the hour on a loaded
4-core host.

One run is: host probes, input generation, (untraced runs only) one extra
set-up-only process for a second ``setup_s`` sample, one load process
(``worker.py``) at local[N] with N = min(4, usable cores), host probes
again. All state lives under ``.perfbench/run`` in the checkout, emptied
first: the compile cache, Spark local and warehouse dirs, temp files,
inputs and outputs. So ``first_job_s`` is cold on every run.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer span counters (``BENCHMARK.json`` lists both).
The line before it is the full run record: seed, local[N], input sizes,
per-job times, sample counts, host probes, and reason histograms.

A job fails if it raises or an output check rejects its output
(``checks.py``). The curation reason histogram must also be identical across
the jobs of a run and, for the seeds in ``expected_reasons.json``, equal the
histogram recorded there (``expect.py``).

``--smoke`` runs each workload once at tiny sizes, traced, and shows that
every output check rejects a deliberately wrong expectation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LIBRARY = ROOT / "json_schema_py_spark"
STATE = ROOT / ".perfbench"
EXPECTED = HERE / "expected_reasons.json"
WORKLOADS = ("validate", "curate-dup3", "curate-dup400")
SETUP_PROBES = 1  # set-up-only processes per untraced run, besides the worker
DEADLINE_S = 170  # a run must end within 180 s
DRIVER_MEMORY = "3g"

SPANS = (
    "plans.validation_build",
    "sinks.violations_write",
    "plans.lineage_append",
    "operators.cross_checks_write",
    "operators.lm_train",
    "plans.curation_build",
    "sinks.verdicts_write",
)

sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import corpus  # noqa: E402
import host  # noqa: E402
from spans import COUNTERS, TIME_COUNTERS  # noqa: E402


def cpus() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def child_env(run_dir: Path) -> dict:
    tmp = run_dir / "tmp"
    cache = run_dir / "compile_cache"
    for d in (tmp, cache, run_dir / "local", run_dir / "warehouse"):
        d.mkdir(parents=True)
    cache.chmod(0o700)  # the compile cache only loads from a private dir
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    env.update(
        PYTHONPATH=os.pathsep.join([str(ROOT), str(HERE)]),
        PYTHONDONTWRITEBYTECODE="1",
        SPARK_SCHEMA_COMPILE_CACHE=str(cache),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        SPARK_WAREHOUSE_DIR=str(run_dir / "warehouse"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        TMPDIR=str(tmp),
        # no JVM perf-data file: the JVM writes it under /tmp whatever tmpdir says
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
            "pyspark-shell"
        ),
    )
    return env


def spawn(args: list[str], env: dict, run_dir: Path, deadline: float) -> dict:
    """Run worker.py with ``args``; return its result JSON. The process group
    is killed if it outlives ``deadline``."""
    result = run_dir / "result.json"
    result.unlink(missing_ok=True)
    env = dict(env, PERFBENCH_T_SPAWN=repr(time.time()))
    with open(run_dir / "worker.log", "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), *args, "--result", str(result)],
            env=env, cwd=str(ROOT), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError("the load process ran past the deadline")
    if code != 0 or not result.exists():
        tail = (run_dir / "worker.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"the load process exited with {code}:\n{tail}")
    return json.loads(result.read_text())


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def span_metrics(jobs: list[dict], setup_s: float) -> dict:
    """Per-layer metrics. A time is the median over the warm traced jobs. A
    count is the median over every traced job, the first included: counts do
    not depend on warm-up, but AQE submits some query stages as separate
    jobs whose number can change with timing, and the median of three
    traced jobs keeps one such job from moving the figure."""
    traced = [j["spans"] for j in jobs if j["traced"]]
    warm = traced[1:] or traced

    def med(span: str, counter: str, of: list[dict]) -> float:
        return median([s.get(span, {}).get(counter, 0) for s in of])

    m = {"session.start.wall_s": setup_s}
    m["schema.compile.cold_s"] = med("schema.compile", "wall_s", traced[:1])
    m["schema.compile.warm_s"] = med("schema.compile", "wall_s", warm)
    for span in SPANS:
        for c in COUNTERS:
            m[f"{span}.{c}"] = med(span, c, warm if c in TIME_COUNTERS else traced)
    m["util.collapse_probe.calls"] = med("util.collapse_probe", "calls", traced)
    m["util.collapse_probe.wall_s"] = med("util.collapse_probe", "wall_s", warm)
    traced_s = [j["seconds"] for j in jobs[1:] if j["traced"]]
    untraced_s = [j["seconds"] for j in jobs[1:] if not j["traced"]]
    m["trace.job_s"] = median(traced_s)
    m["trace.overhead_s"] = median(traced_s) - median(untraced_s)
    return m


def expected_key(workload: str, seed: int, docs: int) -> str:
    return f"{workload} seed={seed} docs={docs}"


def expected_reasons() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)["reasons"]


def check_reasons(workload: str, seed: int, info: dict, jobs: list[dict], table: dict) -> list[str]:
    """The curation reason histogram repeats across the jobs of a run and
    equals the one ``expect.py`` recorded for this seed, if it did."""
    hists = [j["reasons"] for j in jobs if not j["errors"]]
    if workload == "validate" or not hists:
        return []
    errors = []
    if any(h != hists[0] for h in hists):
        errors.append(f"reason histograms differ between jobs: {hists}")
    want = table.get(expected_key(workload, seed, info["docs"]))
    if want is not None and want != hists[0]:
        errors.append(f"reason histogram {hists[0]} != recorded {want}")
    return errors


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool = False) -> tuple[dict, dict]:
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    run_dir = STATE / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    env = child_env(run_dir)
    before = host.probes()
    info = corpus.build(workload, seed, str(run_dir / "input"), smoke=smoke)
    (run_dir / "input" / "info.json").write_text(json.dumps(info))

    base = ["--workload", workload, "--state", str(run_dir), "--cpus", str(cpus())]
    setups = []
    if not (trace or smoke):
        for _ in range(SETUP_PROBES):
            setups.append(spawn(base + ["--setup-only"], env, run_dir, deadline)["setup_s"])
    extra = ["--seconds", str(seconds), "--trace", str(int(trace))]
    res = spawn(base + extra + (["--smoke"] if smoke else []), env, run_dir, deadline)
    setups.insert(0, res["setup_s"])
    after = host.probes()
    shutil.rmtree(run_dir / "output", ignore_errors=True)

    jobs = res["jobs"]
    failed = sum(1 for j in jobs if j["errors"])
    table = expected_reasons()
    run_errors = check_reasons(workload, seed, info, jobs, table)
    warm = [j["seconds"] for j in jobs[1:] if not j["traced"]]
    job_s = median(warm)
    record = {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "master": f"local[{cpus()}]",
        "input": info,
        "run_seconds": seconds,
        "wall_s": time.time() - t_start,
        "setup_samples_s": setups,
        "first_job_s": jobs[0]["seconds"],
        "warm_jobs_s": warm,
        "warm_jobs": len(warm),
        "job_max_s": max(warm, default=0.0),
        "failed_frac": failed / len(jobs),
        "job_errors": [e for j in jobs for e in j["errors"]],
        "run_errors": run_errors,
        "reasons": jobs[0]["reasons"],
        "reasons_recorded": expected_key(workload, seed, info["docs"]) in table,
        "host_before": before,
        "host_after": after,
    }
    if smoke:
        missed = jobs[0].get("negatives_missed", [])
        if workload != "validate" and not failed:
            wrong = dict(table)
            wrong[expected_key(workload, seed, info["docs"])] = dict(jobs[0]["reasons"], kept=-1)
            if not check_reasons(workload, seed, info, jobs, wrong):
                missed.append("the recorded-histogram check accepted a wrong histogram")
        record["negatives_missed"] = missed
    if trace:
        metrics = span_metrics(jobs, res["setup_s"])
        record["spans_per_job"] = [j.get("spans") for j in jobs]
    else:
        metrics = {
            "setup_s": median(setups),
            "first_job_s": jobs[0]["seconds"],
            "job_s": job_s,
            "docs_per_s": info["docs"] / job_s,
            "peak_rss_mb": res["peak_rss_mb"],
            "task_exec_mem_mb": median([j["exec_mem_mb"] for j in jobs[1:] if not j["traced"]]),
        }
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in declared["per_layer" if trace else "end_to_end"]}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} disagree with BENCHMARK.json")
    result = {
        "correct": failed == 0 and not run_errors,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return record, result


def smoke() -> int:
    bad = 0
    for wl in WORKLOADS:
        record, result = run(wl, seed=1, seconds=0, trace=True, smoke=True)
        missed = record["negatives_missed"]
        ok = result["correct"] and not missed
        bad += not ok
        print(json.dumps({"workload": wl, "ok": ok, "correct": result["correct"],
                          "negatives_missed": missed, "errors": record["job_errors"],
                          "reasons": record["reasons"]}))
    return 1 if bad else 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not (LIBRARY / "__init__.py").is_file():
        print(f"library source not found at {LIBRARY}", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    record, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
