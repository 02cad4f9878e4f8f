#!/usr/bin/env python3
"""Record the curation reason histograms that ``run.py`` checks against.

    python3 perfbench/expect.py --seeds 0-31

For each curation workload and seed, this builds the benchmark's input,
runs one job of the workload exactly as the load process does, checks its
output with ``checks.py``, and stores the reason histogram in
``expected_reasons.json`` under "<workload> seed=<n> docs=<docs>". The
histograms were recorded with the library as it was when the benchmark was
added, and a run whose seed has one must reproduce it. Rerun this only when
``corpus.py`` changes the inputs, never to accept a library change.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

import run

CURATION = ("curate-dup400", "curate-dup3")


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def library_sha256() -> str:
    h = hashlib.sha256()
    for p in sorted(run.LIBRARY.rglob("*.py")):
        h.update(p.read_bytes())
    return h.hexdigest()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 0-31")
    args = ap.parse_args(argv)
    state = run.STATE / "expect"
    shutil.rmtree(state, ignore_errors=True)
    os.environ.update(run.child_env(state))
    sys.path.insert(0, str(run.ROOT))

    from json_schema_py_spark.session import get_spark

    import corpus
    from jobs import WORKLOADS
    from spans import Tracer
    from worker import stop

    spark = get_spark(app_name="perfbench-expect", cpus=run.cpus())
    spark.sparkContext.setLogLevel("ERROR")
    table = run.expected_reasons() if run.EXPECTED.exists() else {}
    try:
        for workload in CURATION:
            for seed in seed_range(args.seeds):
                t0 = time.time()
                shutil.rmtree(state / "input", ignore_errors=True)
                info = corpus.build(workload, seed, str(state / "input"))
                job = WORKLOADS[workload](spark, Tracer(spark, enabled=False), str(state / "input"), info)
                out = str(state / "output")
                job.run(out)
                errors, hist = job.check(out)
                job.cleanup()
                shutil.rmtree(out, ignore_errors=True)
                if errors:
                    raise RuntimeError(f"{workload} seed {seed}: {errors}")
                table[run.expected_key(workload, seed, info["docs"])] = hist
                print(f"{workload} seed {seed}: {hist} ({time.time() - t0:.1f} s)", flush=True)
    finally:
        stop(spark)
        shutil.rmtree(state, ignore_errors=True)
    with open(run.EXPECTED, "w") as f:
        json.dump({"library_sha256": library_sha256(), "reasons": dict(sorted(table.items()))}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
