#!/usr/bin/env python3
"""Record the output fingerprints the benchmark checks (benchmarked
queries without oracle SQL, and the files the training DAG writes) at
the given scale factors of the fixture in ``data/``, into
``fingerprints.json``.

    python3 perfbench/record_fingerprints.py 0.01 0.001

Run it from the root of a checkout whose query outputs are known to be
right; the benchmark then fails any run whose output differs.
"""

from __future__ import annotations

import importlib
import json
import os
import shutil
import sys
import tempfile

import run
import workloads
from spans import Tracer
from stats import fingerprint


def main() -> int:
    path = workloads.FINGERPRINTS
    recorded: dict[str, dict[str, str]] = {}
    os.makedirs(run.RUNS, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="fingerprints-", dir=run.RUNS)
    try:
        run._hermetic_env(run_dir, len(os.sched_getaffinity(0)), trace=False)
        sys.path.insert(0, run.ROOT)
        session = importlib.import_module(f"{workloads.PKG}.session")
        registry = importlib.import_module(f"{workloads.PKG}.plans.registry")
        spark = session.get_session(app_name="perfbench-fingerprints")
        try:
            for sf in sys.argv[1:]:
                sf_dir = os.path.join(run.DATA, f"sf{float(sf)}")
                got = recorded.setdefault(str(float(sf)), {})
                for name in workloads.SQL_ANALYTICS:
                    spec = registry.get(name)
                    if spec.oracle is None:
                        got[name] = fingerprint(spec.builder(spark, sf_dir).toPandas())
                for name in workloads.DAGS:
                    out_dir = os.path.join(run_dir, f"out-{sf}-{name}")
                    workloads.run_dag(spark, Tracer(counters=False), sf_dir, name, out_dir)
                    got.update(workloads.output_fingerprints(name, out_dir))
        finally:
            run._stop(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(path, "w") as fh:
        json.dump(recorded, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
