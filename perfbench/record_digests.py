#!/usr/bin/env python3
"""Record the nass_pipeline output digests the benchmark checks against.

    python3 perfbench/record_digests.py 0 20

Runs one pipeline pass per seed in the given inclusive range, in one
Spark session, and writes ``expected_nass_pipeline.json``. Rerun it
only when a change is meant to alter the pipeline's outputs, and say
so in the change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402
from workloads import NassPipeline  # noqa: E402


def main(first: int, last: int) -> int:
    work = run.workspace(os.path.join(ROOT, ".bench_work"), "record")
    sess = run.Session(work, len(os.sched_getaffinity(0)))
    recorded = {}
    try:
        for seed in range(first, last + 1):
            wl = NassPipeline()
            wl.prepare(os.path.join(work, f"seed{seed}"), seed)
            wl.expect()
            wl.expected = None  # record, do not compare
            p = wl.run_pass(sess.spark, os.path.join(work, "out"))
            bad = wl.check(p)
            if bad:
                run.log(f"seed {seed}: {bad}")
                return 1
            recorded[f"seed={seed},counties={wl.counties}"] = wl.last
            run.log(f"seed {seed} recorded")
    finally:
        sess.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(NassPipeline.expected_file, "w") as fh:
        json.dump(recorded, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(int(sys.argv[1]), int(sys.argv[2])))
