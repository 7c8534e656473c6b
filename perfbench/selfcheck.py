#!/usr/bin/env python3
"""Fast self-check of the benchmark itself.

    python3 perfbench/selfcheck.py

Run from the root of a source checkout; about three minutes on four
cores. It checks that

1. ``BENCHMARK.json`` names exactly the metrics ``run.py`` emits, with
   the same units, and exactly the workloads it knows;
2. the output checks reject perturbed outputs: a summary query result
   with one value changed fails its oracle digest, and a pipeline
   export whose rows change between passes, or that comes out empty,
   fails its check;
3. each workload runs end to end at a tiny scale (sf0.001 tables, one
   county per state), untraced and traced, correct, with every named
   metric present as a finite number with its unit.

Prints ``selfcheck ok`` and exits 0, or lists the problems and exits 1.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402
from workloads import WORKLOADS, NassPipeline, Op, Pass, SummaryQueries  # noqa: E402


def check_manifest(problems: list[str]) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for key, units in (("end_to_end", run.UNITS), ("per_layer", run.LAYER_UNITS)):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        if declared != units:
            problems.append(f"BENCHMARK.json {key} {declared} != run.py {units}")
    names = {w["name"] for w in bench["workloads"]}
    if names != set(WORKLOADS):
        problems.append(f"BENCHMARK.json workloads {sorted(names)} != {sorted(WORKLOADS)}")


def perturbed(table: pa.Table) -> pa.Table:
    """``table`` with the first numeric cell of its first row changed."""
    for i, field in enumerate(table.schema):
        if pa.types.is_floating(field.type) or pa.types.is_integer(field.type):
            col = table.column(i).combine_chunks()
            first = col[0].as_py()
            values = [(first or 0) + 1] + col.to_pylist()[1:]
            return table.set_column(i, field, pa.array(values, field.type))
    raise ValueError("no numeric column to perturb")


def check_checkers(work: str, problems: list[str]) -> None:
    # summary: the oracle's own result passes, a perturbed one fails
    wl = SummaryQueries(sf=0.001)
    wl.prepare(work, seed=1)
    wl.expect()
    import duckdb

    from nass_summary_spark.plans.queries import ORACLES

    con = duckdb.connect()
    for f in wl.input_files:
        con.execute(f"CREATE VIEW {os.path.basename(f).split('.')[0]} "
                    f"AS SELECT * FROM read_parquet('{f}')")
    q = "pricing_summary"
    good = con.execute(ORACLES[q]).fetch_arrow_table()
    con.close()
    p = Pass(ops=[Op(q, 0.0, 0.0, 0.0, good)])
    if wl.check(p):
        problems.append("summary check rejects the oracle's own result")
    p = Pass(ops=[Op(q, 0.0, 0.0, 0.0, perturbed(good))])
    if not wl.check(p):
        problems.append("summary check accepts a perturbed result")

    # pipeline: a pass that reproduces the first passes; changed or
    # empty exports fail
    nl = NassPipeline(counties=1)
    nl.seed = 1
    nl.expect()
    table = pa.table({"location": ["06001", "06003"], "total_acres": [10.0, 20.0]})
    for label, t in (("first", table), ("same", table), ("changed", perturbed(table)),
                     ("empty", table.slice(0, 0))):
        path = os.path.join(work, "exports", label)
        os.makedirs(path, exist_ok=True)
        pq.write_table(t, os.path.join(path, "part-0.parquet"))
        bad = nl.check(Pass(outputs={"commodity_harvest": path}))
        if (label in ("first", "same")) == bool(bad):
            problems.append(f"pipeline check on the {label} export returned {bad}")


def check_runs(parent: str, problems: list[str]) -> None:
    tiny = {"nass_pipeline": lambda: NassPipeline(counties=1),
            "summary_queries": lambda: SummaryQueries(sf=0.001)}
    for name, make in tiny.items():
        for trace in (0, 1):
            args = argparse.Namespace(workload=name, seed=3, seconds=0.0, trace=trace)
            work = run.workspace(parent, f"{name}-trace{trace}")
            try:
                result = run.run(args, work, make())
            finally:
                shutil.rmtree(work, ignore_errors=True)
            units = run.LAYER_UNITS if trace else run.UNITS
            if not result["correct"] or result["failed"]:
                problems.append(f"{name} trace={trace}: not correct: {result}")
            if set(result["metrics"]) != set(units):
                problems.append(f"{name} trace={trace}: metrics {sorted(result['metrics'])}")
            for k, m in result["metrics"].items():
                if m["unit"] != units.get(k) or not math.isfinite(m["value"]):
                    problems.append(f"{name} trace={trace}: {k} = {m}")
            run.log(f"selfcheck {name} trace={trace}: {len(result['metrics'])} metrics")


def main() -> int:
    problems: list[str] = []
    check_manifest(problems)
    parent = os.path.join(ROOT, ".bench_work", "selfcheck")
    work = run.workspace(parent, "checks")
    try:
        check_checkers(work, problems)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    check_runs(parent, problems)
    for p in problems:
        print(f"selfcheck FAILED: {p}")
    if not problems:
        print("selfcheck ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
