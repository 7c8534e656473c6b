"""The benchmark's workloads.

Each workload makes its inputs from the seed (``prepare``), knows the
correct outputs or how to recognise them (``expect``), runs one pass
as a closed loop of operations (``run_pass``) and checks a pass's
outputs outside the timed window (``check``). An operation is one
user-visible action: a summary query collected to Arrow, or one
summary table exported.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import datagen
from attribution import span
from digest import table_digest

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Op:
    """One timed operation of a pass."""

    name: str
    action_start: float  # wall clock: the action was called
    end: float  # wall clock: the action returned
    latency: float  # seconds from the operation's first call to its result
    output: object = None
    error: str | None = None


@dataclass
class Pass:
    wall: float = 0.0
    ops: list[Op] = field(default_factory=list)
    spans: list[dict] = field(default_factory=list)
    outputs: dict[str, str] = field(default_factory=dict)


class SummaryQueries:
    """Ten short relational queries from the registry — the NASS-shaped
    A-block (rollup, class pivot, total-and-sum merge, irrigation split,
    multi-level fallback, crosstab, apportioning) plus a filtered
    aggregate, a window top-k and an as-of join — over seeded
    star-schema tables; every result is checked hash-exact against the
    query's DuckDB oracle."""

    name = "summary_queries"
    queries = (
        "pricing_summary harvest_rollup yield_by_class_pivot total_and_sum_merge "
        "irrigation_split multilevel_fallback crosstab_matrix swap_apportion "
        "window_topk asof_join"
    ).split()
    min_warm_passes = 4

    def __init__(self, sf: float = 0.01):
        self.sf = sf

    def prepare(self, work_dir: str, seed: int) -> None:
        self.dir = datagen.write_tables(os.path.join(work_dir, "tables"), seed, self.sf)
        self.input_files = [
            os.path.join(self.dir, f) for f in sorted(os.listdir(self.dir))
        ]
        self.warm_path = os.path.join(self.dir, "lineitem.parquet")

    def expect(self) -> None:
        """Oracle digests, computed by DuckDB over the same files."""
        import duckdb

        from nass_summary_spark.plans.queries import ORACLES

        con = duckdb.connect()
        try:
            for f in self.input_files:
                view = os.path.basename(f).split(".")[0]
                con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{f}')")
            self.expected = {
                q: table_digest(con.execute(ORACLES[q]).fetch_arrow_table())
                for q in self.queries
            }
        finally:
            con.close()

    def instrument(self, spans) -> None:
        """Nothing to wrap: the pass loop calls the constructors itself."""

    def run_pass(self, spark, out_dir: str, spans=None) -> Pass:
        from nass_summary_spark.plans.queries import QUERIES

        p = Pass()
        t_pass = time.perf_counter()
        for q in self.queries:
            t0, action = time.perf_counter(), time.time()
            try:
                with span(spans, "plans"):
                    df = QUERIES[q](spark, self.dir)
                action = time.time()
                out = df.toArrow()
                p.ops.append(Op(q, action, time.time(), time.perf_counter() - t0, out))
            except Exception as exc:  # noqa: BLE001 — one failing query is
                # counted, reported and the loop goes on
                p.ops.append(Op(q, action, time.time(), time.perf_counter() - t0,
                                error=repr(exc)[:300]))
        p.wall = time.perf_counter() - t_pass
        return p

    def check(self, p: Pass) -> list[str]:
        bad = []
        for op in p.ops:
            if op.error is not None:
                bad.append(f"{op.name}: {op.error}")
            elif table_digest(op.output) != self.expected[op.name]:
                bad.append(f"{op.name}: result differs from its oracle")
            op.output = None
        return bad


class NassPipeline:
    """The paper's job on a seeded Quick Stats bulk CSV: CSV ingest
    (trim + dedup), the harvest chain of ``plans.nass`` — location
    codes, irrigation split, the recursive leaf rollup of
    ``harvest_by_leaves`` (``tree_rollup_pg``) and the ``greatest``
    merge of ``harvest_total_and_sum`` — plus the crosswalk and rent
    views; every view of the chain is exported to parquet with
    ``sources.writers``, as the reference exports its views."""

    name = "nass_pipeline"
    min_warm_passes = 1
    expected_file = os.path.join(HERE, "expected_nass_pipeline.json")

    def __init__(self, counties: int = 2):
        self.counties = counties

    def prepare(self, work_dir: str, seed: int) -> None:
        self.seed = seed
        paths = datagen.write_quickstats(os.path.join(work_dir, "quickstats"), seed, self.counties)
        self.csv, self.region = paths["quickstats"], paths["usda_region"]
        self.input_files = [self.csv, self.region]
        self.warm_path = self.region

    def expect(self) -> None:
        """Digests recorded for this seed, if any; every pass must
        also reproduce the first pass's digests."""
        with open(self.expected_file) as fh:
            recorded = json.load(fh)
        key = f"seed={self.seed},counties={self.counties}"
        self.expected = recorded.get(key)
        self.first: dict[str, str] | None = None

    def instrument(self, spans) -> None:
        from nass_summary_spark.plans import nass
        from nass_summary_spark.sources import writers

        spans.wrap(nass, "tree_rollup_pg", "operators.rollup")
        spans.wrap(nass, "path_rollup", "operators.rollup")
        spans.wrap(nass, "total_and_sum_merge", "operators.merge")
        spans.wrap(writers, "write_parquet", "sources.write")

    def build(self, spark) -> dict:
        from nass_summary_spark.plans import nass
        from nass_summary_spark.sources import readers

        qs = nass.load_quickstats_csv(spark, self.csv)
        region = readers.read_parquet(spark, self.region)
        stats = nass.stats_location(qs)
        hloc = nass.harvest_location(stats)
        hli = nass.harvest_location_irrigated(hloc)
        hts = nass.harvest_total_and_sum(hli)
        return {
            "location": nass.location_table(region),
            "county_adc": nass.county_adc(region),
            "land_rent": nass.land_rent(qs),
            "stats_location": stats,
            "harvest_location": hloc,
            "harvest_location_irrigated": hli,
            "harvest_total_and_sum": hts,
            "commodity_harvest": nass.commodity_harvest(hts),
        }

    def run_pass(self, spark, out_dir: str, spans=None) -> Pass:
        from nass_summary_spark.sources import writers

        shutil.rmtree(out_dir, ignore_errors=True)
        p = Pass()
        t_pass = time.perf_counter()
        with span(spans, "plans"):
            outs = self.build(spark)
        for name, df in outs.items():
            path = os.path.join(out_dir, name)
            w0, t0 = time.time(), time.perf_counter()
            try:
                writers.write_parquet(df, path)
                p.ops.append(Op(name, w0, time.time(), time.perf_counter() - t0))
            except Exception as exc:  # noqa: BLE001 — counted and reported
                p.ops.append(Op(name, w0, time.time(), time.perf_counter() - t0,
                                error=repr(exc)[:300]))
            p.outputs[name] = path
        p.wall = time.perf_counter() - t_pass
        return p

    def check(self, p: Pass) -> list[str]:
        bad = [f"{op.name}: {op.error}" for op in p.ops if op.error is not None]
        if bad:
            return bad
        got = {}
        for name, path in p.outputs.items():
            table = pq.read_table(path)
            if table.num_rows == 0:
                bad.append(f"{name}: empty output")
            got[name] = table_digest(table)
        self.last = got
        if self.first is None:
            self.first = got
        for name, d in got.items():
            if d != self.first[name]:
                bad.append(f"{name}: digest differs from the first pass")
            if self.expected is not None and d != self.expected.get(name):
                bad.append(f"{name}: digest differs from the recorded one")
        return bad


WORKLOADS = {w.name: w for w in (NassPipeline, SummaryQueries)}
