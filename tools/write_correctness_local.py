#!/usr/bin/env python
"""Rewrite CORRECTNESS_LOCAL.md from two verify_oracle logs (tuned +
hostile). Usage:

    python tools/write_correctness_local.py TUNED_LOG HOSTILE_LOG
"""

from __future__ import annotations

import re
import sys

HEADER = """# CORRECTNESS_LOCAL — full-surface Spark-vs-DuckDB parity (sf0.01)

Every `queries()` entry run on Spark and compared against its
`oracle_sql()` on DuckDB: row count, column names, dtype kinds, and
exact values (order-insensitive). Rows-only = declared approximate /
stateful / non-SQL-expressible operators (verified against exact
counterparts or properties in tests/). Generated by
tools/verify_oracle.py in the DRIVER-FACING order
(`__spark_entry__._DRIVER_WINDOW_R12` first, then natural
registration order), so the first 50 rows here are exactly the
driver gate's r10 window (the 28 r9 debuts + the first 22 of the
r5-stale cohort) and this artifact diffs row-for-row against
CORRECTNESS_r10.json. The 16 r10 widening queries register PAST the
window — html_extract, equidepth_sketch, domain_gate, bpe_encode,
kendall_tau, category_profile, kaplan_meier, kcore_members,
sentence_stats, sprt_monitor, mad_sketch, gini_coefficient,
psi_drift, vocab_coverage, tail_index, join_size_estimate (every
one carrying a FULL oracle); their gate evidence is this artifact +
pytest until the r11 rotation.

Two passes over the IDENTICAL query list:

* **tuned** — the library's own session (`session.py`: UTC,
  AQE+Arrow tuning, 32 shuffle partitions).
* **hostile** — a driver-like vanilla session (local[8], non-UTC
  America/New_York timezone, engine-default shuffle/AQE/Arrow
  settings, default 1g heap). Identical values here demonstrate
  timezone- and config-independence.

| # | query | tuned | hostile |
|---|-------|-------|---------|
"""


def parse(path: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for line in open(path, errors="replace"):
        line = line.strip().split("\r")[-1]
        m = re.match(r"(PASS|FAIL) (\S+): (\S+)", line)
        if m:
            status, name, kind = m.groups()
            out[name] = (
                "ok (values exact)" if kind == "OK"
                else "ok (rows-only)" if kind == "rows-only"
                else f"FAIL {kind}"
            )
    return out


def main() -> None:
    tuned = parse(sys.argv[1])
    hostile = parse(sys.argv[2])
    names = list(tuned)
    rows = [
        f"| {i + 1} | {n} | {tuned[n]} | {hostile.get(n, 'MISSING')} |"
        for i, n in enumerate(names)
    ]
    n_bad = sum(
        1 for n in names
        if "FAIL" in tuned[n] or "FAIL" in hostile.get(n, "FAIL")
    )
    footer = (
        f"\n**{len(names)} queries: "
        f"{len(names) - n_bad} green in BOTH sessions, {n_bad} failing.**\n"
    )
    with open("CORRECTNESS_LOCAL.md", "w") as fh:
        fh.write(HEADER + "\n".join(rows) + footer)
    print(f"wrote {len(names)} rows, {n_bad} failing")


if __name__ == "__main__":
    main()
