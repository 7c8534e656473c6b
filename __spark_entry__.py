"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual surface lives in ``nass_summary_spark.plans.queries``;
this module just adapts it to the driver contract.

Driver-window selection (r12)
-----------------------------
The external gate samples the FIRST 50 entries of ``queries()``.
The library registry (``plans/queries.py`` QUERIES) stays in natural
registration order and is never mutated; the gate-facing ordering is
the explicit list below, chosen so every query gets driver-grade
evidence across rounds:

* r1-r9 driver-verified 228 of the 256 queries registered through
  r9 (CORRECTNESS_r01-r09); r10 and r11 both sampled the r10 window
  (the 28 r9 debuts, then the first 22 r5-stale queries by name).
* ``_DRIVER_WINDOW_R12`` puts three groups first, in this order:
  the persisted-index queries whose operators moved onto the shared
  ``operators/index_store`` (``dedup_incremental_lsh``,
  ``stream_dedup`` and the three rows-only index probes); the r10
  rewrite radius (record linkage clusters, cluster eval, canonical
  entities, the quality-classifier train/eval family, classifier
  calibration, threshold selection, dedup components); and the six
  r5-stale queries (unattributed_clicks, weighted_sample,
  whiten_embeddings, winsorized_stats, woe_iv,
  yield_by_class_pivot). That is 20 explicit slots; the other 30 of
  the gate's 50 are the first registry entries not listed.
* Everything else follows in natural registration order, so
  ``tools/verify_oracle.py`` (which checks ALL entries →
  CORRECTNESS_LOCAL.md) sees the identical ordering and the two
  artifacts can be diffed row-for-row.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nass_summary_spark.plans.queries import ORACLES, QUERIES

# The explicit head of the gate-checked window (see the module
# docstring): index-store blast radius, r10 rewrite radius, r5-stale.
_DRIVER_WINDOW_R12: list[str] = [
    # -- persisted-index family (operators/index_store) ----------------
    "dedup_incremental_lsh", "stream_dedup", "ann_index_probe",
    "pq_index_probe", "ivfpq_index_probe",
    # -- r10 rewrite radius --------------------------------------------
    "record_linkage_clusters", "cluster_eval", "canonical_entities",
    "quality_classifier_train", "quality_classifier_train_scored",
    "quality_classifier_eval", "classifier_calibration",
    "threshold_select", "dedup_components",
    # -- newest driver row is r5 ----------------------------------------
    "unattributed_clicks", "weighted_sample", "whiten_embeddings",
    "winsorized_stats", "woe_iv", "yield_by_class_pivot",
]


def _ordered_names() -> list[str]:
    window = [n for n in _DRIVER_WINDOW_R12 if n in QUERIES]
    rest = [n for n in QUERIES if n not in _DRIVER_WINDOW_R12]
    return window + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing_summary) on /root/testdata/sf0.001."""
    return QUERIES["pricing_summary"](spark, "/root/testdata/sf0.001")


def _with_cache_hygiene(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Evict cached blocks left by PREVIOUS queries before building
    the next one. Several operators persist fixed-width
    intermediates that the returned DataFrame still references, so
    they can't unpersist themselves; a long single-session run (the
    driver gate executes 50 queries in one session) otherwise
    accumulates every persisted block and can OOM a default-sized
    (1g) driver heap — observed at query ~100 of the full-surface
    vanilla-session rehearsal. A query's own persists happen after
    this call and are unaffected. Applied only on this driver-facing
    adapter: library consumers (bench two-run timing, notebooks)
    keep normal cache-reuse semantics."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            spark.catalog.clearCache()
        except Exception:  # pragma: no cover — cache API unavailable
            pass
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: _with_cache_hygiene(QUERIES[n]) for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; keys absent here are
    rows-only checks (approximate / stateful-streaming operators)."""
    return {n: ORACLES[n] for n in _ordered_names() if n in ORACLES}
