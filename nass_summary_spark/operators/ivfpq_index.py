"""Persisted IVFADC index (SURVEY.md §2 B105) — the two certified
index halves composed into the full FAISS architecture (Jégou, Douze
& Schmid, TPAMI 2011 §IV): the coarse quantizer prunes WHICH vectors
are scanned (B101's cell-partitioned storage layout; the probe
pushes the probed cell set as a static partition filter — see
``ivfpq_index_probe``), PQ compresses WHAT is read per vector
(B103's 8-byte codes). A probe therefore reads nprobe/k_cells of the corpus
FILES and 8 bytes per vector inside them — at 100 TB of raw vectors
that is ~3 TB of codes total, of which one probe touches a few
percent.

Layout at ``index_path``:

* ``centroids/`` — (cell, pos, value): the coarse quantizer.
* ``codebooks/`` — (subspace, code, pos, value): the residual PQ
  model (codebooks are trained on x − centroid[cell], so they are
  NOT interchangeable with B103's plain-PQ codebooks).
* ``params/`` — one row (dim, m, ksub, k_cells): the geometry
  sidecar; a probe against an index built under different geometry
  fails loudly instead of scoring with misaligned tables.
* ``codes/`` — (id, code0..code{m-1}) parquet PARTITIONED BY cell:
  the inverted file realized as storage layout.

Training follows :func:`~nass_summary_spark.operators.pq.
_ivfpq_train` — the SAME deterministic sample + driver-side Lloyd the
in-memory ``ann_topk_ivfpq`` uses — so a disk probe is row-identical
to the in-memory operator given the same corpus and nprobe
(pytest-pinned in tests/test_ivfpq_index.py, together with the
extend/geometry-guard contracts). Like the IVF index, drift
maintenance is re-train + re-encode: extend assigns and encodes with
the STORED model so codes stay comparable, a ``fitness/`` sidecar
records the build-time residual quantization error,
:func:`ivfpq_codebook_audit` re-measures it on the current corpus,
and :func:`retrain_ivfpq_index` repairs drift with the
``rebalance_ann_index`` validated-swap contract.

No reference counterpart (the reference is a SQL summary pipeline);
method from public literature (Jégou TPAMI'11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nass_summary_spark.operators import index_store as store
from nass_summary_spark.operators.pq_index import (
    FITNESS_SAMPLE,  # re-exported: the family's one fitness sample bound
    _audit,
    _build,
    _extend,
    _load,
    _probe,
    _retrain,
)


def build_ivfpq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    dim: int,
    k_cells: int = 8,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 4,
    sample_size: int = 65536,
) -> None:
    """Train coarse quantizer + residual codebooks on the
    deterministic sample, then persist the model and the encoded
    corpus (cell-partitioned). Training is sample-bounded; ENCODING
    covers the full corpus (one Arrow map stage + the partitioned
    write)."""
    _build(
        store.id_vec(df, id_col, vec_col), index_path,
        {"dim": dim, "m": m, "ksub": ksub, "k_cells": k_cells},
        n_iter, sample_size,
    )


def ivfpq_codebook_audit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
) -> dict:
    """Model-fitness drift audit for the persisted IVFADC index:
    re-measure the stored coarse-quantizer + residual-codebook mean
    quantization error on a deterministic sample of the CURRENT
    corpus and compare against the build-time fitness sidecar.
    ``drift_ratio`` well above 1 means the residual codebooks no
    longer fit the ingest distribution (silent ADC recall decay) —
    :func:`retrain_ivfpq_index` is due. Needs the raw corpus; cost
    is one sample-bounded job."""
    return _audit(store.id_vec(df, id_col, vec_col), index_path, ivf=True)


def retrain_ivfpq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    n_iter: int = 4,
    sample_size: int = 65536,
    keep_backup: bool = False,
) -> dict:
    """Re-train the full IVFADC model (coarse quantizer AND residual
    codebooks) on the CURRENT corpus and re-encode — the drift repair
    for this index, combining what ``rebalance_ann_index`` does for
    cells with what ``retrain_pq_index`` does for codebooks. Fresh
    model under the STORED geometry, re-encode into SIBLING
    directories, VALIDATE row count, swap centroids → codebooks →
    codes → fitness via ``functions.fsio`` (previous generation
    parked under ``__pre_retrain``). Needs the raw corpus ``df`` —
    codes cannot be decoded back to vectors.

    Returns ``{"rows", "mse_before", "mse_after"}``."""
    return _retrain(
        store.id_vec(df, id_col, vec_col), index_path, n_iter, sample_size,
        keep_backup, ivf=True,
    )


def load_ivfpq_model(
    spark: SparkSession, index_path: str
) -> tuple[list[list[float]], list[list[list[float]]], dict]:
    """Read the model back (model-sized collects): ``(coarse_l,
    books_l, params)``. Fails loudly when the stored relations'
    geometry disagrees with the params sidecar — a mixed-generation
    index would otherwise score with misaligned tables."""
    return _load(spark, index_path, ivf=True)


def extend_ivfpq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
) -> None:
    """Append new vectors, assigned and residual-encoded with the
    STORED model (codes must stay comparable to what queries
    ADC-score against). Under drift, re-train by rebuilding — the
    IVF rebalance analog."""
    _extend(store.id_vec(df, id_col, vec_col), index_path, ivf=True)


def ivfpq_index_probe(
    spark: SparkSession,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    k: int = 5,
    nprobe: int = 3,
    collect_queries: bool | str = "auto",
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """IVFADC top-k of each query against the persisted index: the
    (query, cell) probe list equi-joins the codes table on its
    PARTITION column, and only probed cells' files are read — on the
    default collect path the probed cell set is pushed as a STATIC
    ``cell IN (...)`` PartitionFilter at planning time (plan-asserted;
    runtime DPP would skip a filterless local build side), while the
    distributed path (``collect_queries=False``) leaves pruning to
    DPP against the filtered query relation. ADC lookup tables score
    the 8-byte codes. Row-identical to ``ann_topk_ivfpq(rerank=0)``
    trained on the same corpus. Returns (query_id, neighbor_id,
    approx_dist2, rnk).

    ``exclude_ids`` (single ``id`` column, batch-sized broadcast)
    removes stored codes BEFORE ranking — the crash-replay contract
    of the index family."""
    return _probe(
        spark, queries, id_col, vec_col, index_path, k, collect_queries,
        exclude_ids, nprobe=nprobe,
    )
