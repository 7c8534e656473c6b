"""Persisted product-quantization index (SURVEY.md §2 B103) —
completing the index family's other half: B101 persisted the IVF
coarse quantizer, but B52/B60's PQ codebooks were still recomputed
per run. Here the codebooks are trained ONCE (``pq_train``'s
deterministic sample-then-Lloyd, the FAISS recipe) and persisted
with the encoded corpus, then every query batch ADC-probes the index
from disk.

Layout at ``index_path``:

* ``codebooks/`` — (subspace, code, pos, value): the m×ksub×dsub
  model, driver-small like the IVF centroids.
* ``params/`` — one row (dim, m, ksub): the geometry sidecar. Like
  dedup_index's params file it makes a mismatched probe (an index
  built under different PQ geometry) fail loudly instead of
  returning silently wrong distances.
* ``codes/`` — (id, code0..code{m-1}) parquet: 8 bytes/vector
  replaces 256 — THE relation a production pipeline rescans. At
  100 TB of raw vectors the codes table is ~3 TB; an ADC probe
  scans codes only and never touches raw vectors.
* ``fitness/`` — one row (mse, sample_n): the mean quantization
  error of the stored codebooks at BUILD time, measured on the
  training-rule sample. The drift reference: ``extend`` encodes with
  the stored codebooks forever, so as the corpus distribution moves
  the reconstruction error — and with it ADC recall — decays with
  no loud signal. :func:`pq_codebook_audit` re-measures against this
  row; :func:`retrain_pq_index` is the repair (re-train + validated
  re-encode + swap, the ``rebalance_ann_index`` pattern).

Evidence (tests/test_pq_index.py): a disk probe is row-identical to
the in-memory ``ann_topk_pq`` (both train on the same deterministic
sample, so the codebooks agree bit-for-bit); the extend cycle
encodes with the STORED codebooks; params mismatch raises; a
drifted corpus degrades the audit and ``retrain_pq_index`` restores
it with in-memory parity intact.

No reference counterpart (the reference is a SQL summary pipeline);
method from Jégou, Douze & Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011 — public literature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nass_summary_spark.operators import index_store as store
from nass_summary_spark.operators.pq import (
    _adc_rank,
    _ivfpq_encode,
    _ivfpq_rank,
    _ivfpq_train,
    pq_encode,
    pq_train,
)

#: fitness sample bound — decoupled from the (larger) train sample:
#: an MSE reference needs a few thousand vectors, and the fitness job
#: runs inside every build, so it must stay cheap (the first cut ran
#: the interpreted-HOF distance tables over the train-sized sample
#: and doubled the toy-scale build; Arrow + 4096 rows is ~100×
#: lighter and statistically identical)
FITNESS_SAMPLE = 4096


def build_pq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 4,
    sample_size: int = 65536,
) -> None:
    """Train codebooks on the deterministic sample and persist
    codebooks + params + the encoded corpus. Training cost is
    sample-bounded; ENCODING covers the full corpus (one Arrow map
    stage + the write)."""
    _build(
        store.id_vec(df, id_col, vec_col), index_path,
        {"dim": dim, "m": m, "ksub": ksub}, n_iter, sample_size,
    )


# The PQ family body below is shared with ivfpq_index: a model is
# ``(coarse, books, params)`` where ``coarse`` is the IVFADC coarse
# quantizer (None for plain PQ, whose params carry no ``k_cells``);
# ``vecs`` is the corpus as ``(id, vec)`` (``index_store.id_vec``).
_WHAT = {False: "pq_index", True: "ivfpq_index"}


def _build(
    vecs: DataFrame, index_path: str, params: dict, n_iter: int, sample_size: int
) -> None:
    if params["dim"] % params["m"]:
        raise ValueError("dim must be divisible by m")
    schema = ", ".join(f"{k} int" for k in params)
    sidecar = store.row_frame(vecs.sparkSession, schema, *params.values())
    tables, _mse = _generation(vecs, params, n_iter, sample_size)
    store.write_tables(index_path, {"params": sidecar, **tables})


def _generation(
    vecs: DataFrame, params: dict, n_iter: int, sample_size: int
) -> tuple[dict[str, DataFrame], float]:
    """Train a model under the geometry ``params`` (IVFADC when it
    has ``k_cells``) and return the tables it writes, in swap order
    (model, codes, fitness), with its fitness MSE."""
    spark = vecs.sparkSession
    train_kw = dict(
        m=params["m"], ksub=params["ksub"], n_iter=n_iter, sample_size=sample_size
    )
    tables = {}
    if "k_cells" in params:
        coarse, books = _ivfpq_train(
            vecs, "id", "vec", params["dim"], n_cells=params["k_cells"],
            **train_kw,
        )
        tables["centroids"] = store.model_frame(
            spark, store.CENTROID_KEYS, coarse
        )
    else:
        coarse = None
        books = pq_train(vecs, "id", "vec", params["dim"], **train_kw)
    mse = _quant_mse(vecs, books, coarse)
    tables["codebooks"] = store.model_frame(spark, store.CODEBOOK_KEYS, books)
    tables["codes"] = _encode(vecs, coarse, books)
    tables["fitness"] = store.fitness_frame(spark, mse, FITNESS_SAMPLE)
    return tables, mse


def _encode(vecs: DataFrame, coarse, books) -> DataFrame:
    if coarse is None:
        return pq_encode(vecs, "id", "vec", books)
    return _ivfpq_encode(vecs, "id", "vec", coarse, books)


def _quant_mse(vecs: DataFrame, books, coarse=None) -> float:
    """Mean quantization error of the model over the deterministic
    training-rule sample (``orderBy(xxhash64(id)).limit`` of
    ``FITNESS_SAMPLE`` rows) — per vector, the summed per-subspace
    distance to the NEAREST codeword, i.e.
    ||v − reconstruction(encode(v))||². With a ``coarse`` quantizer
    (IVFADC) each vector first has its nearest centroid subtracted,
    so the error is the RESIDUAL one. One Arrow-batched numpy pass
    (the encoders' matrix shapes — Spark HOFs run interpreted and
    measured ~100× slower here); one sample-bounded job, never the
    full corpus. Per-row errors have a fixed numpy reduction order,
    so build-time and audit-time calls on the same corpus return the
    identical double."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cbs = np.asarray(books, dtype="float64")
    cc = None if coarse is None else np.asarray(coarse, dtype="float64")
    dsub = cbs.shape[2]

    def _err(vs: pd.Series) -> pd.Series:
        x = np.vstack(vs.to_numpy()).astype("float64")
        if cc is not None:
            x = x - cc[((x[:, None, :] - cc[None]) ** 2).sum(axis=2).argmin(axis=1)]
        out = np.zeros(len(x))
        for s, cb in enumerate(cbs):
            sub = x[:, s * dsub : (s + 1) * dsub]
            out += ((sub[:, None, :] - cb[None]) ** 2).sum(axis=2).min(axis=1)
        return pd.Series(out)

    _err.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    udf = pandas_udf(_err, "double").asNondeterministic()
    sample = (
        vecs.select(F.col("vec").alias("__v"), F.xxhash64("id").alias("__h"))
        .orderBy("__h")
        .limit(FITNESS_SAMPLE)
    )
    row = (
        sample.select(udf(F.col("__v")).alias("__e"))
        .agg(F.avg("__e").alias("mse"))
        .collect()[0]
    )
    return float(row["mse"]) if row["mse"] is not None else 0.0


def pq_codebook_audit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
) -> dict:
    """Codebook-fitness drift audit — the PQ analog of
    ``cell_balance_audit``: re-measure the stored codebooks' mean
    quantization error on a deterministic sample of the CURRENT
    corpus ``df`` and compare against the build-time reference in the
    fitness sidecar. ``drift_ratio`` ≈ 1 means the codebooks still
    fit the distribution; a ratio well above 1 (drifted ingest) means
    ADC distances — and recall — have silently degraded and
    :func:`retrain_pq_index` is due. Needs the corpus because the
    index stores only 8-byte codes; cost is one sample-bounded job."""
    return _audit(store.id_vec(df, id_col, vec_col), index_path, ivf=False)


def _audit(vecs: DataFrame, index_path: str, ivf: bool) -> dict:
    spark = vecs.sparkSession
    coarse, books, _params = _load(spark, index_path, ivf)
    ref = store.read_fitness(spark, index_path, _WHAT[ivf])
    now = _quant_mse(vecs, books, coarse)
    return {
        "mse_now": now,
        "mse_build": ref["mse"],
        "drift_ratio": (now / ref["mse"]) if ref["mse"] > 0.0 else 1.0,
    }


def retrain_pq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    n_iter: int = 4,
    sample_size: int = 65536,
    keep_backup: bool = False,
) -> dict:
    """Re-train the codebooks on the CURRENT corpus and re-encode —
    the drift repair completing the maintenance pair
    (``compact_table`` restores file sizes; this restores codebook
    fitness). Same contract as ``rebalance_ann_index``: fresh model
    under the STORED geometry, re-encode into SIBLING directories,
    VALIDATE (re-read row count must equal the corpus count — a bad
    rewrite aborts with the live index untouched), swap via
    ``functions.fsio`` (works on hdfs://s3a:// paths), previous
    generation parked under ``__pre_retrain`` (``keep_backup``).
    Unlike the IVF rebalance this needs the raw corpus ``df`` — the
    codes table cannot be decoded back to vectors.

    Returns ``{"rows", "mse_before", "mse_after"}``."""
    return _retrain(
        store.id_vec(df, id_col, vec_col), index_path, n_iter, sample_size,
        keep_backup, ivf=False,
    )


def _retrain(
    vecs: DataFrame,
    index_path: str,
    n_iter: int,
    sample_size: int,
    keep_backup: bool,
    ivf: bool,
) -> dict:
    spark = vecs.sparkSession
    old_coarse, old_books, params = _load(spark, index_path, ivf)
    mse_before = _quant_mse(vecs, old_books, old_coarse)
    tables, mse_after = _generation(vecs, params, n_iter, sample_size)
    rows = vecs.count()
    store.validated_rebuild(
        spark, index_path, tables, rows, f"retrain_{_WHAT[ivf]}",
        "__retraining", "__pre_retrain", keep_backup,
    )
    return {"rows": rows, "mse_before": mse_before, "mse_after": mse_after}


def load_pq_codebooks(
    spark: SparkSession, index_path: str
) -> tuple[list[list[list[float]]], dict]:
    """Read the model back (model-sized collect): (codebooks,
    {"dim", "m", "ksub"})."""
    _coarse, books, params = _load(spark, index_path, ivf=False)
    return books, params


def _load(spark: SparkSession, index_path: str, ivf: bool) -> tuple:
    """``(coarse, books, params)``, each model table checked against
    the params sidecar's geometry."""
    params = store.read_row(spark, f"{index_path}/params")
    coarse = None
    if ivf:
        coarse = store.read_model(
            spark, f"{index_path}/centroids", store.CENTROID_KEYS,
            (params["k_cells"], params["dim"]), _WHAT[ivf],
        )
    books = store.read_model(
        spark, f"{index_path}/codebooks", store.CODEBOOK_KEYS,
        (params["m"], params["ksub"], params["dim"] // params["m"]),
        _WHAT[ivf],
    )
    return coarse, books, params


def extend_pq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
) -> None:
    """Append new vectors encoded with the STORED codebooks (codes
    must stay comparable to what queries ADC-score against). Like
    any appending sink, periodic compaction restores file sizes;
    under distribution drift the quantization error grows — re-train
    by rebuilding, the PQ analog of ``rebalance_ann_index``."""
    _extend(store.id_vec(df, id_col, vec_col), index_path, ivf=False)


def _extend(vecs: DataFrame, index_path: str, ivf: bool) -> None:
    coarse, books, _params = _load(vecs.sparkSession, index_path, ivf)
    codes = _encode(vecs, coarse, books)
    store.write_tables(index_path, {"codes": codes}, mode="append")


def pq_index_probe(
    spark: SparkSession,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    k: int = 5,
    collect_queries: bool | str = "auto",
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k of each query against the persisted codes — the
    disk twin of ``ann_topk_pq(rerank=0)``, scoring 8-byte codes via
    per-query lookup tables without ever reading raw vectors.
    Returns (query_id, neighbor_id, approx_dist2, rnk), identical
    ranking rules (dist asc, id asc).

    ``exclude_ids`` (single ``id`` column, batch-sized broadcast)
    removes stored codes from the candidate side BEFORE ranking —
    the same crash-replay contract as ``ann_index_probe``."""
    return _probe(
        spark, queries, id_col, vec_col, index_path, k, collect_queries,
        exclude_ids,
    )


def _probe(
    spark: SparkSession,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    k: int,
    collect_queries: bool | str,
    exclude_ids: DataFrame | None,
    nprobe: int | None = None,
) -> DataFrame:
    """ADC top-k over the stored codes; with ``nprobe`` (IVFADC) only
    the probed cells' codes are scored. The codes must hold exactly
    ``id``, ``code0..code{m-1}`` (and ``cell``) under the params
    sidecar's ``m``."""
    ivf = nprobe is not None
    coarse, books, params = _load(spark, index_path, ivf)
    columns = ["id"] + [f"code{s}" for s in range(params["m"])]
    codes = store.read_codes(
        spark, index_path, columns + (["cell"] if ivf else []),
        _WHAT[ivf], exclude_ids,
    )
    kw = dict(collect_queries=collect_queries, code_id_col="id")
    if ivf:
        ranked = _ivfpq_rank(
            spark, codes, queries, id_col, vec_col, coarse, books,
            nprobe=nprobe, **kw,
        )
    else:
        ranked = _adc_rank(
            spark, codes, queries, id_col, vec_col, books, params["dim"], **kw
        )
    return ranked.where(F.col("rnk") <= k)
