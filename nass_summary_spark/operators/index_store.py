"""On-disk format shared by the persisted indexes (IVF ``ann_index``,
PQ ``pq_index``, IVFADC ``ivfpq_index``, MinHash ``dedup_index``).

An index is a directory of parquet tables: model tables (nested
float arrays flattened to ``(key..., pos, value)`` rows), one-row
sidecars (``params/`` geometry or hash parameters, ``fitness/``
build-time quantization error) and the corpus-sized ``codes/``,
stored partitioned by ``cell`` when it has one (the inverted file as
storage layout: a probe's partition filter reads only probed cells).
Small tables are written as one file, built JVM-side
(``local_struct_df``). Maintenance swaps go through Hadoop's
FileSystem API (``functions.fsio``), so an ``hdfs://``/``s3a://``
index is maintained the same way it is built.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nass_summary_spark.functions.fsio import remove_dir, swap_in
from nass_summary_spark.functions.smalldf import local_struct_df

CODES = "codes"
CENTROID_KEYS = ("cell", "pos")
CODEBOOK_KEYS = ("subspace", "code", "pos")


def id_vec(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The corpus as the ``(id, vec)`` relation every index encodes."""
    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))


def model_frame(spark: SparkSession, keys: Sequence[str], values) -> DataFrame:
    """Nested float lists (one level per key) as ``(key..., value)``."""
    arr = np.asarray(values, dtype="float64")
    schema = ", ".join([f"{k} int" for k in keys] + ["value double"])
    rows = [(*map(int, ix), float(arr[ix])) for ix in np.ndindex(arr.shape)]
    return local_struct_df(spark, schema, rows)


def read_model(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    shape: Sequence[int | None],
    what: str,
) -> list:
    """A model table back as nested lists. ``shape`` is the expected
    extent per key (``None``: max + 1 in the table). Raises "geometry
    mismatch" unless every coordinate is present exactly once — a
    truncated or mixed-generation table must not score."""
    rows = spark.read.parquet(path).collect()
    shape = tuple(
        n if n is not None else max((r[k] for r in rows), default=-1) + 1
        for k, n in zip(keys, shape)
    )
    coords = {tuple(r[k] for k in keys) for r in rows}
    if (
        len(rows) != int(np.prod(shape))
        or len(coords) != len(rows)
        or any(not 0 <= c < n for ix in coords for c, n in zip(ix, shape))
    ):
        raise ValueError(
            f"{what} geometry mismatch at {path}: expected a "
            f"{'×'.join(map(str, shape))} ({', '.join(keys)}) grid but "
            f"the table has {len(rows)} entries — the index mixes "
            "generations; rebuild it"
        )
    out = np.zeros(shape)
    for r in rows:
        out[tuple(r[k] for k in keys)] = r["value"]
    return out.tolist()


def row_frame(spark: SparkSession, schema: str, *values) -> DataFrame:
    return local_struct_df(spark, schema, [tuple(values)])


def read_row(spark: SparkSession, path: str) -> dict:
    return spark.read.parquet(path).collect()[0].asDict()


def fitness_frame(spark: SparkSession, mse: float, sample_n: int) -> DataFrame:
    return row_frame(
        spark, "mse double, sample_n bigint", float(mse), int(sample_n)
    )


def read_fitness(spark: SparkSession, index_path: str, what: str) -> dict:
    try:
        return read_row(spark, f"{index_path}/fitness")
    except Exception as exc:
        raise ValueError(
            f"{what} at {index_path} has no fitness sidecar (built "
            f"before drift auditing existed) — retrain_{what} or "
            "rebuild to establish the reference"
        ) from exc


def write_tables(
    index_path: str,
    tables: dict[str, DataFrame],
    suffix: str = "",
    mode: str = "overwrite",
) -> None:
    """Write each table to ``{index_path}/{name}{suffix}`` in order."""
    for name, df in tables.items():
        if name != CODES:
            df = df.coalesce(1)
        writer = df.write.mode(mode)
        if name == CODES and "cell" in df.columns:
            writer = writer.partitionBy("cell")
        writer.parquet(f"{index_path}/{name}{suffix}")


def read_codes(
    spark: SparkSession,
    index_path: str,
    columns: Sequence[str] | None = None,
    what: str = "index",
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """The stored codes, required to hold exactly ``columns`` when
    given, minus the ``exclude_ids`` (single ``id`` column,
    batch-sized broadcast) — removed before any ranking, the
    crash-replay contract of the index family."""
    codes = spark.read.parquet(f"{index_path}/{CODES}")
    if columns is not None and set(codes.columns) != set(columns):
        raise ValueError(
            f"{what} geometry mismatch at {index_path}: expected codes "
            f"columns {sorted(columns)} but the table has "
            f"{sorted(codes.columns)} — the index mixes generations; "
            "rebuild it"
        )
    if exclude_ids is not None:
        codes = codes.join(
            F.broadcast(exclude_ids.select("id")), "id", "left_anti"
        )
    return codes


def validated_rebuild(
    spark: SparkSession,
    index_path: str,
    tables: dict[str, DataFrame],
    expected_rows: int,
    what: str,
    stage_suffix: str,
    backup_suffix: str,
    keep_backup: bool,
) -> None:
    """Write ``tables`` beside the live ones (``stage_suffix``),
    require ``expected_rows`` staged codes — else delete the staged
    tables and leave the live index untouched — then swap each in,
    in order, parking the old one under ``backup_suffix``."""
    write_tables(index_path, tables, suffix=stage_suffix)
    staged = {name: f"{index_path}/{name}{stage_suffix}" for name in tables}
    rewritten = spark.read.parquet(staged[CODES]).count()
    if rewritten != expected_rows:
        for path in staged.values():
            remove_dir(spark, path)
        raise RuntimeError(
            f"{what} validation failed for {index_path}: re-encoded "
            f"{rewritten} rows, expected {expected_rows}; live index "
            "left untouched"
        )
    for name, path in staged.items():
        swap_in(spark, f"{index_path}/{name}", path, backup_suffix, keep_backup)
