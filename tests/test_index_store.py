"""Shared on-disk format of the persisted index family
(operators/index_store): model tables round-trip exactly and refuse
a wrong shape, the codes column check, and the validated rebuild's
abort path (the staged generation is deleted, the live one kept)."""

from __future__ import annotations

import os

import pytest

from nass_summary_spark.operators import index_store as store


def test_model_round_trip_and_shape_check(spark, tmp_path):
    books = [[[0.1 * s + c + p / 3 for p in range(2)] for c in range(3)]
             for s in range(2)]
    path = str(tmp_path / "codebooks")
    store.write_tables(
        str(tmp_path),
        {"codebooks": store.model_frame(spark, store.CODEBOOK_KEYS, books)},
    )
    got = store.read_model(spark, path, store.CODEBOOK_KEYS, (2, 3, 2), "t")
    assert got == books
    inferred = store.read_model(
        spark, path, store.CODEBOOK_KEYS, (None, None, None), "t"
    )
    assert inferred == books
    # same entry count under another geometry: out-of-range coordinates
    with pytest.raises(ValueError, match="geometry mismatch"):
        store.read_model(spark, path, store.CODEBOOK_KEYS, (1, 6, 2), "t")


def test_read_codes_checks_columns(spark, tmp_path):
    idx = str(tmp_path)
    store.write_tables(
        idx, {"codes": spark.range(4).selectExpr("id", "1 AS code0")}
    )
    assert store.read_codes(spark, idx, ["id", "code0"]).count() == 4
    with pytest.raises(ValueError, match="geometry mismatch"):
        store.read_codes(spark, idx, ["id", "code0", "code1"])


def test_validated_rebuild_aborts_and_keeps_live_index(spark, tmp_path):
    idx = str(tmp_path)
    model = store.model_frame(spark, store.CENTROID_KEYS, [[1.0, 2.0]])
    live = {"codes": spark.range(5).selectExpr("id", "0 AS cell"),
            "centroids": model}
    store.write_tables(idx, live)
    new = {"codes": spark.range(3).selectExpr("id", "0 AS cell"),
           "centroids": store.model_frame(spark, store.CENTROID_KEYS,
                                          [[3.0, 4.0]])}
    with pytest.raises(RuntimeError, match="validation failed"):
        store.validated_rebuild(
            spark, idx, new, 5, "t", "__staged", "__old", False
        )
    assert set(os.listdir(idx)) == {"codes", "centroids"}
    assert spark.read.parquet(f"{idx}/codes").count() == 5
    store.validated_rebuild(spark, idx, new, 3, "t", "__staged", "__old", True)
    assert set(os.listdir(idx)) == {
        "codes", "centroids", "codes__old", "centroids__old"
    }
    assert spark.read.parquet(f"{idx}/codes").count() == 3
    assert store.read_model(
        spark, f"{idx}/centroids", store.CENTROID_KEYS, (1, 2), "t"
    ) == [[3.0, 4.0]]
