"""MTX writer round-trips (S9/S10 compat sink + distributed parts sink)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.sources.mtx import (
    mtx_dims,
    read_mtx,
    write_mtx_parts,
    write_mtx_single,
)


def _toy(spark):
    return spark.createDataFrame(
        [(1, 1, 1.0), (1, 11, 1.0), (1, 1199, 2.0), (2, 3, 5.0), (10, 2, 4.0)],
        "term_id INT, doc_id INT, value DOUBLE",
    )


def test_single_file_roundtrip_numeric(spark, tmp_path):
    path = str(tmp_path / "m.mtx")
    nnz = write_mtx_single(_toy(spark), path, 10, 1199, int_values=True)
    assert nnz == 5
    assert mtx_dims(path).nnz == 5
    back = read_mtx(spark, path)
    assert {tuple(r) for r in back.collect()} == {
        tuple(r) for r in _toy(spark).collect()
    }


def test_single_file_string_sort_o1(spark, tmp_path):
    """O1 bug-compat: lexicographic line order — `1 1 1` < `1 11 1` <
    `1 1199 2` (ref sources/1.1/source/task1_1.java:142)."""
    path = str(tmp_path / "m.mtx")
    write_mtx_single(_toy(spark), path, 10, 1199, int_values=True, sort="string")
    with open(path, encoding="utf-8") as fh:
        lines = [l.rstrip("\n") for l in fh][2:]
    assert lines == sorted(lines)
    assert lines[:3] == ["1 1 1", "1 11 1", "1 1199 2"]


def test_dedup_s10(spark, tmp_path):
    dup = _toy(spark).union(_toy(spark).limit(2))
    path = str(tmp_path / "m.mtx")
    nnz = write_mtx_single(dup, path, 10, 1199, dedup=True)
    assert nnz == 5


def test_parts_writer_scale_path(spark, tmp_path):
    out = str(tmp_path / "parts")
    write_mtx_parts(_toy(spark), out, 10, 1199, int_values=False)
    with open(os.path.join(out, "_header"), encoding="utf-8") as fh:
        banner, dims = fh.read().splitlines()[:2]
    assert banner.startswith("%%MatrixMarket")
    assert dims == "10 1199 5"
    back = read_mtx(spark, out, header=False)
    assert back.count() == 5
    assert back.filter(F.col("value") == 5.0).count() == 1
