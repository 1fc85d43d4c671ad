"""The shared file-set layer (sources/fileset.py) on edge inputs, run
through the public format APIs where a format reaches the case and
directly where none does."""

from __future__ import annotations

import ast
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from thrive_spark.sources import fileset
from thrive_spark.sources.delta_lite import DeltaLiteTable, _file_sums
from thrive_spark.sources.fileset import (
    per_file_partials,
    positions,
    write_files,
)
from thrive_spark.sources.iceberg_lite import IcebergLiteTable

SOURCES = os.path.dirname(fileset.__file__)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_zero_row_output_is_never_committed(spark, tmp_path):
    empty = spark.createDataFrame([], "k bigint, p double")
    root = str(tmp_path / "w")
    assert write_files(empty, root) == []
    assert not [f for f in os.listdir(root) if f.endswith(".parquet")]

    delta = DeltaLiteTable(spark, str(tmp_path / "d"))
    delta.create(empty)
    assert delta.state()["adds"] == []
    assert delta.snapshot().count() == 0

    ice = IcebergLiteTable(spark, str(tmp_path / "i"))
    ice.create(empty)
    assert ice.plan_files()[0] == []
    assert ice.snapshot().count() == 0


def test_table_root_behind_symlink(spark, tmp_path):
    (tmp_path / "real").mkdir()
    (tmp_path / "link").symlink_to(tmp_path / "real")
    root = str(tmp_path / "link" / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(8)], "k bigint, p double"
    )
    tbl = DeltaLiteTable(spark, root)
    tbl.create(df.repartition(2))
    adds = [a["path"] for a in tbl.state()["adds"]]
    sums = _file_sums(spark, root, adds, df.schema, F.col("k"))
    assert set(sums) == set(adds)
    assert sum(n for n, _ in sums.values()) == 8
    assert sum(s for _, s in sums.values()) == sum(range(8))

    assert tbl.remove_where_file_contains("k = 3") == 1
    assert _rows(tbl.snapshot()) == [
        (i, float(i)) for i in range(8) if i != 3
    ]


def test_file_sums_zero_row_file_and_named_miss(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], "k bigint, p double")
    data = [e.relpath for e in write_files(df.coalesce(1), root)]
    pq.write_table(
        pa.table({"k": pa.array([], pa.int64()),
                  "p": pa.array([], pa.float64())}),
        os.path.join(root, "empty.parquet"),
    )
    sums = _file_sums(
        spark, root, data + ["empty.parquet"], df.schema, F.col("k")
    )
    assert sums == {data[0]: (2, 3), "empty.parquet": (0, 0)}

    # a file whose real path leaves the root cannot be attributed
    outside = str(tmp_path / "outside")
    moved = write_files(df.coalesce(1), outside)[0].relpath
    os.symlink(
        os.path.join(outside, moved), os.path.join(root, "linked.parquet")
    )
    with pytest.raises(ValueError, match="linked.parquet"):
        _file_sums(spark, root, ["linked.parquet"], df.schema, F.col("k"))


def test_partition_values_none_empty_int_bool(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None, 7, True), (2, "", 7, False), (3, "x", 8, True)],
        "k bigint, s string, i bigint, b boolean",
    )
    entries = write_files(df, str(tmp_path / "w"), ["s", "i", "b"])
    # hive directories cannot tell NULL from "": both read back as None
    assert sorted(
        (e.partition["s"] or "", e.partition["i"], e.partition["b"])
        for e in entries
    ) == [("", "7", "false"), ("", "7", "true"), ("x", "8", "true")]
    assert sum(e.num_rows for e in entries) == 3

    # Delta keeps partition values as strings; booleans round-trip
    delta = DeltaLiteTable(spark, str(tmp_path / "d"))
    delta.create(df.select("k", "b"), partition_columns=["b"])
    assert {
        a["partitionValues"]["b"] for a in delta.state()["adds"]
    } == {"false", "true"}
    assert _rows(delta.snapshot()) == [(1, True), (2, False), (3, True)]

    # Iceberg keeps typed values: NULL and "" stay apart, ints are ints
    ice = IcebergLiteTable(spark, str(tmp_path / "i"))
    ice.create(df.select("k", "s", "i"), partition_columns=["s", "i"])
    assert {
        (f["partition"]["s"], f["partition"]["i"])
        for f in ice.plan_files()[0]
    } == {(None, 7), ("", 7), ("x", 8)}
    assert _rows(ice.snapshot().fillna("<null>", ["s"])) == [
        (1, "<null>", 7), (2, "", 7), (3, "x", 8),
    ]


def test_iceberg_transformed_partition_values(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k bigint, p double"
    )
    ice = IcebergLiteTable(spark, str(tmp_path / "i"))
    ice.create(df, partition_spec=[("k", "bucket[4]")])
    buckets = [f["partition"]["k_bucket"] for f in ice.plan_files()[0]]
    assert buckets and all(type(b) is int and 0 <= b < 4 for b in buckets)
    assert _rows(ice.snapshot()) == [(i, float(i)) for i in range(20)]


def test_iceberg_never_bounds_string_columns(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"s{i}", float(i)) for i in range(10)],
        "k bigint, s string, p double",
    )
    ice = IcebergLiteTable(spark, str(tmp_path / "i"))
    ice.create(df.coalesce(1))
    ids = {f["name"]: f["id"] for f in ice.metadata()["schema"]["fields"]}
    (f,) = ice.plan_files()[0]
    assert {b["key"] for b in f["lower_bounds"]} == {ids["k"], ids["p"]}
    assert {b["key"] for b in f["upper_bounds"]} == {ids["k"], ids["p"]}


def test_position_delete_on_last_row_of_file(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k bigint, p double"
    ).coalesce(1).sortWithinPartitions("k")
    ice = IcebergLiteTable(spark, str(tmp_path / "i"))
    ice.create(df)
    _sid, n = ice.delete_rows_positional("k = 9")
    assert n == 1
    (d,) = ice._plan()[1]
    assert pq.read_table(
        os.path.join(ice.root, d["file_path"])
    )["pos"].to_pylist() == [9]
    assert _rows(ice.snapshot()) == [(i, float(i)) for i in range(9)]

    delta = DeltaLiteTable(spark, str(tmp_path / "d"))
    delta.create(df)
    assert delta.delete_rows_dv("k = 9") == (1, 1)
    assert _rows(delta.snapshot()) == [(i, float(i)) for i in range(9)]


def test_per_file_partials_counts_every_file(spark, tmp_path):
    root = str(tmp_path / "w")
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "k bigint, g bigint"
    )
    entries = write_files(df, root, ["g"])
    parts = per_file_partials(
        positions(spark.read.parquet(
            *[os.path.join(root, e.relpath) for e in entries]
        )),
        root,
        F.sum("k").alias("s"),
    )
    assert {p: r["n"] for p, r in parts.items()} == {
        e.relpath: e.num_rows for e in entries
    }
    assert sum(r["s"] for r in parts.values()) == sum(range(30))


@pytest.mark.parametrize(
    "module", ["delta_lite.py", "iceberg_lite.py", "hudi_lite.py", "acid.py"]
)
def test_formats_reach_files_only_through_fileset(module):
    """Regrowth guard: the format modules keep only their own metadata.
    Writing parquet through Spark's DataFrameWriter (``.write``, hence
    ``.parquet``/``.partitionBy``), walking directories and opening
    parquet footers all go through sources/fileset.py. pyarrow's
    ``pq.write_table`` stays allowed: Hudi's base and metadata-table
    files and Delta's checkpoint are single files the format lays out
    itself, with no directory to walk and no job to run."""
    with open(os.path.join(SOURCES, module)) as fh:
        tree = ast.parse(fh.read())
    called = {
        id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)
    }
    found = []
    for n in ast.walk(tree):
        if not isinstance(n, ast.Attribute):
            continue
        if n.attr == "write" and id(n) not in called:
            found.append(f"line {n.lineno}: DataFrameWriter (.write)")
        elif n.attr == "walk" and getattr(n.value, "id", None) == "os":
            found.append(f"line {n.lineno}: os.walk")
        elif n.attr == "ParquetFile":
            found.append(f"line {n.lineno}: ParquetFile")
    assert not found, f"{module} bypasses fileset.py: {found}"
