"""Pipeline runner: incremental JSON→partitioned-parquet load with
ledger semantics, idempotent re-run, and rollback (SURVEY §3.2.3)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from thrive_spark.sources.pipeline import Pipeline
from thrive_spark.tables import Tables


def _write_json_dir(spark, sf_dir, path, lo_day, hi_day):
    """One input dir per date range — the reference's model: ingestion
    directories are time buckets, so load units align 1:1 with target
    partitions (required for idempotent partition overwrite)."""
    ev = Tables(spark, sf_dir).events
    (
        ev.filter(
            (F.col("ts") >= F.lit(f"2024-01-{lo_day:02d}").cast("timestamp"))
            & (F.col("ts") < F.lit(f"2024-01-{hi_day:02d}").cast("timestamp"))
        )
        .select("event_id", "user_id", "event_type", "value", "props",
                F.col("ts").cast("string").alias("ts"))
        .coalesce(1)
        .write.mode("overwrite")
        .json(path)
    )


def make_spec(root, out):
    return {
        "name": "events_load",
        "source": {
            "path": f"{root}/in",
            "format": "json",
            "schema": "event_id LONG, user_id LONG, event_type STRING, "
                      "value DOUBLE, props STRING, ts STRING",
        },
        "transforms": [
            {"op": "parse_json", "col": "props", "schema": "k BIGINT", "prefix": "p_"},
            {"op": "cast", "col": "ts", "type": "timestamp"},
            {"op": "derive", "name": "dt", "expr": "CAST(ts AS DATE)"},
            {"op": "filter", "expr": "event_type IS NOT NULL"},
            {"op": "select",
             "cols": ["event_id", "user_id", "event_type", "value", "p_k", "ts", "dt"]},
        ],
        "sink": {"kind": "parquet", "path": out, "partition_by": ["dt"],
                 "mode": "overwrite_partitions"},
        "ledger": f"{root}/_ledger",
    }


def test_pipeline_incremental_and_rollback(spark, sf_dir, tmp_path):
    root, out = str(tmp_path), str(tmp_path / "out")
    os.makedirs(f"{root}/in")
    _write_json_dir(spark, sf_dir, f"{root}/in/d1", 1, 11)
    _write_json_dir(spark, sf_dir, f"{root}/in/d2", 11, 21)

    p = Pipeline(make_spec(root, out), spark)
    assert len(p.run()) == 2
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    # parsed JSON column survived with values
    assert spark.read.parquet(out).filter(F.col("p_k").isNull()).count() == 0

    # idempotent: nothing new → no-op
    assert p.run() == []

    # a third directory lands → only it is processed
    _write_json_dir(spark, sf_dir, f"{root}/in/d3", 21, 31)
    processed = p.run()
    assert [os.path.basename(d) for d in processed] == ["d3"]
    n_total = spark.read.parquet(out).count()
    assert n_total == Tables(spark, sf_dir).events.count()

    # rollback d3 → ledger forgets it → re-run reprocesses exactly it;
    # dynamic partition overwrite keeps the result identical
    p.rollback([f"{root}/in/d3"])
    processed = p.run()
    assert [os.path.basename(d) for d in processed] == ["d3"]
    assert spark.read.parquet(out).count() == n_total

    # partition layout is Hive-style dt=YYYY-MM-DD
    parts = [d for d in os.listdir(out) if d.startswith("dt=")]
    assert len(parts) >= 25


def test_pipeline_run_leaves_session_conf_unchanged(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite is a per-write option: a run with an
    overwrite_partitions sink must not leak it into the shared session,
    where every later overwrite would inherit it."""
    root, out = str(tmp_path), str(tmp_path / "out")
    os.makedirs(f"{root}/in")
    _write_json_dir(spark, sf_dir, f"{root}/in/d1", 1, 3)
    spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    before = spark.conf.getAll
    assert len(Pipeline(make_spec(root, out), spark).run()) == 1
    assert spark.conf.getAll == before


def test_pipeline_from_yaml(spark, sf_dir, tmp_path):
    """The reference's config-file surface: same spec via YAML."""
    import yaml

    root, out = str(tmp_path), str(tmp_path / "out")
    os.makedirs(f"{root}/in")
    _write_json_dir(spark, sf_dir, f"{root}/in/d1", 1, 11)
    spec_path = f"{root}/pipeline.yaml"
    with open(spec_path, "w") as fh:
        yaml.safe_dump(make_spec(root, out), fh)

    p = Pipeline.from_yaml(spark, spec_path)
    assert len(p.run()) == 1
    assert spark.read.parquet(out).count() > 0
    assert p.run() == []  # ledger carried over, idempotent


def test_compression_matrix_ordering(spark, sf_dir, qdf):
    from thrive_spark.registry import QUERIES

    pdf = qdf("sink_compression_matrix").toPandas()
    by = dict(zip(pdf["codec"], pdf["n_bytes"]))
    assert by["zstd"] < by["none"] and by["snappy"] < by["none"]
    assert by["gzip"] < by["snappy"]  # text compresses well under gzip/zstd
    assert pdf["n_rows"].nunique() == 1  # every codec round-trips all rows


def test_config_run_dsl_ops(spark, sf_dir, qdf):
    """The extended DSL vocabulary (join / aggregate / dedup) lowers
    correctly, and a committed ledger makes the next cycle a no-op."""
    from thrive_spark.registry import QUERIES
    from thrive_spark.sources.pipeline import Pipeline

    out = qdf("pipeline_config_run").toPandas()
    assert len(out) > 0 and {"n_name", "hr", "n_events", "sum_value"} <= set(
        out.columns
    )
    # dedup op: latest-wins leaves one row per key
    import pandas as pd

    src = spark.createDataFrame(
        pd.DataFrame(
            {"k": [1, 1, 2], "ver": [1, 2, 1], "v": ["a", "b", "c"]}
        )
    )
    p = Pipeline({"name": "x", "sink": {}, "transforms": []}, spark)
    deduped = p._apply_transform(
        src, {"op": "dedup", "keys": ["k"], "order_by": ["ver"]}
    ).toPandas()
    assert sorted(deduped["v"]) == ["b", "c"]
