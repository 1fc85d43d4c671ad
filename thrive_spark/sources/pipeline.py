"""Declarative pipeline runner — the thrive-equivalent surface
(SURVEY §3.2.3).

The reference is a metadata-driven ETL framework [R]: a dataset config
declares source directories, a JSON→columns mapping, type casts,
derived partition columns, and Hive/Vertica targets; the load phase
diffs a dirlist ledger and processes only new directories. This module
is that surface on Spark: a spec (dict or YAML) lowers to a DataFrame
chain — no custom execution, Catalyst optimizes the whole load as one
plan.

Spec shape::

    name: events_hourly
    source: {path: /data/in, format: json|parquet|csv, options: {...}}
    transforms:
      - {op: parse_json, col: props, schema: "k BIGINT", prefix: p_}
      - {op: cast, col: value, type: double}
      - {op: rename, col: ts, to: event_ts}
      - {op: derive, name: dt, expr: "CAST(event_ts AS DATE)"}
      - {op: filter, expr: "value IS NOT NULL"}
      - {op: select, cols: [event_id, event_ts, p_k, value, dt]}
    sink: {kind: parquet, path: /data/out, partition_by: [dt],
           mode: overwrite_partitions}
    ledger: /data/_meta/events_hourly

Exactly-once: sink first, ledger commit second; with
``overwrite_partitions`` (dynamic partition overwrite) a re-run of a
crashed load rewrites the same partitions — idempotent.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators._util import osum
from ..registry import query
from ..session import prepare
from .incremental import IncrementalLoader


@dataclass
class Pipeline:
    spec: dict[str, Any]
    spark: SparkSession

    @classmethod
    def from_yaml(cls, spark: SparkSession, path: str) -> "Pipeline":
        try:
            import yaml  # gated: not guaranteed in every image
        except ImportError as e:  # pragma: no cover
            raise NotImplementedError(
                "pyyaml not installed; pass the spec as a dict instead"
            ) from e
        with open(path) as fh:
            return cls(yaml.safe_load(fh), prepare(spark))

    # -- transform lowering -------------------------------------------------
    def _apply_transform(self, df: DataFrame, t: dict[str, Any]) -> DataFrame:
        op = t["op"]
        if op == "parse_json":
            prefix = t.get("prefix", "")
            parsed = F.from_json(F.col(t["col"]), t["schema"])
            df = df.withColumn("__p", parsed)
            for f_ in df.schema["__p"].dataType.fieldNames():
                df = df.withColumn(prefix + f_, F.col(f"__p.{f_}"))
            return df.drop("__p")
        if op == "cast":
            return df.withColumn(t["col"], F.col(t["col"]).cast(t["type"]))
        if op == "try_cast":
            return df.withColumn(t["col"], F.col(t["col"]).try_cast(t["type"]))
        if op == "rename":
            return df.withColumnRenamed(t["col"], t["to"])
        if op == "derive":
            return df.withColumn(t["name"], F.expr(t["expr"]))
        if op == "filter":
            return df.filter(t["expr"])
        if op == "select":
            return df.select(*t["cols"])
        if op == "join":
            # dim enrichment: load a side table and equi-join; small
            # dims declare broadcast: true (the thrive lookup-join)
            reader = self.spark.read.format(t.get("format", "parquet"))
            dim = reader.load(t["path"])
            if t.get("select"):
                dim = dim.selectExpr(*t["select"])
            if t.get("broadcast", True):
                dim = F.broadcast(dim)
            return df.join(dim, F.expr(t["on"]), t.get("how", "inner"))
        if op == "aggregate":
            aggs = []
            for a in t["aggs"]:
                fn, col, alias = a["fn"], a.get("col"), a["as"]
                if fn == "count":
                    aggs.append(F.count(F.lit(1)).alias(alias))
                elif fn == "sum_fp":
                    # engine-exact money sum is part of the DSL: specs
                    # never hand-roll float summation
                    aggs.append(
                        (
                            F.sum(
                                F.floor(F.col(col) * 10000 + 0.5).cast(
                                    "bigint"
                                )
                            )
                            / 10000.0
                        ).alias(alias)
                    )
                elif fn in ("min", "max", "sum"):
                    aggs.append(getattr(F, fn)(col).alias(alias))
                else:
                    raise ValueError(f"unknown agg fn: {fn}")
            return df.groupBy(*t["group_by"]).agg(*aggs)
        if op == "dedup":
            # latest-wins on the declared version order — the CDC
            # compaction step as config
            from pyspark.sql import Window

            w = Window.partitionBy(*t["keys"]).orderBy(
                *[F.expr(e).desc() for e in t["order_by"]]
            )
            return (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        raise ValueError(f"unknown transform op: {op}")

    def _transform(self, df: DataFrame) -> DataFrame:
        for t in self.spec.get("transforms", []):
            df = self._apply_transform(df, t)
        return df

    # -- sink ---------------------------------------------------------------
    def _sink(self, df: DataFrame) -> None:
        sink = self.spec["sink"]
        kind = sink.get("kind", "parquet")
        if kind == "parquet":
            mode = sink.get("mode", "append")
            writer = df.write
            if mode == "overwrite_partitions":
                # dynamic partition overwrite: replace only partitions
                # present in this load — the idempotent re-run story.
                # A per-write option, so the session conf is untouched
                writer = writer.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                )
            else:
                writer = writer.mode(mode)
            if sink.get("partition_by"):
                writer = writer.partitionBy(*sink["partition_by"])
            writer.parquet(sink["path"])
        elif kind == "table":
            df.write.mode(sink.get("mode", "overwrite")).saveAsTable(sink["table"])
        else:
            raise ValueError(f"unknown sink kind: {kind}")

    # -- run ----------------------------------------------------------------
    def run(self) -> list[str]:
        """One incremental load cycle; returns the dirs processed."""
        src = self.spec["source"]
        root = src["path"]
        candidates = sorted(
            os.path.join(root, d)
            for d in os.listdir(root)
            if not d.startswith("_") and os.path.isdir(os.path.join(root, d))
        )
        loader = IncrementalLoader(self.spark, self.spec["ledger"])
        new = loader.pending(candidates)
        if not new:
            return []
        reader = self.spark.read.format(src.get("format", "parquet"))
        for k, v in src.get("options", {}).items():
            reader = reader.option(k, v)
        if src.get("schema"):
            reader = reader.schema(src["schema"])
        df = self._transform(reader.load(new))
        self._sink(df)
        loader.commit(new, {})
        return new

    def rollback(self, dirs: list[str]) -> None:
        IncrementalLoader(self.spark, self.spec["ledger"]).rollback(dirs)


@query(
    "pipeline_config_run",
    oracle=f"""
    SELECT n.n_name,
           CAST(hour(CAST(e.ts AS TIMESTAMP)) AS BIGINT) AS hr,
           count(*) AS n_events,
           {osum('e.value')} AS sum_value
    FROM events e JOIN nation n
      ON CAST(e.user_id % 25 AS BIGINT) = CAST(n.n_nationkey AS BIGINT)
    WHERE e.event_id % 2 = 0
    GROUP BY n.n_name, hr
    """,
)
def pipeline_config_run(spark, sf_dir):
    """The metadata-driven surface END TO END, driver-verified: a
    dataset CONFIG (dict spec — no hand-written DataFrame code)
    declares source dirs, a derived join key, a broadcast dim
    enrichment, an hourly aggregate with the DSL's engine-exact money
    sum, and a partitioned-parquet sink with a dirlist ledger; the
    runner lowers it to ONE Catalyst plan, executes the incremental
    load, and the sink is read back for the oracle hash — so the
    config vocabulary (thrive's defining feature re-expressed on
    Spark) is itself correctness-gated, not just unit-tested.

    Exactly-once mechanics ride along: two source dirs, one run()
    cycle, ledger committed after the sink; a second run() is asserted
    a no-op in tests/test_pipeline.py."""
    from ..tables import Tables

    t = Tables(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="thrive_plc_")
    try:
        ev = t.events.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "user_id", "ts", "value"
        )
        for i, pred in enumerate(
            (F.col("event_id") % 4 == 0, F.col("event_id") % 4 == 2)
        ):
            ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(
                f"{root}/in/d{i + 1}"
            )
        spec = {
            "name": "events_hourly_by_nation",
            "source": {"path": f"{root}/in", "format": "parquet"},
            "transforms": [
                {"op": "derive", "name": "nk",
                 "expr": "CAST(user_id % 25 AS BIGINT)"},
                {"op": "join", "path": f"{sf_dir}/nation.parquet",
                 "on": "nk = CAST(n_nationkey AS BIGINT)",
                 "select": ["n_nationkey", "n_name"], "broadcast": True},
                {"op": "derive", "name": "hr",
                 "expr": "CAST(hour(ts) AS BIGINT)"},
                {"op": "aggregate", "group_by": ["n_name", "hr"],
                 "aggs": [
                     {"fn": "count", "as": "n_events"},
                     {"fn": "sum_fp", "col": "value", "as": "sum_value"},
                 ]},
            ],
            "sink": {"kind": "parquet", "path": f"{root}/out",
                     "partition_by": ["n_name"], "mode": "overwrite"},
            "ledger": f"{root}/_meta",
        }
        processed = Pipeline(spec, spark).run()
        assert len(processed) == 2, processed
        back = spark.read.parquet(f"{root}/out")
        return back.select(
            "n_name", "hr", "n_events", "sum_value"
        ).localCheckpoint()
    finally:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
