"""Frozen op lists and the ETL spec.

These are copies, not imports: ``bench.py`` and the registry may grow,
and a workload must not change when they do.  Changing a list here is a
change to the benchmark and resets its baseline.
"""

from __future__ import annotations

# Six of the 32 headline ids of bench.py: a scan-bound aggregate, the
# TPC-H Q5 star join, shuffle-free keyword retrieval, iterative k-means,
# blocked pair search and MinHash dedup.  All 32 take about 20 s per warm
# pass on a 4-core box; a run must also start a JVM, warm up and check
# every output, and the whole benchmark must fit its time budget.
HEADLINE = (
    "agg_hash_groupby",
    "tpch_q5",
    "text_bm25_topk",
    "cluster_topics_kmeans",
    "sim_pairs_threshold",
    "dedup_fuzzy_minhash",
)

# Read ids for the cold sweep.  Both size their plan from a measured
# scalar that the engine caches per sf_dir, so on a fresh corpus path
# they pay that first-touch probe job; in headline_warm they hit it.
SWEEP_READS = (
    "cluster_topics_kmeans",  # k-means row count
    "sim_pairs_threshold",  # pair-tile fanout
)

# Writer ids for the cold sweep: the cheapest id of four table-format or
# sink modules.
SWEEP_WRITERS = (
    "scan_delta_vacuum",  # sources.delta_lite
    "scan_iceberg_wap_branch",  # sources.iceberg_lite
    "maintenance_zorder",  # sources.maintenance
    "sink_hive_table",  # sources.sinks
)

# Writer ids too slow for a timed pass: the traced run of sweep_cold runs
# each once, checked, for its module's per-layer numbers.  The cheapest
# Hudi and ACID ids take 1.5-1.8 s each (with them a cold pass is over 9 s
# and a run has no time left to warm it up); the Iceberg maintenance
# exhibit takes about 12 s and 86 jobs.
EXHIBITS = (
    "scan_hudi_col_stats_prune",  # sources.hudi_lite
    "acid_schema_evolution",  # sources.acid
    "scan_iceberg_evolved_maintenance",  # sources.iceberg_lite
)
ICEBERG_EXHIBIT = "scan_iceberg_evolved_maintenance"

# Thrive load cycles per cold pass.  The events table is split into one
# JSON dir per hour; a cycle lands one whole day (24 dirs), picked by the
# seed, so day partitions never collide and sink rows equal rows landed.
CYCLES_PER_PASS = 2
ETL_DAYS = 30


def etl_spec(root: str) -> dict:
    """JSON -> partitioned parquet load, the shape of tests/test_pipeline.py."""
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
            {"op": "select", "cols": ["event_id", "user_id", "event_type", "value", "p_k", "ts", "dt"]},
        ],
        "sink": {"kind": "parquet", "path": f"{root}/out", "partition_by": ["dt"], "mode": "overwrite_partitions"},
        "ledger": f"{root}/_ledger",
    }
