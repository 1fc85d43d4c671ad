"""The parquet file-set layer under the lakehouse formats.

Delta (``delta_lite``), Iceberg (``iceberg_lite``), Hudi
(``hudi_lite``) and the ACID table (``acid``) differ only in the
metadata they keep about a set of parquet files. The steps on the
files themselves live here, once:

- ``write_files``: ONE write job (``partitionBy`` when the format
  partitions), then a walk of the hive directories back into
  ``FileEntry`` records — path, size, row count, raw partition values
  and the parquet footer. Zero-row outputs are deleted, never
  returned, so no commit can reference one.
- ``footer_stats``: per-column min/max/null counts from a footer.
  Values are raw; each format applies its own policy (Iceberg bounds
  only long/double columns, because parquet may truncate string
  statistics and a truncated bound must never drive pruning).
- ``positions`` / ``drop_positions``: the (file, row index) identity
  of scanned rows and the broadcast left-anti join that drops deleted
  positions (Delta deletion vectors, Iceberg position deletes).
- ``per_file_partials``: one grouped scan keyed by source file.
- ``remove_unreferenced``: the vacuum reachability walk.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import TYPE_CHECKING
from urllib.parse import unquote, urlparse

from pyspark.sql import functions as F

if TYPE_CHECKING:  # imported lazily: module import stays pyarrow-free
    import pyarrow.parquet as pq

#: the directory name Spark gives a NULL (or empty-string) partition
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

#: the (file URI, row index) columns ``positions`` adds
POS = ("__fp", "__ri")


@dataclass(frozen=True)
class FileEntry:
    """One parquet file written by ``write_files``. ``relpath`` is
    relative to the directory written; ``partition`` maps each
    partition column to its hive directory value (a string, or None
    for ``__HIVE_DEFAULT_PARTITION__``)."""

    relpath: str
    size: int
    num_rows: int
    partition: dict
    footer: pq.FileMetaData


@dataclass(frozen=True)
class ColumnStats:
    min: object
    max: object
    null_count: int


def read_footer(path: str) -> pq.FileMetaData:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata


def write_files(df, root: str, partition_cols=()) -> list[FileEntry]:
    """Write ``df`` under ``root`` in one job and return its non-empty
    files, sorted by directory then name. Partition columns leave the
    data files and come back as ``FileEntry.partition``."""
    writer = df.write
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(root)
    out = []
    for dirpath, _dirs, fnames in os.walk(root):
        rel_dir = os.path.relpath(dirpath, root)
        partition = {}
        for seg in [] if rel_dir == "." else rel_dir.split(os.sep):
            col, raw = (unquote(s) for s in seg.split("=", 1))
            partition[col] = None if raw == HIVE_NULL else raw
        for fname in fnames:
            if not fname.endswith(".parquet"):
                continue
            path = os.path.join(dirpath, fname)
            footer = read_footer(path)
            if not footer.num_rows:
                os.unlink(path)
                continue
            out.append(FileEntry(
                os.path.relpath(path, root), os.path.getsize(path),
                footer.num_rows, partition, footer,
            ))
    return sorted(out, key=lambda e: os.path.split(e.relpath))


def footer_stats(footer: pq.FileMetaData) -> dict[str, ColumnStats]:
    """Column -> min/max/null count over every row group. A column
    missing min/max in any row group is left out: a partial range
    would prune files that hold matching rows."""
    acc: dict[str, ColumnStats] = {}
    partial: set[str] = set()
    for g in range(footer.num_row_groups):
        rg = footer.row_group(g)
        for i in range(rg.num_columns):
            col = rg.column(i)
            name, st = col.path_in_schema, col.statistics
            if st is None or not st.has_min_max:
                partial.add(name)
                continue
            prev = acc.get(name)
            acc[name] = ColumnStats(
                st.min if prev is None else min(prev.min, st.min),
                st.max if prev is None else max(prev.max, st.max),
                (prev.null_count if prev else 0) + (st.null_count or 0),
            )
    return {k: v for k, v in acc.items() if k not in partial}


def file_uri(path: str) -> str:
    """``path`` in the form ``_metadata.file_path`` reports it."""
    return "file:" + os.path.abspath(path)


def positions(df):
    """``df`` plus each row's file URI (``__fp``) and row index within
    that file (``__ri``). ``df`` must be a file scan, or derived from
    one without a projection that hides ``_metadata``."""
    return df.select(
        "*",
        F.col("_metadata.file_path").alias("__fp"),
        F.col("_metadata.row_index").alias("__ri"),
    )


def drop_positions(df, keys):
    """Rows of ``df`` (carrying ``positions``) whose (``__fp``,
    ``__ri``) is not in ``keys``. The keys broadcast: deleted positions
    are the small side by construction, and the scan keeps its
    parallelism."""
    return df.join(F.broadcast(keys), ["__fp", "__ri"], "left_anti")


def position_keys(spark, pairs):
    """(file URI, row index) pairs as a ``drop_positions`` key frame."""
    return spark.createDataFrame(list(pairs), "__fp string, __ri bigint")


def per_file_partials(df, root: str, *aggs) -> dict:
    """One grouped scan of ``df`` (carrying ``positions``) keyed by
    source file: ``{path relative to root: Row(n, *aggs)}`` with ``n``
    the file's row count in ``df``. Both sides are resolved through
    symlinks. A file with no rows in ``df`` has no key."""
    base = os.path.realpath(root)
    rows = (
        df.groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("n"), *aggs)
        .collect()
    )
    return {
        os.path.relpath(
            os.path.realpath(unquote(urlparse(r["__fp"]).path)), base
        ): r
        for r in rows
    }


def remove_unreferenced(root: str, keep) -> int:
    """The vacuum walk: delete every data file under ``root`` whose
    path is not in ``keep``; a kept directory is kept whole. Names
    starting with ``_`` or ``.`` (``_SUCCESS``, checksums) are
    bookkeeping, not data: they go only with a directory left holding
    nothing kept. Returns the number of data files deleted."""
    keep = {os.path.normpath(p) for p in keep}
    n = 0

    def sweep(d: str) -> bool:  # True when d still holds a kept path
        nonlocal n
        live = False
        for e in os.scandir(d):
            p = os.path.normpath(e.path)
            if p in keep:
                live = True
            elif e.is_dir(follow_symlinks=False):
                if sweep(p):
                    live = True
                else:
                    shutil.rmtree(p)
            elif not e.name.startswith(("_", ".")):
                os.unlink(p)
                n += 1
        return live

    sweep(root)
    return n
