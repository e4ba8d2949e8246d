"""Loader for the driver-provided parquet tables (TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mr_crawly_spark import sizing

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# footer reads keyed on (path, st_mtime_ns, st_size): a file rewritten at
# the same path gets a new key, so its layout is read again
_layout_cache: dict[tuple[str, int, int], tuple[int, int, int]] = {}


def _parquet_layout(path: str) -> tuple[int, int, int]:
    """(total_bytes, total_rows, total_row_groups) for a parquet file or
    directory of files, read from footers on the driver (no Spark job)."""
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    if key in _layout_cache:
        return _layout_cache[key]
    import pyarrow.parquet as pq

    files = []
    if os.path.isdir(path):
        for dp, _dn, fn in os.walk(path):
            files.extend(
                os.path.join(dp, f) for f in fn if f.endswith(".parquet")
            )
    else:
        files.append(path)
    total_bytes = total_rows = total_groups = 0
    for f in files:
        total_bytes += os.path.getsize(f)
        meta = pq.ParquetFile(f).metadata
        total_rows += meta.num_rows
        total_groups += meta.num_row_groups
    _layout_cache[key] = (total_bytes, total_rows, total_groups)
    return _layout_cache[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan of table ``name``, round-robin repartitioned when its file
    layout would leave cores idle (sizing.scan_width)."""
    assert name in TABLES, name
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    try:
        total_bytes, total_rows, total_groups = _parquet_layout(path)
    except Exception:
        return df  # unreadable footer: serve the plain scan
    width = sizing.scan_width(
        total_groups, total_bytes, total_rows,
        spark.sparkContext.defaultParallelism,
    )
    return df if width is None else df.repartition(width)
