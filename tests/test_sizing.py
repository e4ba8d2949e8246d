"""The sizing rules (mr_crawly_spark/sizing.py): each maps a driver-side row
or byte bound to a plan choice. The width and AQE rules are pure functions;
the broadcast gate, the session-conf helpers and load_table's layout cache
need the session."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mr_crawly_spark import sizing

LIMIT = sizing.BROADCAST_ROW_LIMIT
PER_TASK = sizing.PAGES_PER_PYTHON_TASK
WRITE_FLOOR = sizing.MIN_WRITE_PARTITIONS
PER_WRITE = sizing.ROWS_PER_WRITE_TASK
AQE_MIN = sizing.AQE_MIN_ROWS
CEILING = sizing.SCAN_REPARTITION_BYTE_CEILING
FLOOR = sizing.SCAN_REPARTITION_ROW_FLOOR


@pytest.mark.parametrize(
    "rows, hinted",
    [(0, True), (LIMIT, True), (LIMIT + 1, False), (None, False)],
)
def test_broadcast_if_small(spark, rows, hinted):
    df = spark.range(3)
    out = sizing.broadcast_if_small(df, rows)
    assert (out is not df) is hinted
    plan = out._jdf.queryExecution().logical().toString()
    assert ("broadcast" in plan) is hinted


@pytest.mark.parametrize(
    "rows, want",
    [
        (None, WRITE_FLOOR),
        (0, WRITE_FLOOR),
        (100, WRITE_FLOOR),                        # sandbox floor
        (WRITE_FLOOR * PER_WRITE, WRITE_FLOOR),
        (WRITE_FLOOR * PER_WRITE + 1, WRITE_FLOOR + 1),
        (80_000_000, 80),                          # cluster round widens
    ],
)
def test_write_width(rows, want):
    assert sizing.write_width(rows) == want


@pytest.mark.parametrize(
    "rows, want",
    [
        (None, None),            # unknown bound: keep the upstream width
        (0, 1),                  # an empty round still gets one task
        (1, 1),
        (PER_TASK, 1),
        (PER_TASK + 1, 2),
        (7 * PER_TASK, 7),
        (7 * PER_TASK + 1, None),  # would reach the upstream width
        (10**10, None),
    ],
)
def test_python_width(rows, want):
    assert sizing.python_width(rows, upstream=8) == want


@pytest.mark.parametrize(
    "rows, want",
    [(None, True), (0, False), (AQE_MIN - 1, False), (AQE_MIN, True)],
)
def test_use_aqe(rows, want):
    assert sizing.use_aqe(rows) is want


@pytest.mark.parametrize(
    "groups, total_bytes, rows, want",
    [
        (1, 1000, FLOOR, 4),
        (4, 1000, FLOOR, None),         # enough row groups already
        (1, CEILING, FLOOR, None),      # too many bytes
        (1, 1000, FLOOR - 1, None),     # too few rows
    ],
)
def test_scan_width(groups, total_bytes, rows, want):
    assert sizing.scan_width(groups, total_bytes, rows, parallelism=4) == want


def test_session_conf_helpers_restore(spark):
    assert sizing.shuffle_width(spark) == 8
    with sizing.pinned_shuffle_width(spark, 3):
        assert sizing.shuffle_width(spark) == 3
    assert sizing.shuffle_width(spark) == 8
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    with sizing.aqe(spark, False):
        assert spark.conf.get(key) == "false"
        with sizing.aqe(spark, True):
            assert spark.conf.get(key) == "true"
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == before


def test_load_table_rereads_a_rewritten_layout(spark, tmp_path):
    """A parquet file rewritten at the same path must not be served the old
    layout: 600 rows in one row group are repartitioned, and the same path
    rewritten with 100 rows is the plain scan."""
    from mr_crawly_spark.sources.tables import load_table

    path = tmp_path / "events.parquet"

    def repartitioned() -> bool:
        df = load_table(spark, str(tmp_path), "events")
        return "Repartition" in df._jdf.queryExecution().logical().toString()

    pq.write_table(pa.table({"id": list(range(600))}), path)
    assert repartitioned()
    pq.write_table(pa.table({"id": list(range(100))}), path)
    assert not repartitioned()
