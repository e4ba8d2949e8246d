"""Answer checks, run outside the timed window.

Each check returns a list of human-readable problems; an empty list is a
pass. Every failed check counts one failed operation.
"""

from __future__ import annotations

# ---------------------------------------------------------------- crawl ---


def crawl_answer(engine) -> tuple[list[str], set[str]]:
    """(crawl order, seen set) of a finished engine."""
    order = [r["url"] for r in engine.crawl_order().orderBy("rank").collect()]
    seen = {r["url"] for r in engine.table("seen").collect()}
    return order, seen


def check_crawl(got_order: list[str], got_seen: set[str], oracle) -> list[str]:
    """Crawl order and seen set against ``oracle.crawler.OracleResult``."""
    problems = []
    if got_order != oracle.crawl_order:
        n = next((i for i, (a, b) in enumerate(zip(got_order, oracle.crawl_order))
                  if a != b), min(len(got_order), len(oracle.crawl_order)))
        problems.append(
            f"crawl order differs at rank {n}: {len(got_order)} pages vs "
            f"{len(oracle.crawl_order)} in the oracle"
        )
    if got_seen != oracle.seen:
        problems.append(
            f"seen set differs: {len(got_seen - oracle.seen)} extra, "
            f"{len(oracle.seen - got_seen)} missing"
        )
    return problems


# -------------------------------------------------------------- queries ---


def check_rows(name: str, s_cols, s_rows, d_cols, d_rows) -> list[str]:
    """A Spark result against its DuckDB twin (column names, row count and
    values, order-insensitive), with the tests/test_entry.py
    normalisation rule."""
    from tests.test_entry import _rows

    if sorted(s_cols) != sorted(d_cols):
        return [f"{name}: columns {sorted(s_cols)} != {sorted(d_cols)}"]
    got, want = _rows(s_cols, s_rows), _rows(d_cols, d_rows)
    if got == want:
        return []
    return [
        f"{name}: {sum(got.values())} rows vs {sum(want.values())} in DuckDB; "
        f"spark-only {list((got - want).keys())[:2]} "
        f"duckdb-only {list((want - got).keys())[:2]}"
    ]
