"""URL-seen set: exact anti-join (D2/D3/J3).

The reference's seen-set is a driver-local Python set (manager.py:61,248-249)
plus Redis SADD sets (cache.py:165-175). Distributed equivalent:

- membership = LEFT ANTI join of candidates against the ``seen`` table,
  keyed on (url_hash, url) — xxhash64 keeps the shuffle key narrow while the
  url equality guards against 64-bit collisions (at 10^10 keys the birthday
  bound makes a few collisions likely, and seen-set *equality* is a
  correctness gate, so hash-only membership would be wrong).

The engine holds the seen base in the :func:`seen_base` layout,
hash-partitioned and sorted on the join keys, so a round shuffles only its
candidates and never the seen set. A bucketed probabilistic prefilter in
front of this join was timed against it from 1M to 16M seen rows and never
won (BENCH/seen_route_crossover_4cpu.json), so it was removed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mr_crawly_spark import sizing


def seen_base(seen: DataFrame) -> DataFrame:
    """``seen`` (url_hash, url, ...) hash-partitioned at the session's
    shuffle width AND sorted on the join keys, lineage-cut.

    The layout is the point: the anti-join's merge side is already
    clustered and ordered on (url_hash, url), so EnsureRequirements inserts
    NO exchange and NO sort on the seen side, and each round shuffles only
    its (slice-sized) candidates. At a 10^10-row seen set that turns a
    full-table shuffle+sort per round into one partition pass per rebuild.
    The localCheckpoint runs with AQE off: under AQE the captured plan
    reports UnknownPartitioning and the layout is lost (checked by
    tests/test_plans.py)."""
    part = seen.repartition(
        sizing.shuffle_width(seen.sparkSession), F.col("url_hash"), F.col("url")
    ).sortWithinPartitions("url_hash", "url")
    with sizing.aqe(seen.sparkSession, False):
        return part.localCheckpoint()


def filter_unseen(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Rows of ``candidates`` (url, url_hash, ...) not present in ``seen``."""
    seen_keys = seen.select("url_hash", "url")
    return candidates.join(seen_keys, ["url_hash", "url"], "left_anti")
