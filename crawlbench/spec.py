"""Metric names and units, read from ``BENCHMARK.json`` at the repository
root: the one list of what the benchmark prints.

Every workload prints every metric. A per-layer metric of a layer that a
workload does not exercise reads 0; an end-to-end metric is defined for
every workload (see ``README.md``).
"""

from __future__ import annotations

import json
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(_ROOT, "BENCHMARK.json")) as _f:
    _DOC = json.load(_f)

END_TO_END = {m["name"]: m["unit"] for m in _DOC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _DOC["per_layer"]}

# entry queries of the sf_queries workload, in run order: one per
# ``query.<name>_s`` per-layer metric; every one has an oracle_sql() twin
QUERIES = tuple(k[len("query."):-len("_s")] for k in PER_LAYER if k.startswith("query."))
