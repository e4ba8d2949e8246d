"""URL-seen set: exact anti-join + partitioned Bloom prefilter (D2/D3/J3).

The reference's seen-set is a driver-local Python set (manager.py:61,248-249)
plus Redis SADD sets (cache.py:165-175). Distributed equivalent:

- membership   = LEFT ANTI join of candidates against the ``seen`` table,
  keyed on (url_hash, url) — xxhash64 keeps the shuffle key narrow while the
  url equality guards against 64-bit collisions (at 10^10 keys the birthday
  bound makes a few collisions likely, and seen-set *equality* is a
  correctness gate, so hash-only membership would be wrong);
- prefilter    = per-bucket Bloom filters over ``pmod(url_hash, n_buckets)``.
  Bloom is strictly a PREFILTER (SURVEY.md §7.4): candidates the Bloom rules
  out skip the shuffle entirely (no false negatives by construction);
  candidates it flags still anti-join exactly, so false positives only cost
  work, never correctness.

The filter lives in ONE place at every size: a sidecar parquet dir (one row
per bucket) next to the snapshot. ``build_bloom_sidecar`` writes it,
``merge_bloom_sidecar`` folds seen deltas in, and
``bloom_prefilter_sidecar`` probes it bucket-partitioned, each task loading
only the buckets it needs. At 10^10 seen URLs a 10-bits/key Bloom is
~12 GB, so no filter bytes ever go through the driver or a broadcast.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def bloom_params(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k_hashes) for a target false-positive rate."""
    n = max(n_items, 1)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8  # byte-align
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _probe_positions(hashes_u64: np.ndarray, m: int, k: int) -> Iterator[np.ndarray]:
    """Double-hashing probe sequence from the 64-bit xxhash value."""
    h1 = hashes_u64 % np.uint64(m)
    h2 = ((hashes_u64 >> np.uint64(33)) | np.uint64(1)) % np.uint64(m)
    for i in range(k):
        yield (h1 + np.uint64(i) * h2) % np.uint64(m)


def _bloom_df(seen: DataFrame, n_buckets: int, m_bits: int, k: int) -> DataFrame:
    """(bucket, bits) rows built DISTRIBUTED via applyInPandas — the full
    Bloom never exists in one place; each task builds its bucket's bitmap."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
        bits = np.zeros(m_bits, dtype=bool)
        for pos in _probe_positions(h, m_bits, k):
            bits[pos] = True
        return pd.DataFrame(
            {"bucket": [int(pdf["_bucket"].iloc[0])],
             "bits": [np.packbits(bits).tobytes()]}
        )

    return (
        seen.select("url_hash")
        .withColumn("_bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)))
        .groupBy("_bucket")
        .applyInPandas(build, "bucket int, bits binary")
    )


def _geometry_path(path: str) -> str:
    import os

    return os.path.join(path, "_bloom_geometry.json")


def _write_geometry(
    path: str, m_bits: int, k: int, n_buckets: int, round_: int
) -> None:
    import json
    import os

    os.makedirs(path, exist_ok=True)
    tmp = _geometry_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {"m_bits": m_bits, "k": k, "n_buckets": n_buckets, "round": round_},
            f,
        )
    os.replace(tmp, _geometry_path(path))


def _remove_geometry(path: str) -> None:
    import contextlib
    import os

    with contextlib.suppress(FileNotFoundError):
        os.remove(_geometry_path(path))


def _read_geometry_json(path: str) -> dict | None:
    import json
    import os

    p = _geometry_path(path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def read_bloom_geometry(path: str) -> tuple[int, int, int] | None:
    """(m_bits, k, n_buckets) persisted with the sidecar, or None. Loaders
    MUST validate this against their config before probing: reloaded bitmaps
    probed with a different geometry give silent false negatives."""
    g = _read_geometry_json(path)
    return None if g is None else (g["m_bits"], g["k"], g["n_buckets"])


def read_bloom_round(path: str) -> int | None:
    """The last crawl round whose seen rows the sidecar holds, or None.
    A sidecar stamped before the resume round is stale (flushes since then
    ran without merging into it) and must be rebuilt; a newer stamp is a
    superset of the seen table, which only costs false positives."""
    g = _read_geometry_json(path)
    return None if g is None else g.get("round")


def build_bloom_sidecar(
    seen: DataFrame, path: str, n_buckets: int, m_bits: int, k: int,
    *, round_: int,
) -> None:
    """Build the bucketed Bloom distributed and write it straight to the
    sidecar parquet — no driver collect at any size. ``round_`` is the last
    crawl round ``seen`` covers; it is stamped next to the geometry.

    Crash-safe ordering: the geometry file is removed FIRST and rewritten
    LAST, so any partial state in between has no geometry and loaders
    rebuild instead of probing a half-written filter (a valid geometry over
    missing bitmaps would silently answer definitely-unseen for every key —
    false negatives across the whole seen set)."""
    _remove_geometry(path)
    _bloom_df(seen, n_buckets, m_bits, k).write.mode("overwrite").parquet(path)
    _write_geometry(path, m_bits, k, n_buckets, round_)


def _swap_sidecar_parquet(
    path: str, tmp_dir: str, m_bits: int, k: int, n_buckets: int, round_: int
) -> None:
    """Replace ``path``'s parquet files with a freshly-written tmp dir's,
    geometry-last: the geometry is removed before the first destructive
    step and rewritten only after the new files are all in place, so a
    crash at ANY point leaves a geometry-less dir that loaders treat as
    absent (rebuild) — never a valid geometry over partial bitmaps."""
    import glob as _glob
    import os
    import shutil

    _remove_geometry(path)  # invalidate: any crash below -> rebuild on resume
    for old in _glob.glob(os.path.join(path, "*.parquet")):
        os.remove(old)
    os.makedirs(path, exist_ok=True)
    parts = sorted(_glob.glob(os.path.join(tmp_dir, "*.parquet")))
    for i, fn in enumerate(parts):
        os.replace(fn, os.path.join(path, f"part-{i:05d}.parquet"))
    shutil.rmtree(tmp_dir, ignore_errors=True)
    _write_geometry(path, m_bits, k, n_buckets, round_)  # valid again


def merge_bloom_sidecar(
    spark: SparkSession,
    seen_delta: DataFrame,
    path: str,
    n_buckets: int,
    m_bits: int,
    k: int,
    *,
    round_: int,
) -> None:
    """Fold a seen DELTA into the sidecar Bloom fully distributed: executors
    build the delta's per-bucket bitmaps, union them with the existing
    sidecar rows, and OR-merge per bucket (one applyInPandas task per
    touched bucket). No bitmap ever reaches the driver; per-flush cost is
    one scan of the (filter-sized, n_buckets-row) sidecar plus the delta —
    independent of the seen table's size. ``round_`` is the crawl round the
    merged sidecar covers (the flushed round)."""
    geom = read_bloom_geometry(path)
    if geom is not None and geom != (m_bits, k, n_buckets):
        raise ValueError(f"sidecar geometry {geom} != {(m_bits, k, n_buckets)}")
    existing = spark.read.parquet(path).select("bucket", "bits")
    delta = _bloom_df(seen_delta, n_buckets, m_bits, k)

    def or_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc: np.ndarray | None = None
        for raw in pdf["bits"]:
            arr = np.frombuffer(bytes(raw), dtype=np.uint8)
            if acc is not None and len(arr) != len(acc):
                raise ValueError("bloom bitmap length mismatch — geometry drift")
            acc = arr.copy() if acc is None else (acc | arr)
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "bits": [acc.tobytes()]}
        )

    merged = (
        existing.unionByName(delta)
        .groupBy("bucket")
        .applyInPandas(or_merge, "bucket int, bits binary")
    )
    tmp = path.rstrip("/") + "._merge_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    _swap_sidecar_parquet(path, tmp, m_bits, k, n_buckets, round_)


def bloom_prefilter_sidecar(
    candidates: DataFrame,
    sidecar_path: str,
    n_buckets: int,
    m_bits: int,
    k: int,
    debug_loaded_col: bool = False,
) -> DataFrame:
    """Append ``maybe_seen`` via a BUCKET-PARTITIONED probe: candidates are
    range-partitioned by ``pmod(url_hash, n_buckets)`` and each task loads
    ONLY the bucket bitmaps present in its partition, straight from the
    sidecar parquet with a pyarrow bucket-predicate read — the full Bloom is
    never broadcast or driver-resident (at 10^10 keys it is ~12 GB).

    ``debug_loaded_col`` adds ``_buckets_loaded`` = how many distinct bucket
    bitmaps this task has read so far (tests assert locality with it).
    """
    import glob as _glob

    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        StructField,
        StructType,
    )

    geom = read_bloom_geometry(sidecar_path)
    if geom is not None and geom != (m_bits, k, n_buckets):
        raise ValueError(
            f"sidecar geometry {geom} != requested {(m_bits, k, n_buckets)}"
        )
    files = sorted(_glob.glob(f"{sidecar_path}/*.parquet"))
    if not files:
        # a parquet-less sidecar would probe every key as definitely-unseen
        # (silent false negatives) — refuse; callers rebuild instead
        raise FileNotFoundError(
            f"bloom sidecar {sidecar_path} has no parquet files — rebuild it"
        )

    bucketed = candidates.withColumn(
        "_bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets))
    ).repartitionByRange(n_buckets, "_bucket")
    fields = list(bucketed.schema.fields) + [StructField("maybe_seen", BooleanType())]
    if debug_loaded_col:
        fields.append(StructField("_buckets_loaded", IntegerType()))
    schema = StructType(fields)

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq  # executor-side import

        loaded: dict[int, np.ndarray | None] = {}

        def load_bucket(b: int) -> np.ndarray | None:
            for fn in files:
                tbl = pq.read_table(fn, filters=[("bucket", "=", b)])
                if tbl.num_rows:
                    raw = tbl.column("bits")[0].as_py()
                    return np.unpackbits(
                        np.frombuffer(raw, dtype=np.uint8)
                    ).astype(bool)
            return None  # empty bucket -> definitely unseen

        for pdf in batches:
            signed = pdf["url_hash"].to_numpy(dtype=np.int64)
            h = signed.view(np.uint64)
            bkt = pdf["_bucket"].to_numpy(dtype=np.int64)
            out = np.zeros(len(pdf), dtype=bool)
            for b in np.unique(bkt):
                if int(b) not in loaded:
                    loaded[int(b)] = load_bucket(int(b))
                bits = loaded[int(b)]
                if bits is None:
                    continue
                mask = bkt == b
                ok = np.ones(int(mask.sum()), dtype=bool)
                for pos in _probe_positions(h[mask], m_bits, k):
                    ok &= bits[pos]
                out[mask] = ok
            pdf = pdf.copy()
            pdf["maybe_seen"] = out
            if debug_loaded_col:
                pdf["_buckets_loaded"] = len(loaded)
            yield pdf

    return bucketed.mapInPandas(probe, schema).drop("_bucket")


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    n_buckets: int = 0,
    m_bits: int = 0,
    k: int = 0,
    sidecar_path: str | None = None,
) -> DataFrame:
    """Rows of ``candidates`` (url, url_hash, ...) not present in ``seen``.

    Exact semantics always. With ``sidecar_path`` the Bloom sidecar probe
    short-circuits the shuffle for definitely-new rows (bucket-partitioned
    executor-side loads; the full Bloom never leaves the cluster).
    """
    seen_keys = seen.select("url_hash", "url")
    if sidecar_path is None:
        return candidates.join(seen_keys, ["url_hash", "url"], "left_anti")
    probed = bloom_prefilter_sidecar(candidates, sidecar_path, n_buckets, m_bits, k)
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = (
        probed.filter(F.col("maybe_seen"))
        .drop("maybe_seen")
        .join(seen_keys, ["url_hash", "url"], "left_anti")
    )
    return fresh.unionByName(maybe)

