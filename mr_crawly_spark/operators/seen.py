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

Scale path: at 10^10 seen URLs a 10-bits/key Bloom is ~12 GB — too big for
one broadcast. The sidecar layout (one row per bucket, written next to the
snapshot by ``write_bloom_sidecar``) shards it so a bucket-partitioned probe
loads only the ranges it needs; in-sandbox we broadcast the dict (the corpus
fits), and the bucket math is identical either way.
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


# refuse driver-side collects of Bloom bitmaps beyond this (the 10^10-key
# target is ~12 GB of Bloom — it must stay distributed; round-1 verdict #4)
MAX_DRIVER_BLOOM_BYTES = 256 * 1024 * 1024


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


def build_bucket_blooms(
    seen: DataFrame, n_buckets: int, m_bits: int, k: int
) -> dict[int, bytes]:
    """Driver-resident {bucket: packed bytes} for the broadcast probe path.
    Size-gated: beyond MAX_DRIVER_BLOOM_BYTES use the sidecar path
    (build_bloom_sidecar + bloom_prefilter_sidecar) — never collect."""
    total = n_buckets * (m_bits // 8)
    if total > MAX_DRIVER_BLOOM_BYTES:
        raise ValueError(
            f"bloom of {total} bytes exceeds the driver gate "
            f"({MAX_DRIVER_BLOOM_BYTES}); use build_bloom_sidecar + "
            "bloom_prefilter_sidecar (bucket-partitioned, no driver collect)"
        )
    rows = _bloom_df(seen, n_buckets, m_bits, k).collect()
    return {r["bucket"]: bytes(r["bits"]) for r in rows}


def _geometry_path(path: str) -> str:
    import os

    return os.path.join(path, "_bloom_geometry.json")


def _write_geometry(path: str, m_bits: int, k: int, n_buckets: int) -> None:
    import json
    import os

    os.makedirs(path, exist_ok=True)
    tmp = _geometry_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"m_bits": m_bits, "k": k, "n_buckets": n_buckets}, f)
    os.replace(tmp, _geometry_path(path))


def _remove_geometry(path: str) -> None:
    import contextlib
    import os

    with contextlib.suppress(FileNotFoundError):
        os.remove(_geometry_path(path))


def read_bloom_geometry(path: str) -> tuple[int, int, int] | None:
    """(m_bits, k, n_buckets) persisted with the sidecar, or None. Loaders
    MUST validate this against their config before probing: reloaded bitmaps
    probed with a different geometry give silent false negatives."""
    import json
    import os

    p = _geometry_path(path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        g = json.load(f)
    return (g["m_bits"], g["k"], g["n_buckets"])


def build_bloom_sidecar(
    seen: DataFrame, path: str, n_buckets: int, m_bits: int, k: int
) -> None:
    """Scale path: build the bucketed Bloom distributed and write it straight
    to the sidecar parquet — no driver collect at any size.

    Crash-safe ordering: the geometry file is removed FIRST and rewritten
    LAST, so any partial state in between has no geometry and loaders
    rebuild instead of probing a half-written filter (a valid geometry over
    missing bitmaps would silently answer definitely-unseen for every key —
    false negatives across the whole seen set)."""
    _remove_geometry(path)
    _bloom_df(seen, n_buckets, m_bits, k).write.mode("overwrite").parquet(path)
    _write_geometry(path, m_bits, k, n_buckets)


def _swap_sidecar_parquet(
    path: str, tmp_dir: str, m_bits: int, k: int, n_buckets: int
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
    _write_geometry(path, m_bits, k, n_buckets)  # valid again


def merge_bloom_sidecar(
    spark: SparkSession,
    seen_delta: DataFrame,
    path: str,
    n_buckets: int,
    m_bits: int,
    k: int,
) -> None:
    """Fold a seen DELTA into the sidecar Bloom fully distributed — the
    sidecar-mode twin of engine._bloom_add_delta: executors build the
    delta's per-bucket bitmaps, union them with the existing sidecar rows,
    and OR-merge per bucket (one applyInPandas task per touched bucket).
    No bitmap ever reaches the driver; per-flush cost is one scan of the
    (filter-sized, n_buckets-row) sidecar plus the delta — independent of
    the seen table's size."""
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
    _swap_sidecar_parquet(path, tmp, m_bits, k, n_buckets)


def write_bloom_sidecar(
    spark: SparkSession,
    blooms: dict[int, bytes],
    path: str,
    m_bits: int | None = None,
    k: int | None = None,
    n_buckets: int | None = None,
) -> None:
    """Persist a driver-resident bucketed Bloom next to the seen snapshot,
    including its geometry (resume validates it before probing). The dict
    already lives on the driver (size-gated), so the parquet is written
    pyarrow-direct — a createDataFrame + write job cost ~0.5 s of pure
    scheduling on every flush. Spark reads it back like any parquet dir.

    Crash-safe ordering (ADVICE r4): geometry removed FIRST, parquet
    written to a temp name and os.replace()d, geometry written LAST — a
    crash at any point leaves either the old complete sidecar or a
    geometry-less dir that loaders treat as absent and rebuild. The old
    remove-then-write order could leave a valid geometry over zero
    parquet files, which probes as all-unseen (silent false negatives)."""
    import glob as _glob
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    _os.makedirs(path, exist_ok=True)
    _remove_geometry(path)
    target = _os.path.join(path, "part-00000.parquet")
    for old in _glob.glob(_os.path.join(path, "*.parquet")):
        if old != target:
            _os.remove(old)  # stale parts from a previous distributed write
    pq.write_table(
        pa.table(
            {
                "bucket": pa.array(list(blooms.keys()), pa.int32()),
                "bits": pa.array(list(blooms.values()), pa.binary()),
            }
        ),
        target + ".tmp",
    )
    _os.replace(target + ".tmp", target)
    if m_bits is not None and k is not None and n_buckets is not None:
        _write_geometry(path, m_bits, k, n_buckets)


def read_bloom_sidecar(spark: SparkSession, path: str) -> dict[int, bytes]:
    return {
        r["bucket"]: bytes(r["bits"])
        for r in spark.read.parquet(path).collect()
    }


def bloom_prefilter(
    candidates: DataFrame,
    blooms: dict[int, bytes],
    n_buckets: int,
    m_bits: int,
    k: int,
) -> DataFrame:
    """Append ``maybe_seen`` via an Arrow-batched membership probe.

    Candidates must carry ``url_hash``. Buckets missing from the dict are
    empty -> definitely unseen.
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast(blooms)
    # fresh StructType — StructType.add would mutate the df's cached schema
    schema = StructType(
        list(candidates.schema.fields) + [StructField("maybe_seen", BooleanType())]
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bl = bc.value
        unpacked: dict[int, np.ndarray] = {}
        for pdf in batches:
            signed = pdf["url_hash"].to_numpy(dtype=np.int64)
            h = signed.view(np.uint64)
            bkt = signed % n_buckets  # numpy % positive -> non-negative == pmod
            out = np.zeros(len(pdf), dtype=bool)
            for b in np.unique(bkt):
                bits_bytes = bl.get(int(b))
                if bits_bytes is None:
                    continue
                if int(b) not in unpacked:
                    unpacked[int(b)] = np.unpackbits(
                        np.frombuffer(bits_bytes, dtype=np.uint8)
                    ).astype(bool)
                bits = unpacked[int(b)]
                mask = bkt == b
                ok = np.ones(int(mask.sum()), dtype=bool)
                for pos in _probe_positions(h[mask], m_bits, k):
                    ok &= bits[pos]
                out[mask] = ok
            pdf = pdf.copy()
            pdf["maybe_seen"] = out
            yield pdf

    return candidates.mapInPandas(probe, schema)


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
    never broadcast or driver-resident (the 10^10-key / ~12 GB case that
    kills the dict path, round-1 verdict #4).

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
    blooms: dict[int, bytes] | None = None,
    n_buckets: int = 0,
    m_bits: int = 0,
    k: int = 0,
    sidecar_path: str | None = None,
) -> DataFrame:
    """Rows of ``candidates`` (url, url_hash, ...) not present in ``seen``.

    Exact semantics always; the Bloom path only short-circuits the shuffle
    for definitely-new rows. Pass ``blooms`` (small, broadcast dict) OR
    ``sidecar_path`` (bucket-partitioned executor-side loads — the scale
    path; the full Bloom never leaves the cluster).
    """
    seen_keys = seen.select("url_hash", "url")
    if blooms is None and sidecar_path is None:
        return candidates.join(seen_keys, ["url_hash", "url"], "left_anti")
    if sidecar_path is not None:
        probed = bloom_prefilter_sidecar(
            candidates, sidecar_path, n_buckets, m_bits, k
        )
    else:
        probed = bloom_prefilter(candidates, blooms, n_buckets, m_bits, k)
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = (
        probed.filter(F.col("maybe_seen"))
        .drop("maybe_seen")
        .join(seen_keys, ["url_hash", "url"], "left_anti")
    )
    return fresh.unionByName(maybe)

