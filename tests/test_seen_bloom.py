"""Bloom prefilter contract (D2, SURVEY.md §7.4): zero false negatives,
prefilter-only — the Bloom path returns EXACTLY the anti-join's rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from mr_crawly_spark.functions.urls import url_hash_col
from mr_crawly_spark.operators import seen as seen_ops


def _with_hash(df):
    return df.withColumn("url_hash", url_hash_col(F.col("url")))


def test_bloom_path_equals_exact_antijoin(spark, tmp_path):
    seen = _with_hash(
        spark.createDataFrame(
            [(f"https://h{i % 7}.test/p/{i}",) for i in range(500)], "url string"
        )
    )
    # candidates: half overlap seen, half fresh
    cands = _with_hash(
        spark.createDataFrame(
            [(f"https://h{i % 7}.test/p/{i}",) for i in range(250, 750)],
            "url string",
        )
    )
    exact = {
        r["url"] for r in seen_ops.filter_unseen(cands, seen).collect()
    }
    n_buckets = 8
    m, k = seen_ops.bloom_params(500, fpp=0.05)
    path = str(tmp_path / "bloom")
    seen_ops.build_bloom_sidecar(seen, path, n_buckets, m, k, round_=0)
    got = {
        r["url"]
        for r in seen_ops.filter_unseen(
            cands, seen, n_buckets=n_buckets, m_bits=m, k=k, sidecar_path=path
        ).collect()
    }
    assert got == exact
    assert got == {f"https://h{i % 7}.test/p/{i}" for i in range(500, 750)}


def test_bloom_no_false_negatives(spark, tmp_path):
    """Every seen url must probe positive (the safety property)."""
    seen = _with_hash(
        spark.createDataFrame(
            [(f"https://x.test/{i}",) for i in range(1000)], "url string"
        )
    )
    n_buckets = 4
    m, k = seen_ops.bloom_params(1000, fpp=0.01)
    path = str(tmp_path / "bloom")
    seen_ops.build_bloom_sidecar(seen, path, n_buckets, m, k, round_=0)
    probed = seen_ops.bloom_prefilter_sidecar(seen, path, n_buckets, m, k)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_sidecar_roundtrip(spark, tmp_path):
    """The sidecar persists one m_bits/8-byte bitmap per bucket plus its
    geometry and the round it covers; a merge restamps the round."""
    seen = _with_hash(
        spark.createDataFrame([(f"https://x.test/{i}",) for i in range(100)], "url string")
    )
    m, k = seen_ops.bloom_params(100)
    path = str(tmp_path / "bloom")
    seen_ops.build_bloom_sidecar(seen, path, 4, m, k, round_=3)
    assert seen_ops.read_bloom_geometry(path) == (m, k, 4)
    assert seen_ops.read_bloom_round(path) == 3
    rows = spark.read.parquet(path).collect()
    assert sorted(r["bucket"] for r in rows) == [0, 1, 2, 3]
    assert all(len(r["bits"]) == m // 8 for r in rows)

    seen_ops.merge_bloom_sidecar(spark, seen, path, 4, m, k, round_=5)
    assert seen_ops.read_bloom_geometry(path) == (m, k, 4)
    assert seen_ops.read_bloom_round(path) == 5
    assert seen_ops.read_bloom_round(str(tmp_path / "absent")) is None


def test_sidecar_probe_equals_exact_and_is_bucket_local(spark, tmp_path):
    """The scale path (verdict #4): the bucket-partitioned sidecar probe
    returns exactly the anti-join's rows, and each probe task loads only the
    bucket(s) in its partition — never the whole Bloom."""
    seen = _with_hash(
        spark.createDataFrame(
            [(f"https://h{i % 7}.test/p/{i}",) for i in range(500)], "url string"
        )
    )
    cands = _with_hash(
        spark.createDataFrame(
            [(f"https://h{i % 7}.test/p/{i}",) for i in range(250, 750)],
            "url string",
        )
    )
    n_buckets = 8
    m, k = seen_ops.bloom_params(500, fpp=0.05)
    path = str(tmp_path / "bloom_sc")
    seen_ops.build_bloom_sidecar(seen, path, n_buckets, m, k, round_=0)
    assert seen_ops.read_bloom_geometry(path) == (m, k, n_buckets)

    exact = {r["url"] for r in seen_ops.filter_unseen(cands, seen).collect()}
    got = {
        r["url"]
        for r in seen_ops.filter_unseen(
            cands, seen, n_buckets=n_buckets, m_bits=m, k=k, sidecar_path=path
        ).collect()
    }
    assert got == exact

    # locality: with candidates range-partitioned on the bucket id, a task
    # never loads more than the buckets of its own partition (dense 0..7 ids
    # over 8 range partitions -> 1 each; assert the no-full-broadcast bound)
    probed = seen_ops.bloom_prefilter_sidecar(
        cands, path, n_buckets, m, k, debug_loaded_col=True
    )
    per_row = [r["_buckets_loaded"] for r in probed.collect()]
    assert max(per_row) <= 2
    assert max(per_row) < n_buckets  # no task touched the whole Bloom


def test_sidecar_geometry_mismatch_rejected(spark, tmp_path):
    seen = _with_hash(
        spark.createDataFrame([(f"https://x.test/{i}",) for i in range(50)], "url string")
    )
    m, k = seen_ops.bloom_params(50)
    path = str(tmp_path / "bloom_geo")
    seen_ops.build_bloom_sidecar(seen, path, 4, m, k, round_=0)
    import pytest

    with pytest.raises(ValueError, match="geometry"):
        seen_ops.bloom_prefilter_sidecar(seen, path, 8, m, k).count()


def test_merge_bloom_sidecar_distributed(spark, tmp_path):
    """Flush-cadence fold: base sidecar + two deltas merged fully
    distributed must equal a sidecar built from the full set — probe-wise
    (no false negative for ANY seen key, filter result == exact)."""
    n_buckets = 8
    m, k = seen_ops.bloom_params(1200, fpp=0.02)
    base = _with_hash(
        spark.createDataFrame(
            [(f"https://h{i % 5}.test/p/{i}",) for i in range(600)], "url string"
        )
    )
    path = str(tmp_path / "bloom_merge")
    seen_ops.build_bloom_sidecar(base, path, n_buckets, m, k, round_=0)
    full = base
    for rnd, (lo, hi) in enumerate(((600, 900), (900, 1200)), start=1):
        delta = _with_hash(
            spark.createDataFrame(
                [(f"https://h{i % 5}.test/p/{i}",) for i in range(lo, hi)],
                "url string",
            )
        )
        seen_ops.merge_bloom_sidecar(
            spark, delta, path, n_buckets, m, k, round_=rnd
        )
        full = full.unionByName(delta)
    assert seen_ops.read_bloom_geometry(path) == (m, k, n_buckets)
    # safety: every seen key still probes positive after the merges
    probed = seen_ops.bloom_prefilter_sidecar(full, path, n_buckets, m, k)
    from pyspark.sql import functions as F2
    assert probed.filter(~F2.col("maybe_seen")).count() == 0
    cands = _with_hash(
        spark.createDataFrame(
            [(f"https://h{i % 5}.test/p/{i}",) for i in range(800, 1600)],
            "url string",
        )
    )
    exact = {r["url"] for r in seen_ops.filter_unseen(cands, full).collect()}
    got = {
        r["url"]
        for r in seen_ops.filter_unseen(
            cands, full, n_buckets=n_buckets, m_bits=m, k=k, sidecar_path=path
        ).collect()
    }
    assert got == exact


def test_gutted_sidecar_fails_loud_not_false_negative(spark, tmp_path):
    """ADVICE r4: a sidecar dir with a valid geometry but NO parquet files
    (the old non-atomic write's crash window) must REFUSE to load/probe —
    returning {} would silently answer definitely-unseen for every key."""
    import glob
    import os

    import pytest

    seen = _with_hash(
        spark.createDataFrame(
            [(f"https://x.test/{i}",) for i in range(50)], "url string"
        )
    )
    m, k = seen_ops.bloom_params(50)
    bpath = str(tmp_path / "bloom_gut")
    seen_ops.build_bloom_sidecar(seen, bpath, 4, m, k, round_=0)
    for fn in glob.glob(os.path.join(bpath, "*.parquet")):
        os.remove(fn)
    assert seen_ops.read_bloom_geometry(bpath) is not None  # looks valid...
    with pytest.raises(FileNotFoundError):
        seen_ops.bloom_prefilter_sidecar(seen, bpath, 4, m, k)  # ...refuses


def test_sidecar_writes_are_geometry_last(spark, tmp_path):
    """Crash-safety ordering (ADVICE r4): both sidecar writers drop the
    geometry before touching the bitmaps and write it only after the new
    parquet is in place, so a crash in between leaves a geometry-less dir
    that loaders rebuild — never a valid geometry over partial bitmaps."""
    import glob
    import os
    import unittest.mock as mock

    seen = _with_hash(
        spark.createDataFrame(
            [(f"https://x.test/{i}",) for i in range(64)], "url string"
        )
    )
    m, k = seen_ops.bloom_params(64)
    bpath = str(tmp_path / "bloom_atomic")

    # the build: geometry removed first, written last over a full dir
    events: list[tuple[str, int]] = []
    real_remove = seen_ops._remove_geometry
    real_write = seen_ops._write_geometry

    def n_parquet() -> int:
        return len(glob.glob(os.path.join(bpath, "*.parquet")))

    def spy_remove(path):
        events.append(("remove", n_parquet()))
        return real_remove(path)

    def spy_write(path, *a):
        events.append(("write", n_parquet()))
        return real_write(path, *a)

    with mock.patch.object(seen_ops, "_remove_geometry", spy_remove), \
            mock.patch.object(seen_ops, "_write_geometry", spy_write):
        seen_ops.build_bloom_sidecar(seen, bpath, 4, m, k, round_=0)
    assert [e for e, _ in events] == ["remove", "write"]
    assert events[-1][1] > 0  # the bitmaps were on disk before the geometry
    assert seen_ops.read_bloom_geometry(bpath) == (m, k, 4)

    # the distributed merge swaps its parts in with os.replace, geometry last
    real_replace = os.replace
    order: list[str] = []

    def spy_replace(src, dst):
        order.append(os.path.basename(str(dst)))
        return real_replace(src, dst)

    with mock.patch("os.replace", side_effect=spy_replace):
        seen_ops.merge_bloom_sidecar(spark, seen, bpath, 4, m, k, round_=1)
    assert order[-1] == "_bloom_geometry.json"
    assert "part-00000.parquet" in order
    assert seen_ops.read_bloom_geometry(bpath) == (m, k, 4)
