"""Bloom prefilter contract (D2, SURVEY.md §7.4): zero false negatives,
prefilter-only — the Bloom path returns EXACTLY the anti-join's rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from mr_crawly_spark.functions.urls import url_hash_col
from mr_crawly_spark.operators import seen as seen_ops


def _with_hash(df):
    return df.withColumn("url_hash", url_hash_col(F.col("url")))


def test_bloom_path_equals_exact_antijoin(spark):
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
    blooms = seen_ops.build_bucket_blooms(seen, n_buckets, m, k)
    got = {
        r["url"]
        for r in seen_ops.filter_unseen(
            cands, seen, blooms, n_buckets, m, k
        ).collect()
    }
    assert got == exact
    assert got == {f"https://h{i % 7}.test/p/{i}" for i in range(500, 750)}


def test_bloom_no_false_negatives(spark):
    """Every seen url must probe positive (the safety property)."""
    seen = _with_hash(
        spark.createDataFrame(
            [(f"https://x.test/{i}",) for i in range(1000)], "url string"
        )
    )
    n_buckets = 4
    m, k = seen_ops.bloom_params(1000, fpp=0.01)
    blooms = seen_ops.build_bucket_blooms(seen, n_buckets, m, k)
    probed = seen_ops.bloom_prefilter(seen, blooms, n_buckets, m, k)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_sidecar_roundtrip(spark, tmp_path):
    seen = _with_hash(
        spark.createDataFrame([(f"https://x.test/{i}",) for i in range(100)], "url string")
    )
    m, k = seen_ops.bloom_params(100)
    blooms = seen_ops.build_bucket_blooms(seen, 4, m, k)
    path = str(tmp_path / "bloom")
    seen_ops.write_bloom_sidecar(spark, blooms, path, m_bits=m, k=k, n_buckets=4)
    assert seen_ops.read_bloom_sidecar(spark, path) == blooms
    assert seen_ops.read_bloom_geometry(path) == (m, k, 4)


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
    seen_ops.build_bloom_sidecar(seen, path, n_buckets, m, k)
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
    seen_ops.build_bloom_sidecar(seen, path, 4, m, k)
    import pytest

    with pytest.raises(ValueError, match="geometry"):
        seen_ops.bloom_prefilter_sidecar(seen, path, 8, m, k).count()


def test_driver_bloom_size_gate():
    import pytest

    from pyspark.sql import DataFrame  # noqa: F401

    with pytest.raises(ValueError, match="driver gate"):
        # 10^10-key shape: 4096 buckets x ~12 GB total — must refuse collect
        seen_ops.build_bucket_blooms(None, 4096, 95_850_584_000 // 4096, 7)


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
    seen_ops.build_bloom_sidecar(base, path, n_buckets, m, k)
    full = base
    for lo, hi in ((600, 900), (900, 1200)):
        delta = _with_hash(
            spark.createDataFrame(
                [(f"https://h{i % 5}.test/p/{i}",) for i in range(lo, hi)],
                "url string",
            )
        )
        seen_ops.merge_bloom_sidecar(spark, delta, path, n_buckets, m, k)
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
    seen_ops.build_bloom_sidecar(seen, bpath, 4, m, k)
    for fn in glob.glob(os.path.join(bpath, "*.parquet")):
        os.remove(fn)
    assert seen_ops.read_bloom_geometry(bpath) is not None  # looks valid...
    with pytest.raises(FileNotFoundError):
        seen_ops.bloom_prefilter_sidecar(seen, bpath, 4, m, k)  # ...refuses


def test_sidecar_writes_are_geometry_last(spark, tmp_path):
    """Crash-safety ordering (ADVICE r4): the sidecar writers must stage
    the parquet via a temp name + os.replace and write the geometry only
    after the data is in place — verified by interposing on os.replace and
    asserting the parquet landed before the geometry file."""
    import os

    seen = _with_hash(
        spark.createDataFrame(
            [(f"https://x.test/{i}",) for i in range(64)], "url string"
        )
    )

    real_replace = os.replace
    order: list[str] = []

    def spy_replace(src, dst):
        order.append(os.path.basename(str(dst)))
        return real_replace(src, dst)

    import unittest.mock as mock

    m, k = seen_ops.bloom_params(64)
    blooms = seen_ops.build_bucket_blooms(seen, 4, m, k)
    bpath = str(tmp_path / "bloom_atomic")
    with mock.patch("os.replace", side_effect=spy_replace):
        seen_ops.write_bloom_sidecar(
            spark, blooms, bpath, m_bits=m, k=k, n_buckets=4
        )
    # data file replaced BEFORE the geometry file landed
    assert order.index("part-00000.parquet") < order.index(
        "_bloom_geometry.json"
    )
    assert seen_ops.read_bloom_sidecar(spark, bpath) == blooms

    # the distributed merge swaps its parts in under the same ordering
    order.clear()
    with mock.patch("os.replace", side_effect=spy_replace):
        seen_ops.merge_bloom_sidecar(spark, seen, bpath, 4, m, k)
    assert order[-1] == "_bloom_geometry.json"
    assert "part-00000.parquet" in order
    assert seen_ops.read_bloom_geometry(bpath) == (m, k, 4)
