"""Resume-from-checkpoint (north_rule) + partition-invariance tests."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mr_crawly_spark.datagen import corpus_to_spark
from mr_crawly_spark.engine import CrawlConfig, CrawlEngine
from mr_crawly_spark.operators import seen as seen_ops
from mr_crawly_spark.sources.corpus import CorpusFetcher

BLOOM = dict(use_bloom=True, bloom_buckets=4, bloom_expected_n=4096)


def _engine(spark, corpus, wh, **kw):
    docs, robots, sitemaps, seeds = corpus_to_spark(spark, corpus)
    return CrawlEngine(
        spark, CorpusFetcher(spark, documents=docs), robots, sitemaps, seeds,
        CrawlConfig(warehouse=wh, **kw),
    )


def _final_state(engine):
    order = [r["url"] for r in engine.crawl_order().orderBy("rank").collect()]
    seen = {r["url"] for r in engine.table("seen").collect()}
    links = {
        (r["seed_url"], r["source_url"], r["linked_url"])
        for r in engine.table("links").collect()
    }
    return order, seen, links


def _sidecar_bits(spark, path):
    return {r["bucket"]: bytes(r["bits"]) for r in spark.read.parquet(path).collect()}


def _count_builds(monkeypatch):
    builds = {"n": 0}
    real_build = seen_ops.build_bloom_sidecar

    def counting_build(*a, **kw):
        builds["n"] += 1
        return real_build(*a, **kw)

    monkeypatch.setattr(seen_ops, "build_bloom_sidecar", counting_build)
    return builds


def _unseen_probes(eng):
    """How many committed seen keys the engine's Bloom sidecar probes
    definitely-unseen (prefilter false negatives; must be 0)."""
    seen = eng.table("seen").select("url", "url_hash")
    m, k = eng._bloom_mk
    probed = seen_ops.bloom_prefilter_sidecar(
        seen, eng._bloom_sidecar_path(), eng.cfg.bloom_buckets, m, k
    )
    assert seen.count() > 0
    return probed.filter(~F.col("maybe_seen")).count()


@pytest.fixture(scope="module")
def exact_state(spark, tiny_corpus):
    """Final state of ONE default-config exact crawl over tiny_corpus —
    shared by every must-not-change-outputs test in this module (running a
    fresh baseline crawl per test was ~1/3 of the module's wall-clock)."""
    eng = _engine(spark, tiny_corpus, tempfile.mkdtemp(prefix="crawl_exsh_"))
    eng.run()
    return _final_state(eng)


def test_resume_equals_uninterrupted(spark, tiny_corpus, exact_state):
    """Kill after round 2, resume in a NEW engine, final state identical.
    checkpoint_interval=1 pins a resume point at every round (the default
    interval of 4 only guarantees resume points at flushed rounds)."""
    wh = tempfile.mkdtemp(prefix="crawl_resume_")
    first = _engine(spark, tiny_corpus, wh, max_rounds=2, checkpoint_interval=1)
    first.run()
    assert first.round == 2  # stopped early

    resumed = _engine(spark, tiny_corpus, wh, max_rounds=100)
    assert resumed.resume()
    assert resumed.round == 2
    assert resumed.visited_count == first.visited_count
    resumed.run(fresh=False)

    assert _final_state(resumed) == exact_state


@pytest.fixture(scope="module")
def ci1_run(spark, tiny_corpus):
    """ONE checkpoint_interval=1 full crawl (a resume point at every
    round), shared by the rollback/orphan time-travel tests — each test
    mutates a COPY of the warehouse, never the shared one."""
    wh = tempfile.mkdtemp(prefix="crawl_ci1_")
    eng = _engine(spark, tiny_corpus, wh, checkpoint_interval=1)
    eng.run()
    return wh, _final_state(eng), eng.round


def test_rollback_then_rerun(spark, tiny_corpus, ci1_run):
    """Time travel: roll back to round 1 and re-run -> same final state."""
    import shutil

    src, want, _ = ci1_run
    wh = src + "_rb"
    shutil.copytree(src, wh)
    again = _engine(spark, tiny_corpus, wh, checkpoint_interval=1)
    again.catalog.rollback_to(1)
    assert again.resume()
    assert again.round == 1
    again.run(fresh=False)
    assert _final_state(again) == want


def test_bloom_engine_equals_exact_engine(spark, tiny_corpus, exact_state):
    """use_bloom=True must not change any output (prefilter-only contract
    end-to-end, not just at the operator level)."""
    bloomed = _engine(
        spark, tiny_corpus, tempfile.mkdtemp(prefix="crawl_bl_"),
        use_bloom=True, bloom_buckets=4,
    )
    bloomed.run()
    # built, merged at every flush, stamped with the last flushed round
    path = bloomed._bloom_sidecar_path()
    assert bloomed._bloom_mk is not None
    assert any(any(v) for v in _sidecar_bits(spark, path).values())
    assert seen_ops.read_bloom_round(path) == bloomed.round
    assert _final_state(bloomed) == exact_state


def test_partition_invariance(spark, tiny_corpus, exact_state):
    """Same outputs under explicit hot-host salting / different partitioning —
    the determinism-under-parallelism property (SURVEY.md §5.2-5)."""
    salted = _engine(
        spark, tiny_corpus, tempfile.mkdtemp(prefix="crawl_s_"),
        salt_partitions=5, salt=7,
    )
    salted.run()
    assert _final_state(salted) == exact_state


def test_resume_discards_orphaned_table_commits(spark, tiny_corpus, ci1_run):
    """A crash can land between a table commit and the round manifest (the
    manifest is written last). Those orphaned deltas must NOT merge with the
    re-run's fresh commits: resume() rolls the catalog back to the last
    COMPLETE round first (ADVICE r2)."""
    import shutil

    src, want, final_round = ci1_run
    wh = src + "_orph"
    shutil.copytree(src, wh)
    again = _engine(spark, tiny_corpus, wh, checkpoint_interval=1)
    # rewind to round 1, then simulate a crash mid-flush of round 2: the
    # seen/pages table commits landed, the round manifest did not
    again.catalog.rollback_to(1)
    poison = spark.createDataFrame(
        [(999999, "https://orphan.test/x", 2, "run_0001")],
        "url_hash long, url string, first_seen_round int, run_id string",
    )
    again.catalog.commit("seen", poison, 2, mode="delta")

    assert again.resume()
    assert again.round == 1  # resumed at the last complete round
    again.run(fresh=False)
    assert again.round == final_round
    got = _final_state(again)
    assert got == want  # identical to the uninterrupted run...
    assert "https://orphan.test/x" not in got[1]  # ...orphan delta is gone


def test_bloom_sidecar_resume(spark, tiny_corpus, monkeypatch):
    """Resume reuses the persisted Bloom sidecar untouched instead of
    rebuilding — but ONLY when the persisted geometry matches; a mismatched
    config rebuilds from the seen table (mismatched m_bits would probe
    false negatives)."""
    wh = tempfile.mkdtemp(prefix="crawl_blsc_")
    eng = _engine(spark, tiny_corpus, wh, **BLOOM)
    eng.run()
    path = os.path.join(wh, "seen_bloom")
    saved = _sidecar_bits(spark, path)

    builds = _count_builds(monkeypatch)
    resumed = _engine(spark, tiny_corpus, wh, **BLOOM)
    assert resumed.resume()
    resumed._ensure_bloom_sidecar()
    assert builds["n"] == 0  # not rebuilt...
    assert resumed._bloom_mk == eng._bloom_mk
    assert _sidecar_bits(spark, path) == saved  # ...and left byte-identical

    # different expected_n -> different m_bits -> geometry mismatch:
    # must NOT reuse the stale sidecar (silent false negatives); rebuilds
    other = _engine(spark, tiny_corpus, wh, **{**BLOOM, "bloom_expected_n": 65536})
    assert other.resume()
    other._ensure_bloom_sidecar()
    assert builds["n"] == 1
    assert other._bloom_mk != eng._bloom_mk
    m_bits, k = other._bloom_mk
    assert seen_ops.read_bloom_geometry(path) == (m_bits, k, 4)
    assert all(len(v) == m_bits // 8 for v in _sidecar_bits(spark, path).values())


def test_stale_bloom_sidecar_rebuilt_after_bloom_off_rounds(
    spark, tiny_corpus, exact_state
):
    """Round 1 with use_bloom on, rounds 2-3 resumed with it off (their
    flushes never merge into the sidecar), then resumed with it on again:
    the sidecar is stamped round 1 < 3, so it must be rebuilt. Reusing it
    would probe the round 2-3 urls definitely-unseen and crawl them again."""
    wh = tempfile.mkdtemp(prefix="crawl_onoff_")
    _engine(spark, tiny_corpus, wh, max_rounds=1, checkpoint_interval=1,
            **BLOOM).run()
    off = _engine(spark, tiny_corpus, wh, max_rounds=3, checkpoint_interval=1)
    off.run(fresh=False)
    assert off.round == 3

    again = _engine(spark, tiny_corpus, wh, max_rounds=100, **BLOOM)
    again.run(fresh=False)
    assert _unseen_probes(again) == 0
    assert _final_state(again) == exact_state


def test_second_run_on_same_engine_flushes(spark, tiny_corpus):
    """A second run() on the same engine re-bootstraps (force_reset) and
    must flush its own rounds: flush progress left from the first run made
    flush() return early, so the round manifest stayed at 0 and the seen
    table lost every round's delta."""
    eng = _engine(
        spark, tiny_corpus, tempfile.mkdtemp(prefix="crawl_rerun_"),
        max_rounds=2, checkpoint_interval=2, force_reset=True,
    )
    eng.run()
    first = (eng.catalog.last_round()["round"], eng.table("seen").count())
    assert first[0] == 2
    eng.run()
    assert (eng.catalog.last_round()["round"], eng.table("seen").count()) == first


def test_sidecar_mode_resume_mid_crawl(spark, tiny_corpus, monkeypatch,
                                       exact_state):
    """Kill a Bloom crawl after round 2, resume in a NEW engine: the
    persisted geometry and round stamp revalidate (no rebuild), the
    sidecar keeps being probed/merged, final state identical to
    uninterrupted. The prefilter-only contract makes the shared exact
    crawl the baseline (a separate Bloom baseline run would assert the
    same equality transitively at twice the cost)."""
    cfg = dict(BLOOM, checkpoint_interval=1)
    wh = tempfile.mkdtemp(prefix="crawl_scres_")
    first = _engine(spark, tiny_corpus, wh, max_rounds=2, **cfg)
    first.run()
    assert first._bloom_mk is not None

    builds = _count_builds(monkeypatch)
    resumed = _engine(spark, tiny_corpus, wh, max_rounds=100, **cfg)
    assert resumed.resume()
    resumed.run(fresh=False)
    assert resumed._bloom_mk is not None
    assert builds["n"] == 0
    assert _final_state(resumed) == exact_state


def test_sidecar_merge_survives_flush_retry(spark, tiny_corpus, monkeypatch,
                                            exact_state):
    """A flush retried AFTER the seen commit cleared the delta list must
    still fold that delta into the sidecar filter (the captured union is
    held on the engine until the merge succeeds) — otherwise the
    committed-but-unmerged keys probe definitely-unseen forever: prefilter
    false negatives in exactly the retry scenario the flush contract
    promises to survive."""
    calls = {"n": 0}
    real_merge = seen_ops.merge_bloom_sidecar

    def flaky_merge(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected sidecar-merge failure")
        return real_merge(*a, **kw)

    monkeypatch.setattr(seen_ops, "merge_bloom_sidecar", flaky_merge)
    eng = _engine(
        spark, tiny_corpus, tempfile.mkdtemp(prefix="crawl_retry_"),
        checkpoint_interval=1, **BLOOM,
    )
    with pytest.raises(RuntimeError, match="injected"):
        eng.run()
    assert eng._bloom_mk is not None
    eng.flush()  # the documented retry path — must re-run the merge
    assert calls["n"] >= 2
    # no-false-negative audit: every committed seen key probes maybe_seen
    assert _unseen_probes(eng) == 0
