"""Resume-from-checkpoint (north_rule) + partition-invariance tests."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from mr_crawly_spark.datagen import corpus_to_spark
from mr_crawly_spark.engine import CrawlConfig, CrawlEngine
from mr_crawly_spark.plans.catalog import SnapshotCatalog
from mr_crawly_spark.sources.corpus import CorpusFetcher


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


def test_partition_invariance(spark, tiny_corpus, exact_state):
    """Same outputs under explicit hot-host salting / different partitioning —
    the determinism-under-parallelism property (SURVEY.md §5.2-5)."""
    salted = _engine(
        spark, tiny_corpus, tempfile.mkdtemp(prefix="crawl_s_"),
        salt_partitions=5,
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


def _manifest_rounds(wh):
    """{table: [round of each manifest]} over every table dir."""
    out = {}
    for table in sorted(os.listdir(wh)):
        tdir = os.path.join(wh, table)
        if table.startswith("_") or not os.path.isdir(tdir):
            continue
        rounds = []
        for fn in os.listdir(tdir):
            if fn.startswith("manifest-"):
                with open(os.path.join(tdir, fn)) as f:
                    rounds.append(json.load(f)["round"])
        out[table] = rounds
    return out


def test_flush_retry_commits_each_table_once(spark, tiny_corpus, monkeypatch,
                                             exact_state):
    """A flush that fails midway is retryable: the retry commits only the
    tables the failed attempt missed, so no table gets two manifests for
    the round, and a fresh engine resumes from it to the uninterrupted
    final state."""
    real_commit = SnapshotCatalog.commit
    calls = {"links": 0}

    def flaky_commit(self, table, *a, **kw):
        if table == "links":
            calls["links"] += 1
            if calls["links"] == 1:
                raise RuntimeError("injected links-commit failure")
        return real_commit(self, table, *a, **kw)

    monkeypatch.setattr(SnapshotCatalog, "commit", flaky_commit)
    wh = tempfile.mkdtemp(prefix="crawl_retry_")
    eng = _engine(spark, tiny_corpus, wh, checkpoint_interval=1)
    with pytest.raises(RuntimeError, match="injected"):
        eng.run()
    r = eng.round
    assert eng.catalog.last_round()["round"] == r - 1  # round r not complete
    eng.flush()  # the documented retry path
    assert eng.catalog.last_round()["round"] == r
    per_round = {
        t: rounds.count(r) for t, rounds in _manifest_rounds(wh).items()
        if r in rounds
    }
    assert {"frontier", "seen", "pages", "links"} <= set(per_round)
    assert set(per_round.values()) == {1}, per_round

    resumed = _engine(spark, tiny_corpus, wh, max_rounds=100)
    assert resumed.resume()
    assert resumed.round == r
    resumed.run(fresh=False)
    assert _final_state(resumed) == exact_state


def test_torn_manifest_write_leaves_no_manifest(spark, tiny_corpus,
                                               monkeypatch, exact_state):
    """A table manifest whose write dies partway must not be published: a
    torn manifest-*.json would make every later load() and resume() fail
    in json.load. The tmp+os.replace writer leaves only its dot-tmp file,
    which readers never scan."""
    real_dump = json.dump
    torn = {"n": 0}

    def dump_then_die(obj, f, *a, **kw):
        if isinstance(obj, dict) and (obj.get("table"), obj.get("round")) == (
            "links", 2
        ):
            torn["n"] += 1
            f.write(json.dumps(obj)[:40])
            f.flush()
            raise OSError("injected: disk full mid-manifest")
        return real_dump(obj, f, *a, **kw)

    monkeypatch.setattr(json, "dump", dump_then_die)
    wh = tempfile.mkdtemp(prefix="crawl_torn_")
    eng = _engine(spark, tiny_corpus, wh, checkpoint_interval=1)
    with pytest.raises(OSError, match="injected"):
        eng.run()
    assert torn["n"] == 1
    monkeypatch.setattr(json, "dump", real_dump)
    # every published manifest parses; the torn one was never published
    rounds = _manifest_rounds(wh)
    assert 2 not in rounds["links"]

    resumed = _engine(spark, tiny_corpus, wh, max_rounds=100)
    assert resumed.resume()
    assert resumed.round == 1
    resumed.run(fresh=False)
    assert _final_state(resumed) == exact_state
