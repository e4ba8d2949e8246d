"""The golden test (SURVEY.md §5.2): Spark engine ≡ sequential oracle.

Asserts, for the same seed list + politeness budget + logical clock:
- exact crawl-order equality (O5)
- URL-seen-set equality (D2)
- links-table equality incl. the self-link quirk A4
- per-document span-sequence equality (the input_hint invariant)
- sitemap detail rows (S8) equality
- mid-round max-pages cutoff equality (F6)
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from mr_crawly_spark.datagen import corpus_to_spark
from mr_crawly_spark.engine import CrawlConfig, CrawlEngine
from mr_crawly_spark.operators.parse import extract_outlinks, spans_in_order
from mr_crawly_spark.sources.corpus import CorpusFetcher
from oracle.crawler import OracleCrawler


def build_engine(spark, corpus, **cfg_kwargs):
    docs, robots, sitemaps, seeds = corpus_to_spark(spark, corpus)
    wh = tempfile.mkdtemp(prefix="crawl_wh_")
    return CrawlEngine(
        spark,
        CorpusFetcher(spark, documents=docs),
        robots,
        sitemaps,
        seeds,
        CrawlConfig(warehouse=wh, **cfg_kwargs),
    )


@pytest.fixture(scope="module")
def run_pair(spark, small_corpus):
    oracle = OracleCrawler(small_corpus).run()
    engine = build_engine(spark, small_corpus)
    engine.run()
    return oracle, engine


def test_crawl_order_equality(run_pair):
    oracle, engine = run_pair
    got = [r["url"] for r in engine.crawl_order().orderBy("rank").collect()]
    assert got == oracle.crawl_order
    assert len(got) > 20  # the corpus actually crawls


def test_seen_set_equality(run_pair):
    oracle, engine = run_pair
    got = {r["url"] for r in engine.table("seen").collect()}
    assert got == oracle.seen


def test_links_equality(run_pair):
    oracle, engine = run_pair
    got = {
        (r["seed_url"], r["source_url"], r["linked_url"])
        for r in engine.table("links").collect()
    }
    assert got == oracle.links
    # self-link quirk A4 visible: some page links to itself
    assert any(s == l for _, s, l in got)


def test_pages_statuses(run_pair):
    oracle, engine = run_pair
    got = {
        r["url"]: (r["fetch_status"], r["round"], r["n_spans"])
        for r in engine.table("pages").collect()
    }
    want = {
        u: (p["fetch_status"], p["round"], p["n_spans"])
        for u, p in oracle.pages.items()
    }
    assert got == want
    assert any(st == 404 for st, _, _ in got.values())  # 404 path exercised


def test_span_sequences(run_pair, spark, small_corpus):
    """input_hint invariant: per-doc (order, kind, text, media_ref) equality."""
    oracle, engine = run_pair
    docs, *_ = corpus_to_spark(spark, small_corpus)
    fetched_urls = engine.table("pages").filter(F.col("fetch_status") == 200)
    fetched_docs = docs.join(
        fetched_urls.select(F.col("url").alias("doc_id")), "doc_id", "inner"
    ).select(F.col("doc_id").alias("url"), "spans")
    got_rows = spans_in_order(fetched_docs).collect()
    got: dict[str, list[tuple]] = {}
    for r in got_rows:
        got.setdefault(r["doc_id"], []).append(
            (r["order"], r["kind"], r["text"], r["media_ref"])
        )
    for doc in got:
        got[doc].sort()
    want = {
        u: [(i, k, t, m) for i, (_, k, t, m) in enumerate(sp)]
        for u, sp in oracle.spans.items()
    }
    assert got == want


def test_sitemap_details(run_pair):
    oracle, engine = run_pair
    got = {
        (r["source_url"], r["index_url"], r["loc"], r["priority"],
         r["frequency"], r["modified"], r["status"])
        for r in engine.table("sitemaps").collect()
    }
    want = {
        (d["source_url"], d["index_url"], d["loc"], d["priority"],
         d["frequency"], d["modified"], d["status"])
        for d in oracle.sitemap_details
    }
    assert got == want


def test_retries_and_robots_exercised(run_pair):
    """The corpus must actually hit the retry + robots-denied paths."""
    _, engine = run_pair
    frontier = engine.table("frontier")
    statuses = {r["status"] for r in frontier.select("status").distinct().collect()}
    assert "fetched" in statuses
    assert "error" in statuses  # 404s
    retried = frontier.filter(F.col("retry_count") > 0)
    assert retried.count() > 0  # transient 503 path taken


@pytest.mark.parametrize("max_pages", [17])
def test_mid_round_budget_cutoff(spark, small_corpus, max_pages):
    """F6: the crawl stops mid-round exactly where the oracle stops."""
    oracle = OracleCrawler(small_corpus, max_pages=max_pages).run()
    engine = build_engine(spark, small_corpus, max_pages=max_pages)
    engine.run()
    got = [r["url"] for r in engine.crawl_order().orderBy("rank").collect()]
    assert got == oracle.crawl_order
    assert len(got) == max_pages
    got_seen = {r["url"] for r in engine.table("seen").collect()}
    assert got_seen == oracle.seen


@pytest.mark.parametrize("retries", [1, 3])
def test_retries_knob_lockstep(spark, small_corpus, retries):
    """CLI --retries parity (reference main.py:33-38): the engine's
    CrawlConfig.max_retries and the oracle's max_retries produce identical
    crawls at any setting. retries=1 turns every transient 503 into a
    permanent error (no second attempt); retries=3 is the default path.
    small_corpus is known to contain transient-fail urls
    (test_retries_and_robots_exercised)."""
    oracle = OracleCrawler(small_corpus, max_retries=retries).run()
    engine = build_engine(spark, small_corpus, max_retries=retries)
    engine.run()
    got = [r["url"] for r in engine.crawl_order().orderBy("rank").collect()]
    assert got == oracle.crawl_order
    got_seen = {r["url"] for r in engine.table("seen").collect()}
    assert got_seen == oracle.seen
    # the knob is live: at retries=1 the transient-fail urls never fetch
    if retries == 1:
        errored = {
            r["url"]
            for r in engine.table("frontier")
            .filter((F.col("status") == "error") & (F.col("retry_count") > 0))
            .collect()
        }
        assert errored  # 503 urls became permanent errors
        assert not (errored & set(got))


@pytest.mark.parametrize("delay", [30.0, 2.0])
def test_delay_knob_lockstep(spark, small_corpus, delay):
    """CLI --delay parity (reference README.md:45 documents a default
    per-request delay; its code never implements it): the engine's
    CrawlConfig.default_delay and the oracle's default_delay produce
    identical crawls at any setting. delay=30 shrinks ruleless hosts'
    per-round budget to 2 (vs 6 at the default 10s); delay=2 saturates the
    MAX_PER_HOST_PER_ROUND cap at 8. Odd-numbered corpus hosts carry no
    robots rows (datagen), so the knob is live."""
    oracle = OracleCrawler(small_corpus, default_delay=delay).run()
    engine = build_engine(spark, small_corpus, default_delay=delay)
    engine.run()
    got = [r["url"] for r in engine.crawl_order().orderBy("rank").collect()]
    assert got == oracle.crawl_order
    got_seen = {r["url"] for r in engine.table("seen").collect()}
    assert got_seen == oracle.seen


def test_delay_knob_changes_round_shape(spark, small_corpus):
    """The knob actually binds: at delay=30 a ruleless host fetches at most
    2 urls per round (vs up to 6 at the default)."""
    from mr_crawly_spark.datagen import host_budget

    assert host_budget(30.0) == 2 and host_budget(10.0) == 6
    # delay=60 -> budget 1/round for ruleless hosts; their pages serialize
    # and the crawl provably takes more rounds than the default
    oracle_slow = OracleCrawler(small_corpus, default_delay=60.0).run()
    oracle_default = OracleCrawler(small_corpus).run()
    assert oracle_slow.rounds_run > oracle_default.rounds_run
    assert oracle_slow.crawl_order and (
        set(oracle_slow.crawl_order) == set(oracle_default.crawl_order)
    )  # throttling changes WHEN, never WHAT


def _crawl_with_widths(spark, corpus, monkeypatch):
    """Run one crawl, recording the width each round gives the
    canonicalizer stage."""
    import mr_crawly_spark.engine as engine_mod

    widths = []

    def spy(fetched, width=None):
        widths.append(width)
        return extract_outlinks(fetched, width=width)

    monkeypatch.setattr(engine_mod, "extract_outlinks", spy)
    engine = build_engine(spark, corpus)
    engine.run()
    order = [r["url"] for r in engine.crawl_order().orderBy("rank").collect()]
    seen = {r["url"] for r in engine.table("seen").collect()}
    links = {
        (r["seed_url"], r["source_url"], r["linked_url"])
        for r in engine.table("links").collect()
    }
    return widths, (order, seen, links)


def test_python_stage_width_does_not_change_the_crawl(
    spark, tiny_corpus, monkeypatch
):
    """Every test corpus is small, so by default each round's canonicalizer
    runs as ONE Python task. With one page per task the width follows the
    round's page count instead, and a round with at least as many pending
    pages as the shuffle width gets None: no repartition, the plan every
    round ran before the stage was sized. Both must give the oracle's
    crawl."""
    from mr_crawly_spark import sizing

    o = OracleCrawler(tiny_corpus).run()
    want = (o.crawl_order, o.seen, o.links)
    narrow, got_narrow = _crawl_with_widths(spark, tiny_corpus, monkeypatch)
    monkeypatch.setattr(sizing, "PAGES_PER_PYTHON_TASK", 1)
    wide, got_wide = _crawl_with_widths(spark, tiny_corpus, monkeypatch)
    assert set(narrow) == {1}
    assert None in wide
    assert got_narrow == want
    assert got_wide == want
