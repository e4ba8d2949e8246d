"""Crawl-trap detection (operators/traps.py): parameter-cardinality
flagging vs a python reference, surgical strip + frontier collapse
(idempotence, healthy hosts byte-identical), high-entropy path templating
(pagination NOT flagged), partition invariance, and validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mr_crawly_spark.operators import traps as TR


def _frontier(spark):
    """3 hosts x 40 URLs each, distinct by construction:
    - trap.test: unique sid per URL + low-cardinality page facet
    - shop.test: page facet only (page=0..4) on repeated paths
    - plain.test: no query string at all
    Duplicate frontier rows are planted (each URL twice) so distinctness
    accounting is exercised, not assumed."""
    base = spark.range(0, 40).select(F.col("id").cast("int").alias("i"))
    rows = []
    for r in base.collect():
        i = r["i"]
        rows.append(
            ("trap.test", f"https://trap.test/a/p{i % 8}?sid=s{i}&page={i % 5}")
        )
        rows.append(("shop.test", f"https://shop.test/c/p{i}?page={i % 5}"))
        rows.append(("plain.test", f"https://plain.test/d/p{i}"))
    df = spark.createDataFrame(rows * 2, "host string, url string")
    return df


def test_trap_param_flagging(spark):
    fr = _frontier(spark)
    st = {
        (r["host"], r["param"]): r
        for r in TR.trap_param_stats(fr, min_urls=10, value_ratio=0.5).collect()
    }
    # sid: 40 distinct URLs, 40 distinct values -> ratio 1.0, flagged
    sid = st[("trap.test", "sid")]
    assert sid["n_urls"] == 40 and sid["n_values"] == 40
    assert sid["value_ratio"] == 1.0 and sid["is_trap"]
    # page on trap.test: 40 urls, 5 values -> 0.125, not flagged
    pg_t = st[("trap.test", "page")]
    assert pg_t["n_values"] == 5 and not pg_t["is_trap"]
    # page on shop.test: 40 urls (p{i} distinct), 5 values -> not flagged
    assert not st[("shop.test", "page")]["is_trap"]
    # plain.test contributes no rows (no query strings)
    assert not any(h == "plain.test" for (h, _) in st)


def test_trap_param_min_urls_guard(spark):
    """5 URLs with 5 session ids is not evidence — min_urls gates it."""
    rows = [("s.test", f"https://s.test/p?sid={i}") for i in range(5)]
    fr = spark.createDataFrame(rows, "host string, url string")
    st = TR.trap_param_stats(fr, min_urls=10, value_ratio=0.5).collect()
    assert len(st) == 1 and not st[0]["is_trap"]
    st2 = TR.trap_param_stats(fr, min_urls=5, value_ratio=0.5).collect()
    assert st2[0]["is_trap"]


def test_strip_is_surgical_and_collapses(spark):
    fr = _frontier(spark)
    stats = TR.trap_param_stats(fr, min_urls=10, value_ratio=0.5)
    out = TR.strip_trap_params(fr, stats)
    by_host = {
        r["host"]: set()
        for r in out.select("host").distinct().collect()
    }
    for r in out.collect():
        by_host[r["host"]].add(r["url"])
    # trap.test: sid stripped, page KEPT -> 8 paths x 5 pages = 40 combos,
    # but (i%8, i%5) over 0..39 has period 40 -> all 40 survive as the 40
    # distinct (p, page) pairs... lcm(8,5)=40 so each pair occurs once
    assert by_host["trap.test"] == {
        f"https://trap.test/a/p{i % 8}?page={i % 5}" for i in range(40)
    }
    # healthy hosts byte-identical
    assert by_host["shop.test"] == {
        f"https://shop.test/c/p{i}?page={i % 5}" for i in range(40)
    }
    assert by_host["plain.test"] == {
        f"https://plain.test/d/p{i}" for i in range(40)
    }


def test_strip_idempotent(spark):
    fr = _frontier(spark)
    stats = TR.trap_param_stats(fr, min_urls=10, value_ratio=0.5)
    once = TR.strip_trap_params(fr, stats)
    stats2 = TR.trap_param_stats(once, min_urls=10, value_ratio=0.5)
    assert stats2.filter(F.col("is_trap")).count() == 0
    twice = TR.strip_trap_params(once, stats2)
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, twice.collect())
    )


def test_strip_drops_whole_query_when_all_params_flagged(spark):
    rows = [("t.test", f"https://t.test/p{i % 3}?sid=s{i}") for i in range(30)]
    fr = spark.createDataFrame(rows, "host string, url string")
    stats = TR.trap_param_stats(fr, min_urls=10, value_ratio=0.5)
    out = {r["url"] for r in TR.strip_trap_params(fr, stats).collect()}
    assert out == {f"https://t.test/p{i}" for i in range(3)}


def test_collapse_stats_accounting(spark):
    fr = _frontier(spark)
    stats = TR.trap_param_stats(fr, min_urls=10, value_ratio=0.5)
    cs = {r["host"]: r for r in TR.collapse_stats(fr, stats).collect()}
    assert cs["trap.test"]["n_before"] == 40
    assert cs["trap.test"]["n_after"] == 40  # page facet keeps all 40 here
    assert cs["shop.test"]["n_before"] == 40
    assert cs["shop.test"]["n_after"] == 40
    assert cs["shop.test"]["saved_frac"] == 0.0
    # a host where the strip genuinely shrinks the frontier
    rows = [("t.test", f"https://t.test/p{i % 3}?sid=s{i}") for i in range(30)]
    fr2 = spark.createDataFrame(rows, "host string, url string")
    st2 = TR.trap_param_stats(fr2, min_urls=10, value_ratio=0.5)
    c2 = TR.collapse_stats(fr2, st2).collect()[0]
    assert (c2["n_before"], c2["n_after"]) == (30, 3)
    assert c2["saved_frac"] == 0.9


def test_template_stats_pagination_not_flagged(spark):
    rows = []
    for i in range(40):
        # session token in the PATH: 12 hex chars -> collapses to '#'
        rows.append(
            ("t.test", "https://t.test/s/%012x" % (i * 2654435761 % (1 << 48)))
        )
        # ordinary pagination: short digit runs survive
        rows.append(("p.test", f"https://p.test/page/{i}"))
    fr = spark.createDataFrame(rows, "host string, url string")
    st = {
        r["host"]: r
        for r in TR.template_stats(fr, min_urls=10, expansion=5.0).collect()
    }
    assert st["t.test"]["n_templates"] == 1
    assert st["t.test"]["expansion"] == 40.0 and st["t.test"]["is_trap"]
    assert st["t.test"]["top_share"] == 1.0
    assert st["p.test"]["n_templates"] == 40 and not st["p.test"]["is_trap"]
    assert st["p.test"]["expansion"] == 1.0


def test_template_digit_run_threshold(spark):
    # 6+ digit runs collapse (timestamps / ids); 5-digit runs survive
    rows = [("a.test", f"https://a.test/d/{202600 + i}") for i in range(20)]
    rows += [("b.test", f"https://b.test/d/{10000 + i}") for i in range(20)]
    fr = spark.createDataFrame(rows, "host string, url string")
    st = {
        r["host"]: r
        for r in TR.template_stats(fr, min_urls=10, expansion=5.0).collect()
    }
    assert st["a.test"]["n_templates"] == 1 and st["a.test"]["is_trap"]
    assert st["b.test"]["n_templates"] == 20 and not st["b.test"]["is_trap"]


def test_partition_invariance(spark):
    fr = _frontier(spark)
    stats1 = TR.trap_param_stats(fr, min_urls=10, value_ratio=0.5)
    stats2 = TR.trap_param_stats(
        fr.repartition(7), min_urls=10, value_ratio=0.5
    )
    assert sorted(map(tuple, stats1.collect())) == sorted(
        map(tuple, stats2.collect())
    )
    c1 = TR.collapse_stats(fr, stats1)
    c2 = TR.collapse_stats(fr.repartition(7), stats2)
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))


def test_validation(spark):
    fr = _frontier(spark)
    with pytest.raises(ValueError, match="min_urls"):
        TR.trap_param_stats(fr, min_urls=0)
    with pytest.raises(ValueError, match="value_ratio"):
        TR.trap_param_stats(fr, value_ratio=1.5)
    with pytest.raises(ValueError, match="expansion"):
        TR.template_stats(fr, expansion=1.0)


def test_empty_frontier(spark):
    fr = spark.createDataFrame([], "host string, url string")
    assert TR.trap_param_stats(fr).count() == 0
    assert TR.template_stats(fr).count() == 0
    stats = TR.trap_param_stats(fr)
    assert TR.strip_trap_params(fr, stats).count() == 0
    assert TR.collapse_stats(fr, stats).count() == 0


# --------------------------------------------------------------------- #
# engine wiring: the opt-in trap gate (armed by
# CrawlEngine.refresh_trap_stats) strips flagged params from candidate
# outlinks BEFORE the seen anti-join, so the infinite axis stops growing
# while the already-enqueued rows play out normally

def _trap_corpus(n_sids: int = 12):
    """One host; root links to n_sids session-decorated /a{i}?sid=s{i}
    pages, each of which links to /b?sid=s{i} — a second infinite axis.
    The canonical https://t.test/b exists, so a gated crawl lands on it."""
    from mr_crawly_spark.datagen import Corpus

    host = "t.test"
    root = f"https://{host}/"

    def spans(hrefs):
        out = [{"kind": "text", "text": "intro", "media_ref": None, "offset": 0}]
        for i, h in enumerate(hrefs):
            out.append(
                {"kind": "link", "text": h, "media_ref": None, "offset": i + 1}
            )
        return out

    a_sids = [f"https://{host}/a{i}?sid=s{i}" for i in range(n_sids)]
    c = Corpus()
    c.hosts = [host]
    c.documents = [{"doc_id": root, "spans": spans(a_sids)}]
    for i in range(n_sids):
        c.documents.append(
            {"doc_id": a_sids[i], "spans": spans([f"/b?sid=s{i}"])}
        )
        c.documents.append(
            {"doc_id": f"https://{host}/b?sid=s{i}", "spans": spans([])}
        )
    c.documents.append({"doc_id": f"https://{host}/b", "spans": spans([])})
    c.seeds = [
        {"seed_url_id": 1, "domain": host, "url": root, "description": "seed"}
    ]
    return c


def _trap_engine(spark, corpus, **kw):
    import tempfile

    from mr_crawly_spark.datagen import corpus_to_spark
    from mr_crawly_spark.engine import CrawlConfig, CrawlEngine
    from mr_crawly_spark.sources.corpus import CorpusFetcher

    docs, robots, sitemaps, seeds = corpus_to_spark(spark, corpus)
    return CrawlEngine(
        spark,
        CorpusFetcher(spark, documents=docs),
        robots, sitemaps, seeds,
        CrawlConfig(
            warehouse=tempfile.mkdtemp(prefix="trap_gate_"), max_pages=60, **kw
        ),
    )


def test_engine_trap_gate_stops_infinite_axis(spark):
    corpus = _trap_corpus(n_sids=20)
    eng = _trap_engine(spark, corpus)
    # two ungated rounds: root + first politeness-budget slice of a-sids;
    # the frontier accumulates enough sid URLs (20 a-sids + the first
    # b-sids) to cross trap_param_stats' default min_urls=20
    eng.bootstrap()
    eng.run_round()
    eng.run_round()
    fr = eng.table("frontier")
    b_sids_before = {
        r["url"] for r in fr.collect() if r["url"].startswith("https://t.test/b?")
    }
    flagged = eng.refresh_trap_stats()
    assert flagged == 1  # (t.test, sid)
    # play the crawl out: every later /b?sid=... candidate is stripped to
    # the canonical /b, so the second axis gains ZERO new frontier rows
    for _ in range(20):
        m = eng.run_round()
        if m["processed"] == 0:
            break
    fr = eng.table("frontier")
    urls = {r["url"] for r in fr.collect()}
    assert "https://t.test/b" in urls
    b_sids_after = {u for u in urls if u.startswith("https://t.test/b?")}
    assert b_sids_after == b_sids_before
    # the canonical target was actually fetched, not just enqueued
    pages = eng.table("pages").filter(
        (F.col("url") == "https://t.test/b") & (F.col("fetch_status") == 200)
    )
    assert pages.count() == 1


def test_engine_trap_gate_off_by_default(spark):
    """Control: without the gate every b-sid is enqueued and the canonical
    /b (linked from nowhere) never appears."""
    corpus = _trap_corpus()
    eng = _trap_engine(spark, corpus)
    eng.run()
    urls = {r["url"] for r in eng.table("frontier").collect()}
    assert "https://t.test/b" not in urls
    assert len({u for u in urls if u.startswith("https://t.test/b?")}) == 12
