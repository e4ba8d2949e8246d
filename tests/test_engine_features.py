"""Round-2 engine surface: content persistence (S5/S6), page-cache read
(S4/J2), recrawl metadata + scheduling (O2), warehouse hygiene, sitemap
upsert view (S8), seed-list ingestion, TOML config."""

from __future__ import annotations

import sqlite3
import tempfile

import pytest
from pyspark.sql import functions as F

from mr_crawly_spark import schemas as S
from mr_crawly_spark.datagen import ROUND_SECONDS, corpus_to_spark
from mr_crawly_spark.engine import CrawlConfig, CrawlEngine
from mr_crawly_spark.operators.frontier import (
    CHANGE_FREQ_SECONDS,
    recrawl_schedule,
)
from mr_crawly_spark.sources.corpus import CorpusFetcher
from oracle.crawler import OracleCrawler


def _engine(spark, corpus, wh=None, fetcher=None, **kw):
    docs, robots, sitemaps, seeds = corpus_to_spark(spark, corpus)
    return CrawlEngine(
        spark,
        fetcher or CorpusFetcher(spark, documents=docs),
        robots, sitemaps, seeds,
        CrawlConfig(warehouse=wh or tempfile.mkdtemp(prefix="crawl_fx_"), **kw),
    )


@pytest.fixture(scope="module")
def crawled(spark, tiny_corpus):
    eng = _engine(spark, tiny_corpus)
    eng.run()
    oracle = OracleCrawler(tiny_corpus).run()
    return eng, oracle


# --------------------------------------------------------------------- #
# S5/S6: the pages table archives the fetched content (url_html BLOB,
# reference data.py:70-86), not just a span count
def test_pages_store_full_content(crawled):
    eng, oracle = crawled
    rows = eng.table("pages").filter(F.col("fetch_status") == 200).collect()
    got = {
        r["url"]: [
            (s["offset"], s["kind"], s["text"], s["media_ref"])
            for s in sorted(r["spans"], key=lambda s: s["offset"])
        ]
        for r in rows
    }
    assert got == oracle.spans
    # 404s archive no content
    nulls = eng.table("pages").filter(F.col("fetch_status") == 404)
    assert nulls.filter(F.col("spans").isNotNull()).count() == 0


# O2: sitemap changefreq/lastmod ride the frontier rows end-to-end
def test_frontier_carries_recrawl_metadata(crawled):
    eng, oracle = crawled
    got = {
        r["url"]: (r["change_freq"], r["last_modified"])
        for r in eng.table("frontier").collect()
    }
    want = {
        e.url: (e.change_freq, e.last_modified)
        for e in oracle.frontier.values()
    }
    assert got == want
    assert any(cf is not None for cf, _ in got.values())  # actually populated


# S4/J2 + O2 scheduling: recrawl is served from the page cache, never the
# network — proven by re-crawling against an EMPTY corpus (any real refetch
# would 404) and checking content equality
def test_recrawl_served_from_page_cache(spark, tiny_corpus):
    wh = tempfile.mkdtemp(prefix="crawl_rc_")
    eng = _engine(spark, tiny_corpus, wh=wh)
    eng.run()
    pages_before = {
        r["url"] for r in eng.table("pages").filter(F.col("fetch_status") == 200).collect()
    }
    n = eng.schedule_recrawl(t_now=-(10**8))  # every interval already elapsed
    assert n > 0

    empty_docs = spark.createDataFrame([], S.DOCUMENTS)
    eng2 = _engine(
        spark, tiny_corpus, wh=wh,
        fetcher=CorpusFetcher(spark, documents=empty_docs),
    )
    assert eng2.resume()
    eng2.run(fresh=False)

    pages = eng2.table("pages")
    recrawled = pages.filter(
        (F.col("fetch_status") == 200) & (F.col("round") > eng.round)
    )
    urls = {r["url"] for r in recrawled.select("url").collect()}
    assert urls  # re-fetches happened...
    assert urls <= pages_before  # ...only of previously archived pages
    # and no recrawl degraded to a 404 (a cache miss against the empty
    # corpus would): every recrawled fetch carries the archived content
    assert recrawled.filter(F.col("spans").isNull()).count() == 0
    oracle = OracleCrawler(tiny_corpus).run()
    sample = recrawled.limit(5).collect()
    for r in sample:
        got = [
            (s["offset"], s["kind"], s["text"], s["media_ref"])
            for s in sorted(r["spans"], key=lambda s: s["offset"])
        ]
        assert got == oracle.spans[r["url"]]


def test_recrawl_schedule_operator(spark):
    rows = [
        ("https://a.test/1", 1, "a.test", "fetched", 0.5, "daily", None, 0, 0.0, 0, "r"),
        ("https://a.test/2", 2, "a.test", "fetched", 0.5, None, None, 0, 0.0, 0, "r"),
        ("https://a.test/3", 3, "a.test", "error", 0.5, "daily", None, 0, 0.0, 0, "r"),
        ("https://a.test/4", 4, "a.test", "pending", 0.5, "weekly", None, 1, 30.0, 0, "r"),
        # fetched with a stale retry_count: the reset must see the ORIGINAL
        # status (regression: an inline predicate evaluated after the status
        # rewrite left this at 2 forever)
        ("https://a.test/5", 5, "a.test", "fetched", 0.5, "daily", None, 2, 0.0, 0, "r"),
    ]
    fr = spark.createDataFrame(rows, S.FRONTIER)
    out = {r["url"]: r for r in recrawl_schedule(fr, t_now=1000.0).collect()}
    assert out["https://a.test/1"]["status"] == "pending"
    assert out["https://a.test/1"]["next_attempt_at"] == 1000.0 + 86400.0
    assert out["https://a.test/1"]["retry_count"] == 0
    # no metadata / error / already-pending rows are untouched
    assert out["https://a.test/2"]["status"] == "fetched"
    assert out["https://a.test/3"]["status"] == "error"
    assert out["https://a.test/4"]["next_attempt_at"] == 30.0
    assert out["https://a.test/4"]["retry_count"] == 1  # pending row untouched
    # a recrawled row's stale retry budget resets
    assert out["https://a.test/5"]["status"] == "pending"
    assert out["https://a.test/5"]["retry_count"] == 0


# warehouse hygiene (ADVICE): fresh bootstrap on a used warehouse must not
# merge the previous run's state
def test_fresh_bootstrap_clears_used_warehouse(spark, tiny_corpus, crawled):
    wh = tempfile.mkdtemp(prefix="crawl_cl_")
    first = _engine(spark, tiny_corpus, wh=wh)
    first.run()
    # without the destructive opt-in, a fresh bootstrap on a used warehouse
    # refuses instead of silently wiping the previous crawl (ADVICE r2)
    refused = _engine(spark, tiny_corpus, wh=wh, run_id="run_0002")
    with pytest.raises(RuntimeError, match="force_reset"):
        refused.bootstrap()
    again = _engine(spark, tiny_corpus, wh=wh, run_id="run_0002", force_reset=True)
    again.run(fresh=True)  # would stall at 0 visited if old seen rows leaked
    baseline, _ = crawled  # the shared default crawl (read-only use)
    assert again.visited_count == baseline.visited_count
    got = {r["url"] for r in again.table("seen").collect()}
    want = {r["url"] for r in baseline.table("seen").collect()}
    assert got == want
    runs = {r["run_id"] for r in again.table("runs").collect()}
    assert runs == {"run_0002"}  # the old run's bookkeeping is gone too


# S8: sitemap details are an upsert keyed on (source_url, index_url) —
# a later commit replaces the row, like the reference's UNIQUE + UPDATE
# (data.py:158-216)
def test_sitemaps_upsert_view(spark, tiny_corpus):
    eng = _engine(spark, tiny_corpus)
    eng.run()
    details = eng.table("sitemaps")
    one = details.limit(1).collect()[0]
    updated = spark.createDataFrame(
        [(one["source_url"], one["index_url"], one["loc"], one["priority"],
          one["frequency"], one["modified"], "recrawled")],
        S.SITEMAPS,
    )
    eng.catalog.commit("sitemaps", updated, eng.round, mode="delta")
    merged = {
        (r["source_url"], r["index_url"]): r["status"]
        for r in eng.catalog.load_merge(
            "sitemaps", ("source_url", "index_url")
        ).collect()
    }
    assert merged[(one["source_url"], one["index_url"])] == "recrawled"
    assert len(merged) == details.count()  # upsert, not append


# seed-list ingestion (reference data/url.db seed_urls + url CLI arg)
def test_seeds_from_txt(spark, tmp_path):
    from mr_crawly_spark.sources.seeds import load_seeds

    p = tmp_path / "seeds.txt"
    p.write_text("# comment\nhttps://site0.test/\n\nhttps://site1.test/\n")
    seeds = load_seeds(spark, str(p))
    assert seeds.schema == S.SEEDS
    rows = seeds.orderBy("seed_url_id").collect()
    assert [r["url"] for r in rows] == ["https://site0.test/", "https://site1.test/"]
    assert rows[0]["domain"] == "site0.test"


def test_seeds_from_sqlite(spark, tmp_path):
    from mr_crawly_spark.sources.seeds import load_seeds

    db = tmp_path / "url.db"
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE seed_urls (seed_url_id INTEGER PRIMARY KEY, "
        "domain TEXT, url TEXT, description TEXT)"
    )
    con.execute(
        "INSERT INTO seed_urls VALUES (1, 'site0.test', 'https://site0.test/', 'x')"
    )
    con.commit()
    con.close()
    seeds = load_seeds(spark, str(db))
    assert seeds.collect()[0]["url"] == "https://site0.test/"


def test_seeds_drive_the_crawl(spark, tiny_corpus, tmp_path):
    """An external seed list (subset of hosts) bounds what gets crawled."""
    from mr_crawly_spark.sources.seeds import load_seeds

    p = tmp_path / "one_seed.txt"
    p.write_text("https://site1.test/\n")
    docs, robots, sitemaps, _ = corpus_to_spark(spark, tiny_corpus)
    eng = CrawlEngine(
        spark, CorpusFetcher(spark, documents=docs), robots, sitemaps,
        load_seeds(spark, str(p)),
        CrawlConfig(warehouse=tempfile.mkdtemp(prefix="crawl_sd_")),
    )
    eng.run()
    hosts = {
        r["host"] for r in eng.table("pages").select("host").distinct().collect()
    }
    assert hosts == {"site1.test"}  # same-domain filter keeps it to the seed
    assert eng.visited_count > 0


def test_config_from_toml(tmp_path):
    from mr_crawly_spark.config import config_from_toml, logging_level_from_toml

    p = tmp_path / "crawl.toml"
    p.write_text(
        "[crawl]\nmax_pages = 7\nuse_freshness = true\ncheckpoint_interval = 2\n"
        "\n[logging]\nlevel = \"DEBUG\"\n"
    )
    cfg = config_from_toml(str(p), "/tmp/wh", max_rounds=9)
    assert (cfg.max_pages, cfg.use_freshness, cfg.checkpoint_interval) == (7, True, 2)
    assert cfg.max_rounds == 9  # explicit override wins
    assert cfg.warehouse == "/tmp/wh"
    assert logging_level_from_toml(str(p)) == "DEBUG"
    bad = tmp_path / "bad.toml"
    bad.write_text("[crawl]\nmax_pagez = 7\n")
    with pytest.raises(ValueError, match="max_pagez"):
        config_from_toml(str(bad), "/tmp/wh")
    # a retired prefilter knob is an unknown key, not silently ignored
    retired = tmp_path / "retired.toml"
    retired.write_text("[crawl]\nuse_bloom = true\n")
    with pytest.raises(ValueError, match="unknown \\[crawl\\] keys"):
        config_from_toml(str(retired), "/tmp/wh")
    # retired knobs whose value now has one home elsewhere: size rules in
    # sizing.py, operator defaults (select_slice, trap_param_stats), the
    # politeness THROTTLE_* constants, engine.COMPACT_EVERY, and the
    # refresh_pagerank()/refresh_trap_stats() calls as the opt-in
    for knob in ("aqe_small_round_rows", "rows_per_write_task",
                 "min_write_partitions", "salt", "compact_every",
                 "use_pagerank_priority", "pagerank_weight", "use_trap_gate",
                 "trap_min_urls", "trap_value_ratio",
                 "freshness_min_interval", "freshness_max_interval",
                 "throttle_fail_threshold", "throttle_decrease",
                 "throttle_increase"):
        retired.write_text(f"[crawl]\n{knob} = 1\n")
        with pytest.raises(ValueError, match=knob):
            config_from_toml(str(retired), "/tmp/wh")


def test_cli_toml_merge_precedence(tmp_path):
    """CLI > TOML > defaults, with explicit values always winning — incl.
    --no-use-freshness over a TOML-enabled one and explicitly-passed values
    equal to the dataclass defaults (ADVICE r2: the old sentinel comparison
    treated those as unset)."""
    from main import build_parser, resolve_config

    toml = tmp_path / "crawl.toml"
    toml.write_text("[crawl]\nmax_pages = 7\nuse_freshness = true\nmax_rounds = 50\n")

    def cfg(argv):
        return resolve_config(build_parser().parse_args(argv))

    base = ["--warehouse", "/tmp/wh", "--config", str(toml)]
    # TOML applies when the CLI is silent
    c = cfg(base)
    assert (c.max_pages, c.use_freshness, c.max_rounds) == (7, True, 50)
    # the CLI can DISABLE a TOML-enabled boolean
    assert cfg(base + ["--no-use-freshness"]).use_freshness is False
    # an explicit CLI value equal to the dataclass default still overrides
    assert cfg(base + ["--max-rounds", "100"]).max_rounds == 100
    assert cfg(base + ["--max-pages", str(10**9)]).max_pages == 10**9
    # --retries threads through to max_retries; no config file needed
    c2 = cfg(["--warehouse", "/tmp/wh", "--retries", "1"])
    assert c2.max_retries == 1
    assert cfg(["--warehouse", "/tmp/wh"]).max_retries == 3
    # retired prefilter flags are rejected, not silently accepted
    for retired in ("--use-cuckoo", "--use-bloom"):
        with pytest.raises(SystemExit):
            build_parser().parse_args(["--warehouse", "/tmp/wh", retired])


def test_write_width_scales_with_round_volume(
    spark, tiny_corpus, crawled, monkeypatch, caplog
):
    """verdict r2 #2: the round's materializing checkpoint width is a
    function of the touched-row bound, not a hard-coded coalesce(8) — a
    cluster round of millions of rows must not funnel through 8 tasks
    (the width math itself: tests/test_sizing.py). Each round's log line
    reports the size decisions it took."""
    import logging
    import re

    from mr_crawly_spark import sizing

    # coalesce is a CAP — it follows the natural (shuffle) partitioning up
    # to the computed width. With 24 shuffle partitions and one row per
    # write task the frontier delta must land with >8 files (the old
    # hard-coded coalesce(8) always funneled to <=8).
    monkeypatch.setattr(sizing, "ROWS_PER_WRITE_TASK", 1)
    # config.setup_logging stops propagation; caplog listens on the root
    monkeypatch.setattr(logging.getLogger("mr_crawly_spark"), "propagate", True)
    with sizing.pinned_shuffle_width(spark, 24), caplog.at_level(
        logging.INFO, logger="mr_crawly_spark.engine"
    ):
        wide = _engine(spark, tiny_corpus, checkpoint_interval=1)
        wide.run()
    # a tiny round: AQE off, one Python task, a write width of one task
    # per touched row (floored at 8)
    decisions = [
        re.search(r"aqe=(\w+) write_width=(\d+) py_width=(\S+)$", m).groups()
        for m in caplog.messages
        if re.match(r"round \d+: ", m)
    ]
    assert decisions
    assert {(aqe, py) for aqe, _, py in decisions} == {("off", "1")}
    assert max(int(w) for _, w, _ in decisions) > 8
    deltas = [
        mm for mm in wide.catalog._manifests("frontier") if mm["kind"] == "delta"
    ]
    assert deltas and max(d["n_files"] for d in deltas) > 8
    # outputs unchanged vs the default width (the shared default crawl)
    base, _ = crawled
    got = {r["url"] for r in wide.table("seen").collect()}
    want = {r["url"] for r in base.table("seen").collect()}
    assert got == want


def test_sitemap_remap_updates_existing_records(spark, tiny_corpus):
    """S8 tail (reference data.py:178-216): scheduling a recrawl re-expands
    the sitemaps; a record whose live sitemap changed (new priority/lastmod)
    is REPLACED per (source_url, index_url) in the merged view, like the
    reference's insert-else-update."""
    docs, robots, sitemaps, seeds = corpus_to_spark(spark, tiny_corpus)
    eng = CrawlEngine(
        spark, CorpusFetcher(spark, documents=docs), robots, sitemaps, seeds,
        CrawlConfig(warehouse=tempfile.mkdtemp(prefix="crawl_rm_")),
    )
    eng.run()
    before = {
        (r["source_url"], r["index_url"]): (r["priority"], r["modified"], r["status"])
        for r in eng.table("sitemaps").collect()
    }
    assert before and all(s == "mapped" for _, _, s in before.values())

    # the live web changed: every leaf sitemap now announces a new priority
    # and lastmod. Re-point the engine at the updated source and recrawl.
    eng.sitemaps_raw = sitemaps.withColumn(
        "first_priority",
        F.when(~F.col("is_index"), F.lit(0.9)).otherwise(F.col("first_priority")),
    ).withColumn(
        "first_lastmod",
        F.when(~F.col("is_index"), F.lit("2026-01-01")).otherwise(F.col("first_lastmod")),
    )
    eng.schedule_recrawl(t_now=-(10**8))

    after = {
        (r["source_url"], r["index_url"]): (r["priority"], r["modified"], r["status"])
        for r in eng.table("sitemaps").collect()
    }
    assert set(after) == set(before)  # same keys: update, not insert
    changed = [k for k in after if after[k] != before[k]]
    assert changed  # re-mapping actually rewrote records
    for k in changed:
        pri, mod, status = after[k]
        assert (pri, mod, status) == (0.9, "2026-01-01", "remapped")


def test_pagerank_authority_ordering(spark):
    """Hub receives rank from its in-links; matches a python power-iteration
    reference on a known graph."""
    from mr_crawly_spark.operators.frontier import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("d", "b"), ("b", "a")],
        "src string, dst string",
    )
    got = {r["url"]: r["rank"] for r in pagerank(edges, n_iterations=20).collect()}
    r = {v: 0.25 for v in "abcd"}
    out = {"a": ["b"], "c": ["b"], "d": ["b"], "b": ["a"]}
    for _ in range(20):
        r = {
            v: 0.15 / 4
            + 0.85 * sum(r[u] / len(out[u]) for u in "abcd" if v in out.get(u, []))
            for v in "abcd"
        }
    for v in "abcd":
        assert abs(got[v] - r[v]) < 1e-3, v
    assert got["b"] == max(got.values())  # the hub ranks highest


def test_cli_delay_threads_to_config():
    from main import build_parser, resolve_config

    def cfg(argv):
        return resolve_config(build_parser().parse_args(argv))

    assert cfg(["--warehouse", "/tmp/wh", "--delay", "30"]).default_delay == 30.0
    assert cfg(["--warehouse", "/tmp/wh"]).default_delay == 10.0


def test_cli_positional_seed_url(spark, tmp_path, capsys):
    """Reference CLI parity (`main.py <url>`, reference main.py:29): a
    positional seed URL maps to a one-seed crawl of that host only."""
    import json as _json

    import main as main_mod

    wh = str(tmp_path / "wh")
    rc = main_mod.main([
        "https://site1.test/", "--warehouse", wh,
        "--hosts", "4", "--base-pages", "6", "--max-pages", "8",
    ])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["visited"] > 0
    hosts = {
        r["host"]
        for r in spark.read.parquet(*[
            str(p) for p in (tmp_path / "wh" / "pages").glob("delta-*")
        ]).select("host").distinct().collect()
    }
    assert hosts == {"site1.test"}  # same-domain crawl of the seed host only


def test_pagerank_priority_reorders_slice(spark, tiny_corpus):
    """r3 verdict #7: once refresh_pagerank() has run, link authority
    reorders a round's slice — a host's per-round top-k is taken by
    blended (priority + rank), not sitemap priority alone. The refresh
    call is the opt-in; without it the golden ordering is untouched, and
    a force_reset bootstrap drops the discarded crawl's ranks and trap
    stats."""
    from mr_crawly_spark.datagen import MAX_PER_HOST_PER_ROUND
    from mr_crawly_spark.operators.frontier import select_slice

    # a 60 s default delay budgets one url per host per round, so the
    # ordering decides which url a host spends its round on
    eng = _engine(spark, tiny_corpus, default_delay=60.0)
    eng.bootstrap()
    for _ in range(4):
        eng.run_round()
    assert eng.refresh_pagerank() > 0
    frontier = eng._frontier_view()
    t = (eng.round + 1) * 60.0
    kw = dict(k_cap=MAX_PER_HOST_PER_ROUND, default_k=eng._default_k)
    ranked = select_slice(frontier, eng.budgets, t, ranks=eng._ranks, **kw)
    plain = select_slice(frontier, eng.budgets, t, **kw)
    # stored priority must ride through UNCHANGED (the blend is order-only)
    before = {
        r["url"]: (r["status"], r["retry_count"], r["next_attempt_at"])
        for r in frontier.collect()
    }
    stored = {r["url"]: r["priority"] for r in frontier.collect()}
    for r in ranked.collect():
        assert r["priority"] == stored[r["url"]]
    ranked_set = {r["url"] for r in ranked.collect()}
    plain_set = {r["url"] for r in plain.collect()}
    # the blend changes which urls win a host's slot, and the winners it
    # adds carry more link authority than those it drops
    rank_of = {r["url"]: r["rank"] for r in eng._ranks.collect()}
    added, dropped = ranked_set - plain_set, plain_set - ranked_set
    assert added and dropped
    avg = lambda s: sum(rank_of.get(u, 0.0) for u in s) / len(s)
    assert avg(added) > avg(dropped)
    # engine wiring: refresh alone arms the ordering — the next round
    # processes exactly the ranked slice (every outcome rewrites a
    # processed row's status or retry count)
    m = eng.run_round()
    after = {
        r["url"]: (r["status"], r["retry_count"], r["next_attempt_at"])
        for r in eng._frontier_view().collect()
    }
    assert {u for u, v in before.items() if after[u] != v} == ranked_set
    assert m["processed"] == len(ranked_set)
    # a force_reset re-bootstrap starts a NEW crawl: the discarded crawl's
    # ranks and trap stats must not reorder or rewrite it
    eng.refresh_trap_stats()
    assert eng._trap_stats is not None
    eng.cfg.force_reset = True
    eng.bootstrap()
    assert eng._ranks is None and eng._trap_stats is None
    assert eng._last_metrics == {}


def test_console_handler_fallback(monkeypatch):
    """Rich parity (reference config/handlers.py): RichHandler when the
    optional dependency exists, stdlib StreamHandler otherwise (the
    sandbox path). Either way setup_logging is idempotent."""
    import logging

    from mr_crawly_spark.config import _make_console_handler, setup_logging

    h = _make_console_handler()
    assert isinstance(h, logging.Handler)
    try:
        from rich.logging import RichHandler

        assert isinstance(h, RichHandler)
    except ImportError:
        assert isinstance(h, logging.StreamHandler)
    logger = logging.getLogger("mr_crawly_spark")
    before = list(logger.handlers)
    setup_logging("INFO")
    setup_logging("DEBUG")  # second call must not stack handlers
    after = list(logger.handlers)
    assert len(after) <= max(len(before), 1)


def test_pagerank_empty_graph_returns_empty(spark):
    """ADVICE r4: an empty links table (bootstrap commits a schema-only
    delta) must yield zero ranks, not ZeroDivisionError from 1/N."""
    from mr_crawly_spark.operators.frontier import pagerank

    edges = spark.createDataFrame([], "src string, dst string")
    out = pagerank(edges, n_iterations=3)
    assert out.count() == 0
    assert out.columns == ["url", "rank"]


def test_star_cc_truncated_run_raises(spark):
    """ADVICE r4: exhausting max_iterations without the edge fixed point
    must fail loudly — the attach step's labels are unreliable then."""
    import pytest

    from mr_crawly_spark.operators import dedup as D

    n = 40  # a chain needs ~log2(n)+ rounds; 1 round cannot converge it
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id int")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a int, id_b int"
    )
    with pytest.raises(RuntimeError, match="fixed point"):
        D.connected_components(ids, pairs, max_iterations=1)


def test_hits_matches_python_power_iteration(spark):
    """HITS on a known graph vs a python reference of the same variant
    (max-normalized, 6dp per half-step): the star center must dominate
    authority, its pointers must dominate hubs."""
    from mr_crawly_spark.operators.frontier import hits

    raw_edges = [("a", "x"), ("b", "x"), ("c", "x"), ("a", "y"), ("x", "a")]
    edges = spark.createDataFrame(raw_edges, "src string, dst string")
    got = {
        r["url"]: (r["hub"], r["auth"])
        for r in hits(edges, n_iterations=5).collect()
    }
    nodes = sorted({n for e in raw_edges for n in e})
    hub = {n: 1.0 for n in nodes}
    for _ in range(5):
        auth = {
            v: sum(hub[u] for u, w in raw_edges if w == v) for v in nodes
        }
        mx = max(auth.values())
        auth = {v: round(x / mx, 6) for v, x in auth.items()}
        hub = {
            u: sum(auth[w] for s, w in raw_edges if s == u) for u in nodes
        }
        mx = max(hub.values())
        hub = {u: round(x / mx, 6) for u, x in hub.items()}
    for n in nodes:
        assert got[n] == (round(hub[n], 4), round(auth[n], 4)), (n, got[n])
    # structural sanity: x is the dominant authority, a the dominant hub
    assert got["x"][1] == 1.0 and got["a"][0] == 1.0


def test_hits_partition_invariance(spark):
    from mr_crawly_spark.operators.frontier import hits

    edges = spark.createDataFrame(
        [(f"u{i % 7}", f"v{i % 5}") for i in range(60)],
        "src string, dst string",
    )
    a = sorted(map(tuple, hits(edges, n_iterations=3).collect()))
    b = sorted(map(tuple, hits(edges.repartition(13), n_iterations=3).collect()))
    assert a == b


def test_hits_empty_graph_returns_empty(spark):
    from mr_crawly_spark.operators.frontier import hits

    edges = spark.createDataFrame([], "src string, dst string")
    out = hits(edges, n_iterations=3)
    assert out.count() == 0
    assert out.columns == ["url", "hub", "auth"]


# --------------------------------------------------------------------- #
# searchable crawl output: incremental page indexing (operators/search.py
# wired into the engine) — crawl, index, search; resume, index AGAIN
# (delta only), search reflects both; rebuild matches incremental
def test_engine_search_index_incremental(spark, tiny_corpus):
    import math

    eng = _engine(spark, tiny_corpus, max_pages=8)
    eng.run()
    n1 = eng.update_search_index()
    assert n1 == eng.table("pages").filter(
        F.col("fetch_status") == 200
    ).count() > 0

    def ref_topk(terms, k):
        rows = eng.table("pages").filter(F.col("fetch_status") == 200).collect()
        docs = {}
        for r in rows:
            toks = " ".join(
                s["text"]
                for s in sorted(r["spans"], key=lambda s: s["offset"])
                if s["kind"] == "text" and s["text"]
            )
            docs[r["url"]] = toks.strip().lower().split()
        n = len(docs)
        dfreq = {
            t: sum(1 for w in docs.values() if t in w) for t in set(terms)
        }
        from decimal import ROUND_HALF_UP, Decimal

        out = []
        for u, w in docs.items():
            s = Decimal(0)
            nt = 0
            for t in sorted(set(terms)):
                tf = w.count(t)
                if tf:
                    idf = math.log((n + 1.0) / (dfreq[t] + 1.0)) + 1.0
                    s += Decimal(tf * idf).quantize(
                        Decimal("0.000001"), ROUND_HALF_UP
                    )
                    nt += 1
            if nt:
                out.append((u, nt, float(s)))
        out.sort(key=lambda r: (-r[2], r[0]))
        return out[:k]

    # pick terms that exist in the synthetic page text
    sample = eng.table("pages").filter(F.col("fetch_status") == 200).first()
    words = [
        s["text"].split()[0]
        for s in sample["spans"]
        if s["kind"] == "text" and s["text"]
    ][:2]
    assert words
    got = [tuple(r) for r in eng.search(words, k=5).collect()]
    assert got == ref_topk(words, 5)

    # resume the crawl further, index incrementally — only new pages
    eng2 = _engine(
        spark, tiny_corpus, wh=eng.cfg.warehouse, force_reset=False
    )
    eng2.resume()
    eng2.cfg.max_pages = 20
    eng2.run(fresh=False)
    n2 = eng2.update_search_index()
    total_ok = eng2.table("pages").filter(
        F.col("fetch_status") == 200
    ).count()
    assert n1 + n2 == total_ok
    assert n2 > 0

    got2 = [tuple(r) for r in eng2.search(words, k=5).collect()]

    # a rebuild from scratch gives the same answer
    assert eng2.rebuild_search_index() == total_ok
    got3 = [tuple(r) for r in eng2.search(words, k=5).collect()]
    assert got2 == got3

    # no new pages -> no-op delta
    assert eng2.update_search_index() == 0

    # unindexed warehouse raises
    eng3 = _engine(spark, tiny_corpus)
    with pytest.raises(ValueError, match="search index"):
        eng3.search(["x"])


# ------------------------------------------------------------------ #
# freshness-measured recrawl ordering (beyond-ref; operators/freshness.py
# wired via CrawlConfig.use_freshness): the pages archive IS the visit
# history, measured change rates replace sitemap-claimed priority for
# re-enqueued rows with evidence, cold-start urls keep sitemap priority,
# and the flag off leaves schedule_recrawl's priorities untouched.
def test_freshness_measured_recrawl_priorities(spark):
    import copy

    from mr_crawly_spark.datagen import ROUND_SECONDS, generate_corpus

    # 7 hosts so >=4 urls carry sitemap changefreq (only sitemap first_locs
    # do): hosts 0/3/6 announce via index leaves, 1/4 via plain sitemap.xml
    corpus = generate_corpus(n_hosts=7, base_pages=5, hot_factor=2, n_seeds=7)
    wh = tempfile.mkdtemp(prefix="crawl_frsh_")
    eng = _engine(spark, corpus, wh=wh, use_page_cache=False)
    eng.run()
    meta = {
        r["url"]: r["change_freq"] for r in eng.table("frontier").collect()
    }
    fetched1 = {
        r["url"]
        for r in eng.table("pages")
        .filter(F.col("fetch_status") == 200)
        .select("url")
        .distinct()
        .collect()
    }
    recrawlable = sorted(u for u in fetched1 if meta.get(u))
    assert len(recrawlable) >= 4  # corpus sanity: the test can't be vacuous
    changed, stable = set(recrawlable[::2]), set(recrawlable[1::2])

    # cycle 2: the "live web" mutates the changed urls' text (links kept
    # identical so the frontier shape is unchanged); every recrawlable row
    # is re-pended and re-fetched from the NEW corpus (page cache off)
    c2 = copy.deepcopy(corpus)
    for d in c2.documents:
        if d["doc_id"] in changed:
            for s in d["spans"]:
                if s["kind"] == "text":
                    s["text"] += " v2"
    docs2, *_ = corpus_to_spark(spark, c2)
    eng.fetcher = CorpusFetcher(spark, documents=docs2)
    # freshness off on THIS reschedule: with one visit per url there is no
    # evidence yet, and the flag-off contract must hold bit-for-bit anyway
    before = {
        r["url"]: r["priority"] for r in eng.table("frontier").collect()
    }
    eng.schedule_recrawl(t_now=-(10**8))
    after = {
        r["url"]: r["priority"] for r in eng.table("frontier").collect()
    }
    assert after == before  # flag off: reschedule never touches priority
    eng.run(fresh=False)

    # measured rates: changed urls have positive rate, stable exactly 0,
    # single-visit urls NULL — all straight from the pages archive
    t_star = (eng.round + 50) * ROUND_SECONDS
    measured = {
        r["url"]: r.asDict()
        for r in eng.measured_change_rates(t_now=t_star).collect()
    }
    twice = {u for u, m in measured.items() if m["n_visits"] >= 2}
    assert changed <= twice and stable <= twice  # everything re-fetched
    for u in changed:
        assert measured[u]["change_rate"] > 0.0, u
        assert measured[u]["recrawl_priority"] > 0.0, u
    for u in stable:
        assert measured[u]["change_rate"] == 0.0, u
        assert measured[u]["recrawl_priority"] == 0.0, u
    for u, m in measured.items():
        if m["n_visits"] < 2:
            assert m["change_rate"] is None and m["recrawl_priority"] is None

    # cycle 3 with the flag ON: re-enqueued rows with evidence carry the
    # measured staleness as priority; no-evidence rows keep sitemap priority
    sitemap_prio = {
        r["url"]: r["priority"] for r in eng.table("frontier").collect()
    }
    eng.cfg.use_freshness = True
    eng.schedule_recrawl(t_now=t_star)
    rows = {
        r["url"]: r
        for r in eng._frontier_view()
        .filter(F.col("status") == "pending")
        .collect()
    }
    assert changed <= set(rows) and stable <= set(rows)
    for u in changed:
        assert rows[u]["priority"] == measured[u]["recrawl_priority"], u
    for u in stable:
        assert rows[u]["priority"] == 0.0, u
    # measured ordering: every actually-changing url outranks every
    # never-changed one — regardless of what the sitemap claimed
    assert min(rows[u]["priority"] for u in changed) > max(
        rows[u]["priority"] for u in stable
    )
    for u, r in rows.items():
        if measured.get(u, {}).get("recrawl_priority") is None:
            assert r["priority"] == sitemap_prio[u], u  # cold-start policy
    # measured CADENCE: next visit at 1/rate (clamped) for changing urls,
    # at the max-interval ceiling for never-changed ones — not never
    lo, hi = ROUND_SECONDS, CHANGE_FREQ_SECONDS["yearly"]
    for u in changed:
        want = t_star + min(max(1.0 / measured[u]["change_rate"], lo), hi)
        assert rows[u]["next_attempt_at"] == pytest.approx(want), u
    for u in stable:
        assert rows[u]["next_attempt_at"] == pytest.approx(t_star + hi), u
    # starvation regression: a SECOND reschedule before the rows come due
    # must NOT push their next_attempt_at further out — the cadence only
    # applies to rows a reschedule itself flips, and these are still
    # pending from the previous one (rewriting them every reschedule
    # would postpone a not-yet-due page forever)
    eng.schedule_recrawl(t_now=t_star + 1000.0)
    rows2 = {
        r["url"]: r
        for r in eng._frontier_view()
        .filter(F.col("status") == "pending")
        .collect()
    }
    for u in changed | stable:
        assert (
            rows2[u]["next_attempt_at"] == rows[u]["next_attempt_at"]
        ), u


def _mutated_v2(spark, corpus, urls=None):
    """Corpus twin where text spans changed (the 'live web' moved) — for
    every document, or only the given urls."""
    import copy

    c2 = copy.deepcopy(corpus)
    for d in c2.documents:
        if urls is not None and d["doc_id"] not in urls:
            continue
        for s in d["spans"]:
            if s["kind"] == "text":
                s["text"] += " v2"
    docs2, *_ = corpus_to_spark(spark, c2)
    return docs2


# the page cache must re-serve the LATEST archived version of a url that
# was re-archived across recrawl cycles — not an arbitrary one
def test_page_cache_serves_latest_version(spark):
    from mr_crawly_spark.datagen import generate_corpus

    corpus = generate_corpus(n_hosts=3, base_pages=5, hot_factor=2, n_seeds=3)
    wh = tempfile.mkdtemp(prefix="crawl_pcl_")
    eng = _engine(spark, corpus, wh=wh, use_page_cache=False)
    eng.run()
    # cycle 2: the web mutates; a REAL refetch archives v2 beside v1
    eng.fetcher = CorpusFetcher(spark, documents=_mutated_v2(spark, corpus))
    eng.schedule_recrawl(t_now=-(10**8))
    eng.run(fresh=False)
    # cycle 3: cache ON against an EMPTY corpus — any miss would 404, so
    # everything served is from the archive, and it must be v2
    eng.cfg.use_page_cache = True
    eng.fetcher = CorpusFetcher(
        spark, documents=spark.createDataFrame([], S.DOCUMENTS)
    )
    eng.schedule_recrawl(t_now=-(10**8))
    last_round = eng.round
    eng.run(fresh=False)
    served = eng.table("pages").filter(
        (F.col("round") > last_round) & (F.col("fetch_status") == 200)
    ).collect()
    assert served
    for r in served:
        texts = [s["text"] for s in r["spans"] if s["kind"] == "text"]
        assert texts and all(t.endswith(" v2") for t in texts), r["url"]


# freshness measurement must observe the LIVE web: with use_freshness on,
# schedule_recrawl disarms the page-cache read (a cache hit re-serves the
# archive, which always equals itself — every rate would be a fake 0)
def test_freshness_disarms_page_cache(spark):
    from mr_crawly_spark.datagen import ROUND_SECONDS, generate_corpus

    corpus = generate_corpus(n_hosts=3, base_pages=5, hot_factor=2, n_seeds=3)
    eng = _engine(spark, corpus, use_freshness=True)  # page cache ON (default)
    eng.run()
    eng.fetcher = CorpusFetcher(spark, documents=_mutated_v2(spark, corpus))
    eng.schedule_recrawl(t_now=-(10**8))
    assert eng._pages_cache_view() is None  # cache read disarmed under freshness
    eng.run(fresh=False)
    measured = {
        r["url"]: r.asDict()
        for r in eng.measured_change_rates(
            t_now=(eng.round + 10) * ROUND_SECONDS
        ).collect()
    }
    twice = {u: m for u, m in measured.items() if m["n_visits"] >= 2}
    assert twice  # refetches actually happened...
    for u, m in twice.items():
        # ...from the live web: every refetched page observed its change.
        # With the cache armed these would all be fake 0.0 rates.
        assert m["change_rate"] > 0.0, u


# content-addressed archive (CrawlConfig.archive_dedup): recrawl cycles
# append pages rows only for NEW content versions; the visits log records
# every observation, and freshness measurement reads it — so the archive
# grows with change volume while measured rates keep their no-change
# evidence
def test_archive_dedup_stores_versions_not_visits(spark):
    from collections import Counter

    from mr_crawly_spark.datagen import ROUND_SECONDS, generate_corpus

    corpus = generate_corpus(n_hosts=7, base_pages=5, hot_factor=2, n_seeds=7)
    eng = _engine(
        spark, corpus, use_page_cache=False, archive_dedup=True,
        use_freshness=True,
    )
    eng.run()
    meta = {
        r["url"]: r["change_freq"] for r in eng.table("frontier").collect()
    }
    fetched1 = {
        r["url"]
        for r in eng.table("pages")
        .filter(F.col("fetch_status") == 200)
        .select("url")
        .distinct()
        .collect()
    }
    recrawlable = sorted(u for u in fetched1 if meta.get(u))
    assert len(recrawlable) >= 4
    changed, stable = set(recrawlable[::2]), set(recrawlable[1::2])

    eng.fetcher = CorpusFetcher(
        spark, documents=_mutated_v2(spark, corpus, urls=changed)
    )
    eng.schedule_recrawl(t_now=-(10**8))
    eng.run(fresh=False)

    # the archive stores VERSIONS: 2 rows for changed urls, still 1 for
    # stable ones (the append-always engine would hold 2 everywhere)
    pages_n = Counter(
        r["url"]
        for r in eng.table("pages")
        .filter(F.col("fetch_status") == 200)
        .select("url")
        .collect()
    )
    for u in changed:
        assert pages_n[u] == 2, u
    for u in stable:
        assert pages_n[u] == 1, u
    # ...and the cache serves the changed urls at v2 (latest version)
    cached = {
        r["url"]: r["spans"]
        for r in eng.table("pages")
        .groupBy("url")
        .agg(F.max_by("spans", "round").alias("spans"))
        .collect()
        if r["url"] in changed
    }
    for u, spans in cached.items():
        texts = [s["text"] for s in spans if s["kind"] == "text"]
        assert texts and all(t.endswith(" v2") for t in texts), u

    # the visits log holds EVERY observation: 2 per refetched url
    visits_n = Counter(
        r["url"] for r in eng.table("visits").select("url").collect()
    )
    for u in changed | stable:
        assert visits_n[u] == 2, u

    # freshness measurement reads the visits log: the stable urls' 0-rate
    # evidence survives the deduped pages table (which holds only ONE row
    # for them — the pages-derived history alone would call them
    # single-visit NULLs)
    measured = {
        r["url"]: r.asDict()
        for r in eng.measured_change_rates(
            t_now=(eng.round + 10) * ROUND_SECONDS
        ).collect()
    }
    for u in changed:
        assert measured[u]["n_visits"] == 2 and measured[u]["change_rate"] > 0.0, u
    for u in stable:
        assert measured[u]["n_visits"] == 2 and measured[u]["change_rate"] == 0.0, u


# a cache-served recrawl is NOT a live observation: the visits log must
# exclude it (its fingerprint trivially equals the archive's — logging it
# would bias every measured change rate toward a fake 0), and the dedup
# filter must skip re-archiving it
def test_visits_log_excludes_cache_hits(spark, tiny_corpus):
    eng = _engine(spark, tiny_corpus, archive_dedup=True)  # page cache ON
    eng.run()
    v1 = eng.table("visits").count()
    p1 = eng.table("pages").filter(F.col("fetch_status") == 200).count()
    visited1 = eng.visited_count
    eng.schedule_recrawl(t_now=-(10**8))
    eng.run(fresh=False)
    assert eng.visited_count > visited1  # recrawls actually happened...
    # ...all served from the cache: no live observation, no new version
    assert eng.table("visits").count() == v1
    assert (
        eng.table("pages").filter(F.col("fetch_status") == 200).count() == p1
    )


# adaptive per-host politeness (CrawlConfig.use_adaptive_politeness):
# AIMD throttling off observed transient-failure rates — the throttle
# learns exactly the hosts that failed, scales their budgets down, never
# starves them to zero, and a never-triggering threshold leaves the
# golden crawl bit-identical
def test_adaptive_politeness_engine(spark, tiny_corpus, crawled, monkeypatch):
    from mr_crawly_spark.operators import politeness
    from mr_crawly_spark.operators.politeness import apply_throttle

    baseline, _ = crawled  # default crawl, flag off
    # (a) flag ON but threshold above any possible rate: crawl identical
    monkeypatch.setattr(politeness, "THROTTLE_FAIL_THRESHOLD", 1.1)
    eng_eq = _engine(spark, tiny_corpus, use_adaptive_politeness=True)
    eng_eq.run()
    assert eng_eq.visited_count == baseline.visited_count
    assert {r["url"] for r in eng_eq.table("seen").collect()} == {
        r["url"] for r in baseline.table("seen").collect()
    }
    assert eng_eq._throttle is None  # empty state resets: zero plan cost

    # (b) hair-trigger threshold, no recovery: the final throttle state is
    # exactly the hosts that ever saw a transient failure
    monkeypatch.setattr(politeness, "THROTTLE_FAIL_THRESHOLD", 0.0)
    monkeypatch.setattr(politeness, "THROTTLE_INCREASE", 0.0)
    eng = _engine(spark, tiny_corpus, use_adaptive_politeness=True)
    eng.run()
    assert eng.visited_count == baseline.visited_count  # budget floor = 1:
    # throttling slows hosts down, it never loses pages
    throttled = {r["host"]: r["mult"] for r in eng._throttle.collect()}
    failed_hosts = {
        r["host"]
        for r in eng.table("frontier")
        .filter(F.col("retry_count") > 0)
        .collect()
    }
    assert set(throttled) == failed_hosts and failed_hosts  # non-vacuous
    assert all(0 < m < 1.0 for m in throttled.values())
    # the budgets actually shrink for throttled hosts (floored at 1)
    base_k = {r["host"]: r["k_host"] for r in eng.budgets.collect()}
    eff_k = {
        r["host"]: r["k_host"]
        for r in apply_throttle(
            eng.budgets, eng._throttle, eng._default_k
        ).collect()
    }
    for h, m in throttled.items():
        want = max(1, int(base_k.get(h, eng._default_k) * m))
        assert eff_k[h] == want, h
