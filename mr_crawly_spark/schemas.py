"""Declared schemas for every engine table (SURVEY.md §1.3).

The reference declares all storage schemas as fixed DDL (SQLite DDL at
``data.py:26-36,70-86,116-130,158-176``; Redis hash fields at
``cache.py:97-111``). We do the same: every DataFrame in the engine is built
or read with an explicit StructType — never schema inference.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- input per BASELINE.json input_hint: interleaved text+media documents ---
# replaces the raw HTML payload + BeautifulSoup tree (parser.py:44-51)
SPAN = StructType(
    [
        StructField("kind", StringType()),       # 'text' | 'link' | 'media'
        StructField("text", StringType()),       # text content, or href for links
        StructField("media_ref", StringType()),  # opaque ref for media spans
        StructField("offset", IntegerType()),    # position in document order
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", StringType()),     # canonical URL of the page
        StructField("spans", ArrayType(SPAN)),
    ]
)

# --- frontier: replaces Redis hashes + the three RQ queues (cache.py:189-201)
FRONTIER = StructType(
    [
        StructField("url", StringType()),            # canonical form
        StructField("url_hash", LongType()),         # xxhash64(canonical url)
        StructField("host", StringType()),
        StructField("status", StringType()),         # pending|fetched|error|robots_denied
        StructField("priority", DoubleType()),       # sitemap priority, default 0.5
        StructField("change_freq", StringType()),
        StructField("last_modified", StringType()),
        StructField("retry_count", IntegerType()),
        StructField("next_attempt_at", DoubleType()),  # logical seconds (determinism)
        StructField("discovered_round", IntegerType()),
        StructField("run_id", StringType()),
    ]
)

# --- seen: replaces manager.visited_urls (manager.py:61,248) + Redis SADD sets
SEEN = StructType(
    [
        StructField("url_hash", LongType()),
        StructField("url", StringType()),
        StructField("first_seen_round", IntegerType()),
        StructField("run_id", StringType()),
    ]
)

# --- pages: replaces Redis content hash (cache.py:97-111) + url_html (data.py:70-86)
PAGES = StructType(
    [
        StructField("url", StringType()),
        StructField("url_hash", LongType()),
        StructField("host", StringType()),
        StructField("fetch_status", IntegerType()),
        # fetched content (the url_html.content BLOB, data.py:70-86): the
        # full span payload for 200s, null for 404s — the page-cache read
        # path (S4/J2) re-serves these without refetching
        StructField("spans", ArrayType(SPAN)),
        StructField("n_spans", IntegerType()),
        StructField("round", IntegerType()),
        # slice metadata kept so the deterministic global crawl order
        # (round, host, priority DESC, discovered_round, url) is derivable
        # without a per-round global window (SURVEY.md §7.2)
        StructField("priority", DoubleType()),
        StructField("discovered_round", IntegerType()),
        StructField("run_id", StringType()),
    ]
)

# --- visits: lightweight per-fetch observation log (content-addressed
# archive mode, CrawlConfig.archive_dedup): one tiny row per successful
# visit — (url, when, content fingerprint) — so the pages table can store
# only DISTINCT content versions while freshness measurement still sees
# every observation, including the no-change ones. O(visits) rows of
# ~100 bytes vs O(visits) full span payloads.
VISITS = StructType(
    [
        StructField("url", StringType()),
        StructField("url_hash", LongType()),
        StructField("round", IntegerType()),
        StructField("fingerprint", StringType()),
        StructField("run_id", StringType()),
    ]
)

# --- links: replaces the SQLite links table (data.py:116-148)
LINKS = StructType(
    [
        StructField("seed_url", StringType()),
        StructField("source_url", StringType()),
        StructField("linked_url", StringType()),
        StructField("round", IntegerType()),
        StructField("run_id", StringType()),
    ]
)

# --- robots rules: materialized RobotFileParser state (site_downloader.py:42-52)
ROBOTS = StructType(
    [
        StructField("host", StringType()),
        StructField("rule_order", IntegerType()),
        StructField("allow", BooleanType()),
        StructField("path_prefix", StringType()),
        StructField("crawl_delay", DoubleType()),
    ]
)

# --- sitemaps_raw: the fetchable sitemap documents (site_mapper.py:69-128)
SITEMAPS_RAW = StructType(
    [
        StructField("url", StringType()),
        StructField("host", StringType()),
        StructField("is_index", BooleanType()),
        StructField("locs", ArrayType(StringType())),
        # leaf sitemaps expose only the FIRST <url> record — quirk B9
        # (site_mapper.py:91 uses find("url"), not find_all)
        StructField("first_loc", StringType()),
        StructField("first_priority", DoubleType()),
        StructField("first_changefreq", StringType()),
        StructField("first_lastmod", StringType()),
    ]
)

# --- sitemap details sink: replaces sitemap_data (data.py:158-216)
SITEMAPS = StructType(
    [
        StructField("source_url", StringType()),
        StructField("index_url", StringType()),
        StructField("loc", StringType()),
        StructField("priority", DoubleType()),
        StructField("frequency", StringType()),
        StructField("modified", StringType()),
        StructField("status", StringType()),
    ]
)

# --- seeds: shape of the reference's data/url.db seed_urls table
SEEDS = StructType(
    [
        StructField("seed_url_id", LongType()),
        StructField("domain", StringType()),
        StructField("url", StringType()),
        StructField("description", StringType()),
    ]
)

# --- runs bookkeeping (data.py:26-60)
RUNS = StructType(
    [
        StructField("run_id", StringType()),
        StructField("seed_url", StringType()),
        StructField("start_time", TimestampType()),
        StructField("max_pages", IntegerType()),
        StructField("end_time", TimestampType()),
    ]
)
