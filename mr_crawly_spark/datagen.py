"""Deterministic synthetic web corpus (FIXTURES.md §A, seed=42).

The reference crawls the live web (requests.get, site_downloader.py:54-63);
the sandbox has no network, so fetching becomes a join against this corpus.
Everything is derived from md5 of stable strings — no ``random`` module, no
``hash()`` (PYTHONHASHSEED) — so the engine, the sequential oracle, and any
re-generation agree bit-for-bit.

Shape knobs (defaults produce the sf-test corpus used by pytest):
- Zipf-skewed host sizes with one hot host (>=30% of pages) — exercises the
  explicit salting path (north_rule axis B).
- link spans carry relative hrefs, default ports, fragments, percent-escapes
  (exercises the RFC-3986 canonicalizer), cross-domain targets (same-domain
  filter, parser.py:56), in-page duplicates (set dedup, parser.py:45,57-58)
  and robots-disallowed targets.
- per-host robots rules with crawl_delay (politeness budget) and hosts with
  no rules at all (default allow, site_downloader.py:52).
- sitemap trees: index -> leaf recursion (site_mapper.py:77-84); leaf exposes
  only its FIRST <url> record (quirk B9, site_mapper.py:91); some hosts have
  no sitemap (map-failure fallback seeds the seed URL, manager.py:232-238).
- deterministic transient fetch failures (503 on first attempt) to exercise
  retry/backoff (manager.py:37,170-171), and a few permanent 404 targets.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field


def md5i(s: str) -> int:
    """Deterministic 60-bit int of a string (stable across processes)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


# --- pinned crawl-semantics constants (shared by engine and oracle) ---------
ROUND_SECONDS = 60.0          # logical seconds a round advances (determinism)
DEFAULT_CRAWL_DELAY = 10.0    # hosts with no robots rows
MAX_PER_HOST_PER_ROUND = 8    # politeness cap on the host-keyed window (O3)
BACKOFF = [10.0, 30.0, 60.0]  # manager.py:37 BACKOFF_STRATEGY
MAX_RETRIES = 3               # main.py:36-38 default
DEFAULT_PRIORITY = 0.5        # sitemaps.org default when absent
TRANSIENT_FAIL_MOD = 17       # md5i(url) % MOD == 0 -> 503 on first attempt


def host_budget(crawl_delay: float) -> int:
    """Per-round fetch budget for a host (politeness)."""
    return max(1, min(MAX_PER_HOST_PER_ROUND, int(ROUND_SECONDS // max(crawl_delay, 1e-9))))


def is_transient_fail(url: str) -> bool:
    return md5i("fail:" + url) % TRANSIENT_FAIL_MOD == 0


@dataclass
class Corpus:
    """In-memory corpus: plain-Python rows, schema-aligned with schemas.py."""

    documents: list[dict] = field(default_factory=list)   # doc_id, spans
    robots: list[dict] = field(default_factory=list)      # host rules
    sitemaps_raw: list[dict] = field(default_factory=list)
    seeds: list[dict] = field(default_factory=list)
    hosts: list[str] = field(default_factory=list)

    def doc_ids(self) -> set[str]:
        return {d["doc_id"] for d in self.documents}

    def crawl_delay(
        self, host: str, default: float = DEFAULT_CRAWL_DELAY
    ) -> float:
        """Pinned aggregation rule: MAX over the host's non-null delays —
        the same rule as operators/politeness.py:host_budgets, so engine and
        oracle agree even if a host's rows ever carry mixed delays.
        ``default`` is the CLI ``--delay`` knob (reference README.md:45):
        the per-request delay for hosts that declare none."""
        delays = [
            r["crawl_delay"]
            for r in self.robots
            if r["host"] == host and r["crawl_delay"] is not None
        ]
        return max(delays) if delays else default

    def robots_disallows(self, host: str) -> list[str]:
        return [
            r["path_prefix"]
            for r in sorted(
                (r for r in self.robots if r["host"] == host),
                key=lambda r: r["rule_order"],
            )
            if not r["allow"]
        ]


def _page_urls(host: str, n_pages: int, n_private: int) -> list[str]:
    urls = [f"https://{host}/"]
    urls += [f"https://{host}/p/{j}" for j in range(1, n_pages + 1)]
    urls += [f"https://{host}/private/{j}" for j in range(1, n_private + 1)]
    return urls


def _make_spans(url: str, host: str, hosts: list[str], page_urls: list[str]) -> list[dict]:
    """Interleaved text / link / media spans, ordered by offset."""
    h = md5i("spans:" + url)
    n_links = 2 + h % 5
    spans: list[dict] = []
    off = 0

    def add(kind: str, text: str | None, media_ref: str | None) -> None:
        nonlocal off
        spans.append({"kind": kind, "text": text, "media_ref": media_ref, "offset": off})
        off += 1

    add("text", f"intro text of {url}", None)
    n_local = len(page_urls)
    first_href: str | None = None
    for li in range(n_links):
        hh = md5i(f"link:{url}:{li}")
        target = page_urls[hh % n_local]
        form = hh % 6
        # target path relative to host root, e.g. "p/3" or "private/1" or ""
        tpath = target.split(host + "/", 1)[1] if host + "/" in target else ""
        if form == 0:
            href = "/" + tpath                      # root-relative
        elif form == 1:
            href = "../" + tpath if tpath else "."  # dot-segments (urljoin resolves)
        elif form == 2:
            scheme_host = f"https://{host}:443"      # default port -> stripped
            href = f"{scheme_host}/{tpath}#frag"     # fragment -> stripped
        elif form == 3:
            href = target                            # absolute same-host
        elif form == 4:
            other = hosts[hh % len(hosts)]
            href = f"https://{other}/p/1"            # cross-domain (filtered)
        else:
            href = "/" + tpath + "?a=%7e"            # %7e == '~' unreserved -> decoded
        if first_href is None and form != 4:
            first_href = href
        add("link", href, None)
        if hh % 3 == 0:
            add("text", f"between {li}", None)
        if hh % 4 == 0:
            add("media", None, f"img://{host}/{md5i('m'+url+str(li)) % 1000}.png")
    if h % 3 == 0 and first_href is not None:
        add("link", first_href, None)  # in-page duplicate (set dedup D1)
    add("text", f"footer of {url}", None)
    return spans


def generate_corpus(
    n_hosts: int = 8,
    base_pages: int = 40,
    hot_factor: int = 6,
    n_seeds: int | None = None,
) -> Corpus:
    """Build the deterministic corpus. Defaults: ~8 hosts, ~300 pages, one
    hot host holding >=30% of pages (Zipf skew for the salting/skew path)."""
    c = Corpus()
    c.hosts = [f"site{i}.test" for i in range(n_hosts)]

    # --- documents ---------------------------------------------------------
    per_host_urls: dict[str, list[str]] = {}
    for i, host in enumerate(c.hosts):
        n_pages = base_pages * hot_factor if i == 0 else max(4, int(base_pages / (i**0.8)))
        n_private = max(1, n_pages // 10)
        per_host_urls[host] = _page_urls(host, n_pages, n_private)
    for host in c.hosts:
        urls = per_host_urls[host]
        for url in urls:
            # a few sitemap-announced 404 targets are created by NOT emitting
            # the document for this url (see sitemap gen below)
            c.documents.append(
                {"doc_id": url, "spans": _make_spans(url, host, c.hosts, urls)}
            )

    # --- robots ------------------------------------------------------------
    delays = [5.0, 15.0, 30.0]
    for i, host in enumerate(c.hosts):
        if i % 2 == 0:  # even hosts have robots; odd hosts -> default allow
            delay = delays[i % len(delays)]
            c.robots.append(
                {"host": host, "rule_order": 0, "allow": False,
                 "path_prefix": "/private/", "crawl_delay": delay}
            )
            c.robots.append(
                {"host": host, "rule_order": 1, "allow": True,
                 "path_prefix": "/", "crawl_delay": delay}
            )

    # --- sitemaps ----------------------------------------------------------
    for i, host in enumerate(c.hosts):
        urls = per_host_urls[host]
        root = f"https://{host}/"
        if i % 3 == 0:
            # sitemap-index -> two leaf sitemaps (recursion, site_mapper.py:77-84)
            idx = f"https://{host}/sitemap-index.xml"
            leaves = [f"https://{host}/sitemap-a.xml", f"https://{host}/sitemap-b.xml"]
            c.sitemaps_raw.append(
                {"url": idx, "host": host, "is_index": True, "locs": leaves,
                 "first_loc": None, "first_priority": None,
                 "first_changefreq": None, "first_lastmod": None}
            )
            for k, leaf in enumerate(leaves):
                # leaf B of the hot host announces a 404 target (never generated)
                if i == 0 and k == 1:
                    floc = f"https://{host}/missing/{k}"
                else:
                    floc = urls[md5i("smloc:" + leaf) % len(urls)]
                c.sitemaps_raw.append(
                    {"url": leaf, "host": host, "is_index": False,
                     "locs": [floc],
                     "first_loc": floc, "first_priority": 0.9 - 0.2 * k,
                     "first_changefreq": "weekly", "first_lastmod": "2025-01-0%d" % (k + 1)}
                )
        elif i % 3 == 1:
            # only /sitemap.xml (fallback path, site_mapper.py:118-121)
            leaf = f"https://{host}/sitemap.xml"
            floc = urls[md5i("smloc:" + leaf) % len(urls)]
            c.sitemaps_raw.append(
                {"url": leaf, "host": host, "is_index": False, "locs": [floc],
                 "first_loc": floc, "first_priority": 0.8,
                 "first_changefreq": "daily", "first_lastmod": "2025-02-01"}
            )
        # i % 3 == 2: no sitemap -> map-failure fallback (seed url itself)

    # --- seeds -------------------------------------------------------------
    k = n_seeds if n_seeds is not None else min(n_hosts, 6)
    for i in range(k):
        c.seeds.append(
            {"seed_url_id": i + 1, "domain": c.hosts[i],
             "url": f"https://{c.hosts[i]}/", "description": f"seed {i}"}
        )
    return c


def corpus_to_spark(spark, c: Corpus):
    """Materialize the corpus as Spark DataFrames with declared schemas."""
    from mr_crawly_spark import schemas as S

    docs = spark.createDataFrame(
        [(d["doc_id"],
          [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for d in c.documents],
        schema=S.DOCUMENTS,
    )
    robots = spark.createDataFrame(
        [(r["host"], r["rule_order"], r["allow"], r["path_prefix"], r["crawl_delay"])
         for r in c.robots],
        schema=S.ROBOTS,
    )
    sitemaps = spark.createDataFrame(
        [(r["url"], r["host"], r["is_index"], r["locs"], r["first_loc"],
          r["first_priority"], r["first_changefreq"], r["first_lastmod"])
         for r in c.sitemaps_raw],
        schema=S.SITEMAPS_RAW,
    )
    seeds = spark.createDataFrame(
        [(s["seed_url_id"], s["domain"], s["url"], s["description"]) for s in c.seeds],
        schema=S.SEEDS,
    )
    return docs, robots, sitemaps, seeds

