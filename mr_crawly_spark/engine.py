"""CrawlEngine: the micro-batch crawl loop (SURVEY.md §3.3, §2.9).

One round = one deterministic driver iteration (Trigger.AvailableNow-style):

    slice    = frontier rank window (O3) ∧ politeness gate (F7)
    fetched  = slice ⟕ corpus (J1, bucket-pruned broadcast join)
    outcome  = robots (F2) / 404 / transient-503 retry (F7) / 200
    links    = explode link spans (A1) → canonicalize (P2) → hash (P3)
               → same-domain (F1) → dedup + self-link quirk (D1/A4)
    fresh    = links ⟖̸ seen (J3, exact anti-join)
    frontier' = status rewrites + merge (D6); seen' += fresh
    snapshot (S11): frontier snapshot, seen/pages/links deltas, round manifest

Logical time advances ROUND_SECONDS per round — wall clock never enters the
semantics, so outputs are identical at any parallelism (the pytest suite
asserts local[2] ≡ local[8] ≡ sequential oracle).

Budget semantics (F6, manager.py:248-253): max_pages counts successful
fetches; when a round could cross the budget, a global-order window decides
exactly which slice entries are processed (the rest stay pending) — matching
the reference's mid-round shutdown. The window is single-partition, so it
only runs on rounds that can actually hit the budget (short-circuit).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

log = logging.getLogger("mr_crawly_spark.engine")

from mr_crawly_spark import schemas as S
from mr_crawly_spark import sizing
from mr_crawly_spark.datagen import (
    BACKOFF,
    DEFAULT_CRAWL_DELAY,
    MAX_PER_HOST_PER_ROUND,
    MAX_RETRIES,
    ROUND_SECONDS,
    TRANSIENT_FAIL_MOD,
)
from mr_crawly_spark.functions.urls import url_hash_col
from mr_crawly_spark.operators import politeness
from mr_crawly_spark.operators import seen as seen_ops
from mr_crawly_spark.operators.frontier import (
    CHANGE_FREQ_SECONDS,
    new_frontier_entries,
    recrawl_schedule,
    select_slice,
)
from mr_crawly_spark.operators.parse import extract_outlinks
from mr_crawly_spark.operators.politeness import (
    apply_throttle,
    default_k_host,
    host_budgets,
    robots_gate,
    update_throttle,
)
from mr_crawly_spark.operators.sitemap import bootstrap_frontier_urls, expand_sitemaps
from mr_crawly_spark.plans.catalog import SnapshotCatalog
from mr_crawly_spark.sources.corpus import CorpusFetcher

# frontier compaction cadence: flushes in between commit only the touched
# rows as merge-on-read deltas; every COMPACT_EVERY-th flush rewrites the
# full snapshot. At a 10^10-row frontier the per-round write cost tracks
# the round's slice, not the table (round-1 verdict #7). The search index
# (update_search_index) compacts its deltas on the same cadence.
COMPACT_EVERY = 4


@dataclass
class CrawlConfig:
    warehouse: str
    run_id: str = "run_0001"
    max_pages: int = 10**9
    max_rounds: int = 100
    salt_partitions: int | None = None   # repartition width for hot-host salting
    # parquet-snapshot cadence: rounds in between keep state as
    # localCheckpoint()ed in-memory DataFrames (lineage truncated, no disk
    # I/O); resume points exist at flushed rounds only. 1 = flush every
    # round (max resumability), larger = fewer commit jobs per round.
    checkpoint_interval: int = 4
    # page-cache read path (S4/J2, reference cache.py:102-111): re-serve
    # previously fetched 200 content from the pages table instead of
    # refetching (hits occur on recrawl/reparse; the default drain-loop
    # never refetches, so this only adds one small join per round)
    use_page_cache: bool = True
    # destructive-bootstrap opt-in: bootstrap() on a NON-EMPTY warehouse
    # refuses (the old crawl's data would be irreversibly rmtree'd) unless
    # this is set — `main.py --force-reset`, or resume() to continue
    force_reset: bool = False
    # reference `main.py --retries` (reference main.py:33-38): max fetch
    # attempts per URL. The sequential oracle takes the same value so the
    # golden tests stay in lockstep at any setting.
    max_retries: int = MAX_RETRIES
    # reference `--delay` (README.md:45,56 documents a default per-request
    # delay; the reference code never implements it): the crawl delay for
    # hosts that declare none in robots. Drives the per-round host budget
    # k = clamp(ROUND_SECONDS / delay); robots Crawl-delay always wins for
    # hosts that set one. Oracle takes the same value (lockstep).
    default_delay: float = DEFAULT_CRAWL_DELAY
    # opt-in freshness-measured recrawl ordering (beyond the reference,
    # which trusts sitemap <changefreq>/<priority> at face value;
    # operators/freshness.py, Cho & Garcia-Molina TODS'03): when enabled,
    # schedule_recrawl() replaces the sitemap-declared priority of each
    # re-enqueued row that has >=2 archived fetches with the MEASURED
    # staleness probability from the pages table's own fingerprint
    # history — pages that actually change outrank pages whose sitemap
    # merely claims they do. Urls without change evidence (single visit)
    # keep their sitemap priority (cold-start policy). OFF by default —
    # golden oracle-lockstep ordering is unchanged unless an operator
    # opts in (same contract as refresh_pagerank/refresh_trap_stats).
    # The measured revisit CADENCE follows too: next_attempt_at =
    # t_now + clamp(1/rate, ROUND_SECONDS, yearly) — hot pages come due
    # sooner, dead ones settle at the sitemaps.org 'yearly' ceiling (never
    # a never-recrawl NULL).
    use_freshness: bool = False
    # opt-in content-addressed archive: recrawl cycles append a pages row
    # ONLY when the fetched content differs from the url's latest archived
    # version; every successful visit instead logs a ~100-byte row in the
    # `visits` table (url, round, fingerprint). The archive then grows
    # with CHANGE volume, not visit volume — at 100 TB a weekly recrawl of
    # a mostly-static corpus would otherwise duplicate the whole store
    # every cycle. measured_change_rates() reads the visits log when this
    # is on (it preserves the no-change observations the deduped pages
    # table no longer carries). Set it for the crawl's lifetime: a
    # mid-life flip leaves the visit history partial. OFF by default —
    # append-always archival is the reference-parity behavior.
    archive_dedup: bool = False
    # opt-in adaptive per-host throttling (beyond the reference, whose
    # politeness is static robots Crawl-delay): AIMD on each host's
    # observed transient-failure rate — a round where a host's 5xx rate
    # exceeds the threshold halves its next-round budget (floored, never
    # starved to 0); healthy rounds recover it additively toward 1.0.
    # State is ephemeral (resets on resume — it re-learns within a few
    # rounds) and holds only currently-throttled hosts. OFF by default —
    # golden oracle-lockstep budgets are unchanged unless an operator
    # opts in (same contract as the other opt-in gates). The AIMD
    # constants live in operators/politeness.py (THROTTLE_*).
    use_adaptive_politeness: bool = False


def _throttle_outcomes(processed: DataFrame) -> DataFrame:
    """Per-host (n_processed, n_transient) over LIVE requests only, for
    the adaptive-politeness fold: robots-denied rows never reached the
    host and page-cache hits never left the archive — counting either as
    a healthy observation dilutes the transient-failure rate (a host
    whose every live request 5xx'd could look healthy behind a wall of
    denied/cached rows) and would let a throttled host 'recover' without
    a single live probe. Map-side-combined, bounded by the slice."""
    live = processed.filter(
        (F.col("_outcome") != "robots_denied") & ~F.col("_from_cache")
    )
    return live.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_processed"),
        F.sum((F.col("_outcome") == "retry").cast("int")).alias("n_transient"),
    )


def _span_fp():
    """Content fingerprint of a page's ``spans`` column: md5 over the
    canonically ordered (array_sort) JSON payload, so physical storage
    order can never alias a content change. Shared by the visits log,
    the dedup-write filter, and measured_change_rates — all three MUST
    agree or a changed page could be judged unchanged."""
    return F.md5(F.to_json(F.array_sort(F.col("spans"))))


def _transient_fail_col(url):
    """JVM-side twin of datagen.is_transient_fail: md5 of 'fail:'+url, first
    15 hex chars as int, mod TRANSIENT_FAIL_MOD — no UDF, codegen-friendly."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit("fail:"), url)), 1, 15), 16, 10)
    return h.cast("long") % TRANSIENT_FAIL_MOD == 0


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        fetcher: CorpusFetcher,
        robots: DataFrame,
        sitemaps_raw: DataFrame,
        seeds: DataFrame,
        config: CrawlConfig,
    ):
        self.spark = spark
        self.fetcher = fetcher
        # robots (and the budgets derived from it) ride a broadcast join in
        # EVERY round's plan — checkpoint lazily so re-broadcasts serve from
        # cached partitions, not a re-run of the caller's lineage
        self.robots = robots.localCheckpoint(eager=False)
        self.sitemaps_raw = sitemaps_raw
        self.seeds = seeds
        self.cfg = config
        self.catalog = SnapshotCatalog(spark, config.warehouse)
        # reused every round; broadcast in select_slice only while the rule
        # count stays under the gate (see _robots_row_bound)
        self.budgets = host_budgets(
            self.robots, config.default_delay
        ).localCheckpoint(eager=False)
        # budget for hosts with no robots rows at all (--delay knob)
        self._default_k = default_k_host(config.default_delay)
        self._robots_rows: int | None = None
        self._reset_state(round_=0, visited=0, pending=None, new_crawl=True)
        # round-invariant Column expression trees, built ONCE per engine:
        # rebuilding them every round cost ~1.5k py4j round-trips (~1 s of
        # pure driver latency per round — the dominant share of the
        # per-round floor at sandbox scale, and serial driver time that
        # caps round cadence at any scale). Only the r/t literals vary.
        self._rc = self._build_round_cols()

    def _build_round_cols(self) -> dict:
        """Static expression trees for run_round (see self._rc)."""
        rc = {
            "transient": (
                _transient_fail_col(F.col("url"))
                & (F.col("retry_count") == 0)
                & F.col("spans").isNotNull()
                & ~F.col("_from_cache")
            ),
            "outcome": (
                F.when(~F.col("allowed"), F.lit("robots_denied"))
                .when(F.col("spans").isNull(), F.lit("error404"))
                .when(F.col("_transient"), F.lit("retry"))
                .otherwise(F.lit("success"))
            ),
            "is_success": (F.col("_outcome") == "success").cast("int"),
            "succ": F.col("_outcome") == "success",
            "e404": F.col("_outcome") == "error404",
            "page_200": [
                F.lit(200).alias("fetch_status"),
                F.col("spans").alias("spans"),
                F.coalesce(F.size("spans"), F.lit(0)).cast("int").alias("n_spans"),
            ],
            "page_404": [
                F.lit(404).alias("fetch_status"),
                F.lit(None).cast(S.PAGES["spans"].dataType).alias("spans"),
                F.coalesce(F.size("spans"), F.lit(0)).cast("int").alias("n_spans"),
            ],
            "run_id_lit": F.lit(self.cfg.run_id).alias("run_id"),
            "run_id_plain": F.lit(self.cfg.run_id),
            "seed_url": F.concat(
                F.lit("https://"), F.col("host"), F.lit("/")
            ).alias("seed_url"),
            "src_alias": F.col("url").alias("source_url"),
            "linked_as_url": F.col("linked_url").alias("url"),
            "cand_hash": url_hash_col(F.col("url")),
            "status": (
                F.when(F.col("_outcome") == "success", F.lit("fetched"))
                .when(F.col("_outcome") == "robots_denied", F.lit("robots_denied"))
                .when(F.col("_outcome") == "error404", F.lit("error"))
                .when(
                    F.col("retry_count") + 1 >= self.cfg.max_retries,
                    F.lit("error"),
                )
                .otherwise(F.lit("pending"))
                .alias("status")
            ),
            "retry_count": (
                F.when(F.col("_outcome") == "retry", F.col("retry_count") + 1)
                .otherwise(F.col("retry_count"))
                .alias("retry_count")
            ),
            "retry_back": (
                (F.col("_outcome") == "retry")
                & (F.col("retry_count") + 1 < self.cfg.max_retries)
            ),
            # attempts beyond the schedule reuse the last backoff step (only
            # reachable when cfg.max_retries > len(BACKOFF))
            "backoff_delta": F.element_at(
                F.array(*[F.lit(b) for b in BACKOFF]),
                F.least(F.col("retry_count") + 1, F.lit(len(BACKOFF))),
            ),
            "next_at_keep": F.col("next_attempt_at"),
            "n_new": F.count(F.lit(1)).alias("n_new"),
            "from_cache_false": F.lit(False),
        }
        rc["aggs"] = self._outcome_aggs()
        return rc

    # ------------------------------------------------------------------ #
    def _write_run_row(self, end: bool) -> None:
        """Run bookkeeping (S9, data.py:38-60): start row at bootstrap, final
        row with end_time at completion (insert-then-update emulated as
        last-writer-wins rows; readers take max(end_time) per run_id).
        Deliberately WALL-CLOCK (datetime.now), unlike everything else in
        the engine: run bookkeeping is operator-facing metadata outside the
        deterministic logical-time contract — the reference stamps real
        timestamps here too, and no golden comparison reads these values."""
        import datetime

        if not hasattr(self, "_first_seed_url"):
            first_seed = self.seeds.orderBy("seed_url_id").first()
            self._first_seed_url = first_seed["url"] if first_seed else None
        now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
        if not end:
            self._run_started = now
        row = (
            self.cfg.run_id,
            self._first_seed_url,
            getattr(self, "_run_started", now),
            self.cfg.max_pages,
            now if end else None,
        )
        # one bookkeeping row: pyarrow-direct commit, no Spark job
        self.catalog.commit_pylist(
            "runs", S.RUNS, [row], self.round, mode="delta"
        )

    def _write_sitemap_index_json(self) -> None:
        """S10 (manager.py:224-225): sitemap-index url -> child sitemap urls
        as a JSON side file next to the warehouse manifests. The index map is
        tiny relative to the crawl (one entry per sitemap-index document)."""
        import json as _json
        import os as _os

        rows = self.sitemaps_raw.filter(F.col("is_index")).select("url", "locs").collect()
        path = _os.path.join(self.cfg.warehouse, "sitemap_indexes.json")
        with open(path, "w") as f:
            _json.dump({r["url"]: list(r["locs"]) for r in rows}, f, indent=1)

    def bootstrap(self) -> None:
        """Round 0: sitemap expansion -> initial frontier + seen (SURVEY §3.2).

        A non-empty warehouse must be CLEARED first: without this,
        re-running on a used --warehouse silently merges the old run's
        seen/pages/links deltas into the new crawl (URLs wrongly treated as
        already seen). But clearing is irreversible, so it requires the
        explicit ``force_reset`` opt-in — otherwise refuse and point the
        operator at resume() / a fresh --warehouse / --force-reset.
        """
        if not self.catalog.is_empty():
            if not self.cfg.force_reset:
                raise RuntimeError(
                    f"warehouse {self.cfg.warehouse} already holds a crawl; "
                    "refusing to clear it. Use resume() (--resume) to "
                    "continue, a new --warehouse, or force_reset=True "
                    "(--force-reset) to discard the existing data."
                )
            log.warning(
                "warehouse %s is not empty — clearing for fresh bootstrap "
                "(force_reset set)",
                self.cfg.warehouse,
            )
            self.catalog.reset()
        details, fallback = expand_sitemaps(self.seeds, self.sitemaps_raw)
        # cut lineage once: details feeds the sitemaps commit AND the
        # frontier build; frontier feeds its own commit AND the seen commit —
        # without the checkpoints each consumer re-runs the whole sitemap
        # expansion (measured: bootstrap 27 s -> the expansion recomputed 3x)
        details = details.localCheckpoint()
        first = bootstrap_frontier_urls(details, fallback)
        frontier = new_frontier_entries(
            first, round_=0, run_id=self.cfg.run_id
        ).localCheckpoint()
        seen = frontier.select("url_hash", "url").withColumn(
            "first_seen_round", F.lit(0)
        ).withColumn("run_id", F.lit(self.cfg.run_id))
        self.catalog.commit("sitemaps", details, 0, mode="delta")
        m = self.catalog.commit("frontier", frontier, 0, mode="snapshot")
        self.catalog.commit("seen", seen, 0, mode="delta", n_rows=m["n_rows"])
        # schema-bearing empty deltas: pyarrow-direct, no Spark jobs
        self.catalog.commit_pylist("pages", S.PAGES, [], 0, mode="delta")
        self.catalog.commit_pylist("visits", S.VISITS, [], 0, mode="delta")
        self.catalog.commit_pylist("links", S.LINKS, [], 0, mode="delta")
        self._reset_state(
            round_=0, visited=0, pending=m["n_rows"], new_crawl=True
        )
        self.frontier_count = m["n_rows"]
        self._frontier_base = self.catalog.load("frontier", max_round=0)
        self._write_run_row(end=False)
        self._write_sitemap_index_json()
        self._commit_round(
            {"visited_count": 0, "processed": 0, "pending_count": m["n_rows"]}
        )
        log.info("bootstrap: %d frontier urls (run %s)", m["n_rows"], self.cfg.run_id)

    def resume(self) -> bool:
        """Pick up from the last complete round manifest (north_rule:
        'resumable from checkpoint'). Returns True if state was found."""
        last = self.catalog.last_round()
        if last is None:
            return False
        # a crash mid-flush can leave table commits newer than the last
        # COMPLETE round manifest (each table commits before the round
        # manifest lands). Those orphaned deltas would otherwise merge with
        # the re-run's fresh commits — duplicate seen/pages/links rows and
        # stale frontier versions. Roll them back first.
        self.catalog.rollback_to(last["round"])
        self._reset_state(
            round_=last["round"],
            visited=last["visited_count"],
            pending=last.get("pending_count"),  # None -> recount lazily
            recrawl_mode=bool(last.get("recrawl_mode")),
        )
        log.info("resume: round %d, %d visited", self.round, self.visited_count)
        return True

    def _reset_state(
        self,
        round_: int,
        visited: int,
        pending: int | None,
        recrawl_mode: bool = False,
        new_crawl: bool = False,
    ) -> None:
        """Reset every in-memory crawl field to the state as of ``round_``
        (construction, bootstrap() and resume()); the merge-on-read views
        reload lazily from the catalog. ``new_crawl`` also drops what was
        mined from an earlier crawl: refresh_pagerank() ranks,
        refresh_trap_stats() stats and the last round's metrics. A resume
        continues the same crawl, so it keeps them; a re-bootstrapped
        engine must not, or the discarded crawl's ranks and trap stats
        would silently reorder and rewrite the new one."""
        self.round = round_
        self.visited_count = visited
        # driver-tracked counters (exact, updated per round) — avoid
        # re-counting the frontier every round just to test loop conditions
        self.pending_count = pending
        self.frontier_count: int | None = None
        # flush progress: the last fully flushed round and the round whose
        # frontier delta is committed — a second run() on the same engine
        # must flush its own rounds
        self._flushed_round: int | None = None
        self._frontier_committed_round: int | None = None
        # adaptive-politeness state (host, mult) — only currently-throttled
        # hosts; ephemeral by design (resume re-learns in a few rounds)
        self._throttle: DataFrame | None = None
        # in-memory state between parquet snapshots. The frontier is held
        # merge-on-read: an immutable base (last snapshot) + a small
        # localCheckpoint'ed last-writer-wins update set — a round never
        # joins or rewrites the full table (scale: verdict #7).
        self._frontier_base: DataFrame | None = None
        self._frontier_updates: DataFrame | None = None
        self._updates_count = 0
        self._flushes_since_compact = 0
        # seen base, built lazily (partitioned layout) on use
        self._seen: DataFrame | None = None
        self._pages_cache: DataFrame | None = None
        # latest archived fingerprint per url (content-addressed archive
        # mode): built by schedule_recrawl, None during the first crawl —
        # the dedup-write filter is a no-op until something is archived
        self._archive_fp: DataFrame | None = None
        # armed by schedule_recrawl() and persisted in the round payload:
        # only then can a fetch hit the page cache, so only then does the
        # fetch path pay the cache joins
        self._recrawl_mode = recrawl_mode
        self._deltas: dict[str, list[DataFrame]] = {
            "pages": [], "links": [], "seen": [], "visits": []
        }
        # frames persisted during rounds; released only after flush writes
        # (pages/links deltas stay LAZY until the flush job — zero extra
        # materialization jobs per round)
        self._round_persists: list[DataFrame] = []
        if new_crawl:
            # (url, rank) from the last refresh_pagerank(); None until
            # computed — the slice keeps the golden ordering until then
            self._ranks: DataFrame | None = None
            # (host, param, ...) stats from the last refresh_trap_stats();
            # None until mined — the trap gate stays inert until then
            self._trap_stats: DataFrame | None = None
            self._last_metrics: dict = {}

    # ------------------------------------------------------------------ #
    # merge-on-read state views
    def _frontier_view(self) -> DataFrame:
        """Current frontier = base snapshot with the update set applied
        (base rows whose key was touched are replaced). The anti-join's
        build side is the SMALL update set, so this is a map-side pass over
        the base — never a full-table rewrite or key-shuffle per round."""
        if self._frontier_base is None:
            self._frontier_base = self.catalog.load_merge(
                "frontier", ("url_hash", "url"), max_round=self.round
            )
        if self._frontier_updates is None:
            return self._frontier_base
        keys = self._frontier_updates.select("url_hash", "url")
        return self._frontier_base.join(
            keys, ["url_hash", "url"], "left_anti"
        ).unionByName(self._frontier_updates)

    def _seen_base(self) -> DataFrame:
        """The seen-set BASE: as-of the last flush, in the seen_ops.seen_base
        layout (partitioned and sorted on the join keys, lineage-cut), so
        each round's anti-join shuffles only its candidates. Rebuilt only
        at flush cadence.

        Rows seen SINCE the flush live in self._deltas["seen"]; the round's
        membership test anti-joins base first, then the (small) delta union
        — exact either way."""
        if self._seen is None:
            self._seen = seen_ops.seen_base(
                self.catalog.load("seen", max_round=self.round)
            )
        return self._seen

    def _pages_cache_view(self) -> DataFrame | None:
        """(url_hash, url, spans) of successfully fetched pages — the
        page-cache read side (S4/J2), materialized ONCE per recrawl cycle.

        In the default drain-loop a cache hit is IMPOSSIBLE (the status
        machine never re-enqueues a fetched url), so the view is None and
        the fetch path pays zero extra joins; schedule_recrawl() arms it.
        The view is deliberately as-of the last flush: a stale entry is just
        a cache miss that falls through to the fetcher, never a wrong
        answer — so it can be localCheckpoint'ed once and reused without
        per-round lineage growth (the round-1 per-round union cost
        ~11 s/round at the e2e bench)."""
        if not (self.cfg.use_page_cache and self._recrawl_mode):
            return None
        if self.cfg.use_freshness:
            # freshness measurement needs LIVE refetches: a cache hit
            # re-serves the engine's own archive, which always equals
            # itself — every measured rate would be a fake 0
            return None
        if self.visited_count == 0:
            return None
        if self._pages_cache is None:
            pages = self.catalog.load("pages", max_round=self.round)
            if pages is None:
                return None
            self._pages_cache = (
                pages.filter(
                    (F.col("fetch_status") == 200) & F.col("spans").isNotNull()
                )
                # a url re-archived across recrawl cycles has several rows;
                # the cache must re-serve the LATEST version, not an
                # arbitrary one (max_by round — same single shuffle the old
                # dropDuplicates paid, but version-deterministic)
                .groupBy("url_hash", "url")
                .agg(F.max_by("spans", "round").alias("spans"))
                .localCheckpoint()
            )
        return self._pages_cache

    def _archive_fp_view(self) -> DataFrame | None:
        """Latest archived fingerprint per url — the dedup-write filter's
        right side (content-addressed archive mode). Lazy like
        _pages_cache_view and gated the same way on _recrawl_mode, which
        is PERSISTED in the round payload, so the filter survives a
        resume mid-recrawl-cycle (an in-memory-only flag would silently
        degrade a resumed cycle to append-always). One shuffle,
        materialized once per cycle, lineage cut."""
        if not (self.cfg.archive_dedup and self._recrawl_mode):
            return None
        if self._archive_fp is None:
            cache = self._pages_cache_view()
            if cache is not None:
                # the page cache already materialized latest-spans-per-url
                # (same max_by(round) agg): derive fingerprints with a
                # scan over it instead of re-aggregating the pages table
                self._archive_fp = cache.select(
                    "url_hash", "url", _span_fp().alias("_arch_fp")
                )
                return self._archive_fp
            pages = self.catalog.load("pages", max_round=self.round)
            if pages is None:
                return None
            self._archive_fp = (
                pages.filter(
                    (F.col("fetch_status") == 200) & F.col("spans").isNotNull()
                )
                .groupBy("url_hash", "url")
                .agg(F.max_by(_span_fp(), F.col("round")).alias("_arch_fp"))
                .localCheckpoint()
            )
        return self._archive_fp

    def _fetch_with_cache(self, gated: DataFrame) -> DataFrame:
        """Fetch stage with the page-cache read join (J2): slice rows whose
        content is already archived are served from the pages table
        (reference cache.py:102-111 re-serves cached 200s); only misses hit
        the fetcher. Cached rows carry _from_cache=true so the transient-
        failure model never re-fails them (a cache hit never touches the
        downloader)."""
        cache = self._pages_cache_view()
        if cache is None:
            return self.fetcher.fetch(
                gated, approx_rows=self.pending_count
            ).withColumn("_from_cache", self._rc["from_cache_false"])
        hits = (
            gated.join(
                cache.withColumnRenamed("spans", "_cached_spans"),
                ["url_hash", "url"],
                "inner",
            )
            .withColumn("spans", F.col("_cached_spans"))
            .drop("_cached_spans")
            .withColumn("_from_cache", F.lit(True))
        )
        misses = gated.join(
            cache.select("url_hash", "url"), ["url_hash", "url"], "left_anti"
        )
        fetched = self.fetcher.fetch(
            misses, approx_rows=self.pending_count
        ).withColumn("_from_cache", F.lit(False))
        return fetched.unionByName(hits.select(*fetched.columns))

    def _commit_round(self, extra: dict) -> None:
        self.catalog.commit_round(
            self.round,
            {
                "run_id": self.cfg.run_id,
                "logical_time": self.round * ROUND_SECONDS,
                "recrawl_mode": self._recrawl_mode,
                **extra,
            },
        )

    # ------------------------------------------------------------------ #
    _OUTCOME_KEYS = ("n", "ok", "denied", "err404", "retries", "retry_back")

    def _outcome_aggs(self) -> list:
        """The per-round metric aggregates — used either as an eager agg job
        (budget-risky rounds) or as a zero-job Observation riding the
        round's single materializing action (the common case)."""
        return [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_is_success")).alias("ok"),
            F.sum((F.col("_outcome") == "robots_denied").cast("int")).alias("denied"),
            F.sum((F.col("_outcome") == "error404").cast("int")).alias("err404"),
            F.sum((F.col("_outcome") == "retry").cast("int")).alias("retries"),
            F.sum(
                (
                    (F.col("_outcome") == "retry")
                    & (F.col("retry_count") + 1 < self.cfg.max_retries)
                ).cast("int")
            ).alias("retry_back"),
        ]

    def _outcome_counts(self, df: DataFrame) -> dict:
        """One aggregation job for every per-round metric."""
        row = df.agg(*self._rc["aggs"]).first()
        return {k: int(row[k] or 0) for k in self._OUTCOME_KEYS}

    def _robots_row_bound(self) -> int:
        """Rules-table row count, measured ONCE per crawl (the frame is
        checkpointed and static). It size-gates both the robots-rules and
        the per-host-budgets broadcast: under sizing.BROADCAST_ROW_LIMIT the
        hint is forced, above it the joins are left to AQE (verdict r2 #1 —
        an unconditional broadcast OOMs the driver at ~10^7 ruled hosts).
        budgets has at most one row per ruled host, so the same bound
        covers it."""
        if self._robots_rows is None:
            self._robots_rows = self.robots.count()
        return self._robots_rows

    def run_round(self) -> dict:
        """Execute one crawl round; returns the round's metric dict.

        In the common case (the round provably cannot cross max_pages —
        decidable on the driver from pending_count) the round has ONE
        materializing action: the frontier-update localCheckpoint runs
        slice -> fetch -> classify -> parse -> seen anti-join -> updates,
        and every per-round count rides it as an Observation (verdict #8).
        That action is still many Spark jobs, not one: every broadcast
        build side (robots rules, host budgets, the fetch slice, ...) is
        its own job, and with AQE on so is every shuffle stage. The traced
        bench crawl (crawlbench/baseline.json) counts about 18 jobs and 22
        stages per round, 6 of the jobs broadcast builds. Budget-risky
        rounds add an eager outcome aggregation (and, when max_pages is
        actually crossed, the global-order window); flush rounds add the
        table writes. The pages and links deltas stay lazy over the
        persisted frames until flush.
        """
        r = self.round + 1
        t = r * ROUND_SECONDS
        frontier = self._frontier_view()
        seen = self._seen_base()

        budgets = self.budgets
        if self.cfg.use_adaptive_politeness and self._throttle is not None:
            # AIMD budgets: scale each throttled host's k by its current
            # multiplier (politeness.apply_throttle; full join so hosts
            # without robots rows are throttled off default_k too)
            budgets = apply_throttle(
                self.budgets, self._throttle, self._default_k
            )
        sliced = select_slice(
            frontier, budgets, t,
            salt_partitions=self.cfg.salt_partitions,
            # host_budgets clamps every k_host to this, so the literal cap is
            # lossless — and it unlocks the map-side WindowGroupLimit
            k_cap=MAX_PER_HOST_PER_ROUND,
            budget_rows=self._robots_row_bound(),
            default_k=self._default_k,
            # None until refresh_pagerank() arms the blended ordering
            ranks=self._ranks,
        )
        gated = robots_gate(
            sliced, self.robots, approx_rule_rows=self._robots_row_bound()
        )
        fetched = self._fetch_with_cache(gated)

        rc = self._rc
        classified_base = (
            # _transient: cache hits never touch the downloader
            fetched.withColumn("_transient", rc["transient"])
            .withColumn("_outcome", rc["outcome"])
            .withColumn("_is_success", rc["is_success"])
        )
        # Budget risk is decidable on the driver for free: the slice can
        # never process more rows than there are pending rows. When max_pages
        # cannot be crossed (the overwhelmingly common case), the whole round
        # fuses into ONE Spark job — every count rides the single
        # materializing action as an Observation (verdict #8).
        budget_risk = (
            self.pending_count is None
            or self.visited_count + self.pending_count > self.cfg.max_pages
        )
        # the round's touched-row bound: carried updates + this round's
        # slice (at most pending_count) + last round's link discovery as
        # the new-url proxy (exact counts only exist after materialization
        # — an underestimate just means slightly larger partitions, never
        # wrong results). It sizes the update checkpoint, and decides AQE
        # for every materializing action of the round; an unknown pending
        # count (fresh resume) keeps AQE on.
        round_bound = (
            self._updates_count
            + (self.pending_count or 0)
            + int(self._last_metrics.get("new_urls", 0) or 0)
        )
        aqe_on = sizing.use_aqe(
            None if self.pending_count is None else round_bound
        )
        write_width = sizing.write_width(round_bound)
        # The slice processes at most pending_count pages, the bound the
        # fetch broadcast gate uses too.
        py_width = sizing.python_width(
            self.pending_count, sizing.shuffle_width(self.spark)
        )
        obs_cls: Observation | None = None
        cnt: dict | None = None
        if budget_risk:
            classified = classified_base.persist()
            self._round_persists.append(classified)
            with sizing.aqe(self.spark, aqe_on):
                cnt = self._outcome_counts(classified)  # eager job
            if cnt["n"] == 0:
                self.round = r
                self._last_metrics = {"round": r, "processed": 0, "fetched_ok": 0}
                if r % self.cfg.checkpoint_interval == 0:
                    self.flush()
                return self._last_metrics
            # --- budget gate (F6): only rounds that actually cross max_pages
            # pay for the global-order window ---------------------------------
            if self.visited_count + cnt["ok"] > self.cfg.max_pages:
                w = Window.orderBy(
                    F.col("host").asc(),
                    F.col("priority").desc(),
                    F.col("discovered_round").asc(),
                    F.col("url").asc(),
                ).rowsBetween(Window.unboundedPreceding, -1)
                classified = classified.withColumn(
                    "_succ_before", F.coalesce(F.sum("_is_success").over(w), F.lit(0))
                ).withColumn(
                    "_processed",
                    (F.lit(self.visited_count) + F.col("_succ_before"))
                    < F.lit(self.cfg.max_pages),
                ).persist()
                self._round_persists.append(classified)  # both released at flush
                processed = classified.filter(F.col("_processed"))
                with sizing.aqe(self.spark, aqe_on):
                    cnt = self._outcome_counts(processed)
            else:
                processed = classified
        else:
            obs_cls = Observation()
            classified = classified_base.observe(
                obs_cls, *rc["aggs"]
            ).persist()
            self._round_persists.append(classified)
            processed = classified

        successes = processed.filter(rc["succ"])
        errors404 = processed.filter(rc["e404"])

        # --- sinks: pages with full content (S5/S6, url_html data.py:70-86) --
        round_lit = F.lit(r).alias("round")

        def page_rows(df: DataFrame, with_content: bool) -> DataFrame:
            return df.select(
                "url", "url_hash", "host",
                *(rc["page_200"] if with_content else rc["page_404"]),
                round_lit,
                "priority", "discovered_round",
                rc["run_id_lit"],
            )

        pages_ok = page_rows(successes, True)
        if self.cfg.archive_dedup:
            # every successful visit logs a tiny observation row; the full
            # content row is appended ONLY when the fingerprint differs
            # from the url's latest archived version (content-addressed
            # archive — the store grows with change volume, not visits)
            # cache-served rows are NOT live observations — the content
            # came from the archive, so logging them would flood the visit
            # history with fingerprints that trivially equal the archive's
            # and bias every measured change rate toward a fake 0
            self._deltas["visits"].append(
                successes.filter(~F.col("_from_cache")).select(
                    "url", "url_hash", round_lit,
                    _span_fp().alias("fingerprint"), rc["run_id_lit"],
                )
            )
            arch = self._archive_fp_view()
            if arch is not None:
                pages_ok = (
                    pages_ok.withColumn("_fp", _span_fp())
                    .join(arch, ["url_hash", "url"], "left")
                    .filter(
                        F.col("_arch_fp").isNull()
                        | (F.col("_arch_fp") != F.col("_fp"))
                    )
                    .drop("_fp", "_arch_fp")
                )
        pages_delta = pages_ok.unionByName(page_rows(errors404, False))

        # --- parse + links (A1/A2/F1/D1/A4, S7) ------------------------------
        # persisted: feeds the links sink AND the seen/frontier merge — without
        # it the canonicalize UDF + dedup shuffles would run once per consumer.
        links_pairs = extract_outlinks(
            successes.select("url", "host", "spans"), width=py_width
        ).persist()
        self._round_persists.append(links_pairs)
        links_delta = links_pairs.join(
            successes.select(rc["src_alias"], "host"),
            "source_url",
            "inner",
        ).select(
            rc["seed_url"],
            "source_url",
            "linked_url",
            round_lit,
            rc["run_id_lit"],
        ).dropDuplicates(["seed_url", "source_url", "linked_url"])

        # --- dedup against seen (D2/J3) --------------------------------------
        # Deliberately a SECOND exchange after the (source,linked) pair dedup:
        # sharing one linked_url-keyed exchange for both dedups looks cheaper
        # but concentrates a hot link target (every page linking "/") into
        # one partition, and distinct sources can't combine map-side. This
        # shape's partial aggregation collapses each hot url to <= 1 row per
        # map partition BEFORE its shuffle — skew-immune by construction.
        candidates = (
            links_pairs.select(rc["linked_as_url"])
            .dropDuplicates(["url"])
            .withColumn("url_hash", rc["cand_hash"])
        )
        # --- opt-in trap gate (beyond-ref; operators/traps.py) -----------
        # armed by refresh_trap_stats(): candidates are rewritten without
        # their host's flagged parameters BEFORE the seen anti-join, so an
        # infinite URL axis (session ids / tracking params) collapses to
        # its canonical form instead of consuming frontier + fetch budget
        if self._trap_stats is not None:
            from mr_crawly_spark.operators.traps import strip_candidate_traps

            candidates = strip_candidate_traps(candidates, self._trap_stats)
        fresh = seen_ops.filter_unseen(candidates, seen)
        # rows seen since the last flush (not yet folded into the base):
        # one anti-join against the small delta union — `fresh` leaves the
        # base join already partitioned on the keys, so only the (round-
        # sized, checkpointed) delta side exchanges
        if self._deltas["seen"]:
            drift = self._deltas["seen"][0].select("url_hash", "url")
            for d in self._deltas["seen"][1:]:
                drift = drift.unionByName(d.select("url_hash", "url"))
            fresh = fresh.join(drift, ["url_hash", "url"], "left_anti")

        obs_new = Observation()
        new_entries = new_frontier_entries(
            fresh.select("url"), round_=r, run_id=self.cfg.run_id
        ).observe(obs_new, rc["n_new"])
        # (no persist: new_entries has exactly one consumer — the frontier
        # update union below; this round's seen delta is DERIVED from the
        # checkpointed updates by discovered_round == r)

        # --- frontier status rewrites (P10) as merge-on-read updates ---------
        # full replacement rows for the touched keys; NEVER a join against
        # the full frontier (verdict #7 — a round's write cost is its slice)
        status_updates = processed.select(
            "url",
            "url_hash",
            "host",
            rc["status"],
            "priority",
            "change_freq",
            "last_modified",
            rc["retry_count"],
            F.when(rc["retry_back"], F.lit(t) + rc["backoff_delta"])
            .otherwise(rc["next_at_keep"])
            .alias("next_attempt_at"),
            "discovered_round",
            "run_id",
        )
        round_updates = status_updates.unionByName(new_entries)
        if self._frontier_updates is not None:
            keys = round_updates.select("url_hash", "url")
            round_updates = self._frontier_updates.join(
                keys, ["url_hash", "url"], "left_anti"
            ).unionByName(round_updates)
        # THE round's materializing action: one localCheckpoint runs the
        # whole pipeline (slice -> fetch -> classify -> parse -> anti-join ->
        # updates); the Observations deliver every count for free. Width
        # tracks the round bound.
        with sizing.aqe(self.spark, aqe_on):
            updates_ck = round_updates.coalesce(write_width).localCheckpoint()
        n_new = int(obs_new.get["n_new"] or 0)
        if cnt is None:
            cnt = {k: int(obs_cls.get[k] or 0) for k in self._OUTCOME_KEYS}
        n_slice = cnt["n"]
        if n_slice == 0:
            # fused-path empty round: nothing was touched (updates_ck merely
            # re-checkpointed the old update set) — keep state at round r-1
            self.round = r
            self._last_metrics = {"round": r, "processed": 0, "fetched_ok": 0}
            if r % self.cfg.checkpoint_interval == 0:
                self.flush()
            return self._last_metrics

        # this round's seen delta = the new entries inside the checkpointed
        # updates (exactly the rows discovered this round; processed rows
        # always carry discovered_round < r) — zero extra jobs
        seen_delta_ck = (
            updates_ck.filter(F.col("discovered_round") == r)
            .select("url_hash", "url")
            .withColumn("first_seen_round", F.lit(r))
            .withColumn("run_id", rc["run_id_plain"])
        )
        # pure-python assignment block: the py4j calls above can be
        # interrupted (streaming wrapper stop()); these assignments cannot,
        # so the engine is always either fully at round r-1 or fully at
        # round r. The seen BASE is deliberately NOT extended per round —
        # the round's delta joins as drift until flush folds it in
        # (_seen_base); same for the page cache (_pages_cache_view:
        # stale == miss == refetch, never wrong).
        self._frontier_updates = updates_ck
        self._deltas["seen"].append(seen_delta_ck)
        self._deltas["pages"].append(pages_delta)  # lazy until flush
        self._deltas["links"].append(links_delta)  # lazy until flush

        n_ok, n_processed = cnt["ok"], cnt["n"]
        metrics = {
            "round": r,
            "slice": n_slice,
            "processed": n_processed,
            "fetched_ok": n_ok,
            "denied": cnt["denied"],
            "err404": cnt["err404"],
            "retries": cnt["retries"],
            "new_urls": n_new,
        }
        self.visited_count += n_ok
        self._updates_count += n_processed + n_new
        if self.frontier_count is not None:
            self.frontier_count += n_new
        if self.pending_count is not None:
            self.pending_count += n_new + cnt["retry_back"] - n_processed
        self.round = r
        self._last_metrics = metrics
        if self.cfg.use_adaptive_politeness and not (
            self._throttle is None and cnt["retries"] == 0
        ):
            # fold this round's per-host LIVE-request outcome counts into
            # the AIMD state — one map-side-combined agg over the already-
            # persisted round frame, bounded by the slice, never the
            # frontier. An empty state resets to None so a healthy crawl
            # pays zero extra plan cost (the slice joins budgets directly);
            # with no state AND a transient-free round (retries counts the
            # same _outcome == 'retry' rows n_transient sums), the fold is
            # provably a no-op, so the checkpoint+count job pair is
            # skipped outright (ADVICE r5 #2).
            # the AIMD constants are read at call time, so a caller (or a
            # test) can retune them on the politeness module
            t_new = update_throttle(
                self._throttle, _throttle_outcomes(processed),
                fail_threshold=politeness.THROTTLE_FAIL_THRESHOLD,
                decrease=politeness.THROTTLE_DECREASE,
                increase=politeness.THROTTLE_INCREASE,
            ).localCheckpoint()
            self._throttle = t_new if t_new.count() > 0 else None
        log.info(
            "round %d: slice=%d ok=%d denied=%d 404=%d retry=%d new=%d "
            "visited=%d pending=%s aqe=%s write_width=%d py_width=%s",
            r, n_slice, n_ok, cnt["denied"], cnt["err404"], cnt["retries"],
            n_new, self.visited_count, self.pending_count,
            "on" if aqe_on else "off", write_width,
            "-" if py_width is None else py_width,
        )
        if r % self.cfg.checkpoint_interval == 0:
            self.flush()
        return metrics

    def flush(self) -> None:
        """Parquet-commit the in-memory state (S11): frontier UPDATES as a
        merge-on-read delta (full snapshot only at compaction cadence), one
        batched delta per append-only table, then the round manifest
        (written last — the atomic resume point). Persisted round frames are
        released only after every write succeeded."""
        r = self.round
        if self._flushed_round == r:
            return
        # same AQE rule as run_round: the flush writes are bounded by the
        # touched-row counter (links fans out), except a compaction flush,
        # which rewrites the whole frontier (unknown count: AQE on)
        will_compact = (
            self._frontier_updates is not None
            and self._flushes_since_compact + 1 >= COMPACT_EVERY
        )
        rows = self._updates_count * sizing.LINKS_FANOUT
        if will_compact:
            rows = max(rows, self.frontier_count) if self.frontier_count else None
        with sizing.aqe(self.spark, sizing.use_aqe(rows)):
            self._flush_impl(r)

    def _flush_impl(self, r: int) -> None:
        # captured before the frontier branch may zero it at compaction
        touched = self._updates_count
        # NOTE: _flushed_round is only set at the END — an interrupted flush
        # (e.g. a streaming wrapper's stop() landing mid-write) must be
        # retryable; each table clears its pending state right after its own
        # commit, so a retry re-commits only what is missing
        if (
            self._frontier_updates is not None
            and self._frontier_committed_round != r
        ):
            if self._flushes_since_compact + 1 >= COMPACT_EVERY:
                merged = self._frontier_view()
                self.catalog.commit(
                    "frontier", merged, r, mode="snapshot",
                    metrics=self._last_metrics, n_rows=self.frontier_count,
                )
                log.info("flush: compacted frontier snapshot at round %d", r)
                self._flushes_since_compact = 0
                self._frontier_base = None  # reload from the new snapshot
                self._frontier_updates = None
                self._updates_count = 0
            else:
                self.catalog.commit(
                    "frontier", self._frontier_updates, r, mode="delta",
                    metrics=self._last_metrics,
                )
                self._flushes_since_compact += 1
                # base + checkpointed updates stay valid in memory
            self._frontier_committed_round = r
        def _commit_table(table: str) -> None:
            deltas = self._deltas[table]
            if not deltas:
                return
            df = deltas[0]
            for d in deltas[1:]:
                df = df.unionByName(d)
            # width off the touched-row bound since the last flush (the
            # update-set counter upper-bounds every per-table delta
            # except links, which fans out per page — scale it)
            bound = touched * (sizing.LINKS_FANOUT if table == "links" else 1)
            self.catalog.commit(
                table, df.coalesce(sizing.write_width(bound)), r, mode="delta"
            )
            self._deltas[table] = []

        # the three append-only deltas are independent writes over already-
        # persisted round frames — submit them as CONCURRENT Spark jobs
        # (each is small; overlapping their scheduling/commit latency takes
        # the flush from 3 serial write jobs to one wave). Each table still
        # clears its own pending list only after its commit, so a failed
        # write stays retryable table-by-table.
        import concurrent.futures as _cf

        pending_tables = [t for t in ("seen", "pages", "links", "visits") if self._deltas[t]]
        if len(pending_tables) > 1:
            with _cf.ThreadPoolExecutor(len(pending_tables)) as pool:
                for fut in [pool.submit(_commit_table, t) for t in pending_tables]:
                    fut.result()
        else:
            for t in pending_tables:
                _commit_table(t)
        # reload derived state from the flushed parquet (bounds partition
        # counts), then release the round frames the lazy deltas referenced
        self._seen = None
        self._pages_cache = None
        self._archive_fp = None
        for df in self._round_persists:
            df.unpersist()
        self._round_persists = []
        self._commit_round(
            {"visited_count": self.visited_count,
             "pending_count": self.pending_count, **self._last_metrics}
        )
        self._flushed_round = r

    # ------------------------------------------------------------------ #
    def refresh_pagerank(self, n_iterations: int = 10) -> int:
        """Compute link-authority ranks over the links table and arm the
        frontier's opt-in PageRank ordering: subsequent rounds slice by
        priority + rank (select_slice's default rank_weight). This is
        beyond the reference, whose priority is sitemap-declared only.
        Calling it IS the opt-in: until the first call, and again after a
        bootstrap(), the golden oracle-lockstep ordering is unchanged.
        Rank refresh is an explicit operator action (like
        schedule_recrawl), not a per-round cost — power iteration is
        n_iterations jobs over the full link graph, so at 10^10-edge scale
        it runs at recrawl cadence. Returns the number of ranked urls."""
        from mr_crawly_spark.operators.frontier import pagerank

        links = self.table("links")  # flushes pending round state first
        if links is None:
            return 0
        ranks = pagerank(
            links, n_iterations=n_iterations,
            src_col="source_url", dst_col="linked_url",
        )
        self._ranks = ranks.localCheckpoint()
        return self._ranks.count()

    def refresh_trap_stats(self) -> int:
        """Mine per-(host, param) value-cardinality trap stats over every
        URL the crawl has enqueued (the frontier view) and arm the opt-in
        crawl-trap gate (beyond the reference; operators/traps.py, with
        trap_param_stats' default thresholds): each later round's
        candidate outlinks are rewritten WITHOUT their host's flagged
        parameters before the seen anti-join, so an infinite URL axis
        (session ids, tracking params) collapses to its canonical form
        instead of consuming frontier rows and the max_pages budget.
        Calling it IS the opt-in: until the first call, and again after a
        bootstrap(), golden oracle-lockstep link/url behavior is
        unchanged. An explicit operator action like refresh_pagerank —
        stats are ONE map-side-combined agg bounded by the host x param
        vocabulary, run at recrawl cadence, not per round. Returns the
        number of flagged (host, param) pairs; 0 leaves the gate armed but
        inert (clean frontiers pass through byte-identical)."""
        from mr_crawly_spark.operators.traps import trap_param_stats

        frontier = self.table("frontier")  # flushes pending round state
        if frontier is None:
            return 0
        stats = trap_param_stats(frontier.select("host", "url")).filter(
            F.col("is_trap")
        )
        self._trap_stats = stats.localCheckpoint()
        return self._trap_stats.count()

    def measured_change_rates(self, t_now: float | None = None) -> DataFrame | None:
        """Per-url MEASURED change rate + staleness-at-t_now recrawl
        priority (operators/freshness.py, Cho & Garcia-Molina TODS'03),
        derived from the engine's own archive: every successful fetch
        appends a pages row stamped with its round, so the pages table IS
        the visit history — visit_ts = round * ROUND_SECONDS, fingerprint
        = md5 of the canonicalized span payload (array_sorted so storage
        order can never alias a content change). None until something has
        been fetched; urls with a single visit carry NULL rate/priority
        (no evidence — the caller's cold-start policy decides, see
        schedule_recrawl). One url-keyed shuffle over the pages table,
        at recrawl cadence only — never in the round loop (same contract
        as refresh_pagerank)."""
        from mr_crawly_spark.operators import freshness as FR

        t = t_now if t_now is not None else self.round * ROUND_SECONDS
        ts_col = (F.col("round").cast("double") * float(ROUND_SECONDS)).alias(
            "visit_ts"
        )
        visits = None
        if self.cfg.archive_dedup:
            # content-addressed archive mode: the visits log is the
            # authoritative history — it keeps the no-change observations
            # the deduped pages table no longer carries
            vt = self.catalog.load("visits", max_round=self.round)
            if vt is not None:
                visits = vt.select("url", ts_col, "fingerprint")
        if visits is None:
            # pages-table fallback CAVEAT: archived rows don't record
            # whether the fetch was served from the page cache, and a
            # cache-served "visit" re-stores content that trivially equals
            # the archive — a history that includes page-cache recrawl
            # cycles (use_page_cache on, use_freshness off at the time)
            # therefore biases rates toward 0. Histories meant for
            # measurement should be collected with use_freshness on (the
            # cache read is disarmed) or with archive_dedup's visits log,
            # which excludes cache-served rows at write time.
            pages = self.catalog.load("pages", max_round=self.round)
            if pages is None:
                return None
            if self.cfg.use_page_cache and not self.cfg.use_freshness:
                # runtime signal for the caveat above (ADVICE r5 #3): with
                # the cache armed, recrawl cycles in this history may have
                # been cache-served, silently biasing rates toward 0
                log.warning(
                    "measured_change_rates: pages-table fallback with "
                    "use_page_cache on — cache-served recrawls bias "
                    "change rates toward 0; collect history with "
                    "use_freshness or archive_dedup's visits log"
                )
            visits = pages.filter(
                (F.col("fetch_status") == 200) & F.col("spans").isNotNull()
            ).select("url", ts_col, _span_fp().alias("fingerprint"))
        return FR.recrawl_priorities(
            FR.change_rates(FR.change_stats(visits)), now_ts=t
        )

    def schedule_recrawl(self, t_now: float | None = None) -> int:
        """Re-enqueue stale fetched pages per their sitemap ``change_freq``
        (O2): fetched rows with recrawl metadata flip back to pending with
        next_attempt_at = t_now + interval, then run()/run_round() continues
        the crawl — re-fetches are served from the page cache (S4/J2) when
        the content is already archived. Returns the new pending count and
        commits the rescheduled frontier as a resume point.

        The sitemaps are also RE-MAPPED (S8 tail, reference data.py:178-216
        insert-else-update): a fresh expansion of sitemaps_raw commits as a
        new delta whose loc/priority/frequency/modified/status replace the
        existing record per (source_url, index_url) in the last-writer-wins
        view — a changed live sitemap (new priority/lastmod) surfaces in
        engine.table("sitemaps") after the recrawl cycle.

        With ``cfg.use_freshness`` on, re-enqueued rows with >=2 archived
        fetches swap their sitemap priority for the measured staleness
        probability at t_now (measured_change_rates), and their revisit
        cadence for the measured one (next_attempt_at = t_now +
        clamp(1/rate, ROUND_SECONDS, CHANGE_FREQ_SECONDS["yearly"]) — one
        logical round up to the sitemaps.org 'yearly' cap). Eligibility to be
        re-pended still follows change_freq — the sitemap metadata decides
        who is IN the queue; measurement decides order and cadence."""
        if any(self._deltas.values()) or self._frontier_updates is not None:
            self.flush()
        t = t_now if t_now is not None else self.round * ROUND_SECONDS
        remapped, _ = expand_sitemaps(self.seeds, self.sitemaps_raw)
        self.catalog.commit(
            "sitemaps",
            remapped.withColumn("status", F.lit("remapped")),
            self.round,
            mode="delta",
        )
        frontier = self.catalog.load_merge(
            "frontier", ("url_hash", "url"), max_round=self.round
        )
        due = recrawl_schedule(
            frontier, t, keep_marker=self.cfg.use_freshness
        )
        if self.cfg.use_freshness:
            measured = self.measured_change_rates(t_now=t)
            if measured is None:
                due = due.drop("_flipped")
            else:
                cols = [c for c in due.columns if c != "_flipped"]
                has_evidence = (
                    F.col("status") == "pending"
                ) & F.col("recrawl_priority").isNotNull()
                # Cho & Garcia-Molina cadence: revisit interval ~ 1/rate
                # (expected time between changes), clamped to [one
                # logical round, 'yearly']. rate == 0 (never changed yet)
                # gets the max-interval ceiling explicitly, not a
                # never-recrawl NULL — change evidence can go stale too.
                max_i = F.lit(CHANGE_FREQ_SECONDS["yearly"])
                m_interval = F.when(
                    F.col("change_rate") > 0.0,
                    F.least(
                        F.greatest(
                            F.lit(1.0) / F.col("change_rate"),
                            F.lit(ROUND_SECONDS),
                        ),
                        max_i,
                    ),
                ).otherwise(max_i)
                due = (
                    due.join(
                        measured.select(
                            "url", "change_rate", "recrawl_priority"
                        ),
                        "url",
                        "left",
                    )
                    .withColumn(
                        "priority",
                        F.when(
                            has_evidence, F.col("recrawl_priority")
                        ).otherwise(F.col("priority")),
                    )
                    .withColumn(
                        # cadence ONLY for rows THIS call flipped (the
                        # _flipped marker): a row still pending from an
                        # earlier reschedule keeps its next_attempt_at —
                        # rewriting it to t + interval on every reschedule
                        # would push a not-yet-due page forever into the
                        # future (starvation); a row mid-retry likewise
                        # keeps its transient-failure backoff
                        "next_attempt_at",
                        F.when(
                            F.col("_flipped")
                            & F.col("recrawl_priority").isNotNull(),
                            F.lit(t) + m_interval,
                        ).otherwise(F.col("next_attempt_at")),
                    )
                    .select(*cols)
                )
        self.catalog.commit(
            "frontier", due, self.round, mode="snapshot",
            n_rows=self.frontier_count,
        )
        self._frontier_base = None
        self._frontier_updates = None
        self._updates_count = 0
        self._flushes_since_compact = 0
        # recrawl cycle in progress (persisted + resume-restored): arms
        # the page-cache read path and the archive-dedup write filter
        self._recrawl_mode = True
        if self.cfg.use_freshness and self.cfg.use_page_cache:
            log.info(
                "schedule_recrawl: page-cache read stays disarmed "
                "(use_freshness measures the live web, not the archive)"
            )
        self._pages_cache = None
        self._archive_fp = None    # rebuild lazily as-of this recrawl cycle
        n = self._frontier_view().filter(F.col("status") == "pending").count()
        self.pending_count = n
        self._commit_round(
            {"visited_count": self.visited_count, "pending_count": n,
             **self._last_metrics}
        )
        log.info("schedule_recrawl: %d rows pending", n)
        return n

    def _search_index_path(self) -> str:
        import os

        return os.path.join(self.cfg.warehouse, "search_index")

    def update_search_index(self, n_doc_blocks: int = 16) -> int:
        """Make the crawl output SEARCHABLE, incrementally: index the text
        spans of pages fetched since the last call and append them as ONE
        merge-on-read delta (operators/search.py append_index_delta) —
        O(new pages) per call, never O(corpus). Call after run()/flush()
        (or on any cadence); engine.search() then answers tf-idf top-k
        over everything indexed so far. Returns the number of newly
        indexed pages.

        The high-water mark is the committed round (``_indexed.json``,
        written to a tmp file then os.replace'd, so a crash leaves the old
        marker or the new one, never a torn one): within a run the seen
        set guarantees each URL is fetched at most once, so round-sliced
        deltas stay doc-disjoint (the merge_index contract). A
        schedule_recrawl cycle re-fetches URLs — call
        rebuild_search_index() after recrawls instead (documented there).
        """
        import json
        import os

        from mr_crawly_spark.operators.search import (
            append_index_delta,
            build_inverted_index,
            compact_index,
        )

        path = self._search_index_path()
        marker = os.path.join(path, "_indexed.json")
        state = {"through_round": -1, "n_docs": 0, "deltas": 0}
        if os.path.exists(marker):
            with open(marker) as f:
                state = json.load(f)
        pages = self.catalog.load("pages", max_round=self.round)
        if pages is None:
            return 0
        new = pages.filter(
            (F.col("fetch_status") == 200)
            & (F.col("round") > state["through_round"])
            & (F.col("round") <= self.round)
        )
        docs = new.select(
            F.col("url").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(
                        F.col("spans"), lambda s: s["kind"] == F.lit("text")
                    ),
                    lambda s: s["text"],
                ),
            ).alias("text"),
        )
        n_new = docs.count()
        if n_new == 0:
            return 0
        delta = build_inverted_index(docs, n_doc_blocks=n_doc_blocks)
        append_index_delta(delta, path, batch_id=self.round)
        state = {
            "through_round": self.round,
            "n_docs": state["n_docs"] + n_new,
            "deltas": state["deltas"] + 1,
        }
        if state["deltas"] >= COMPACT_EVERY:
            compact_index(self.spark, path, n_term_buckets=16)
            state["deltas"] = 0
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, marker)
        log.info("update_search_index: +%d pages (round %d)", n_new, self.round)
        return n_new

    def rebuild_search_index(self, n_doc_blocks: int = 16) -> int:
        """Full re-index of every fetched page — the recrawl-safe path
        (re-fetched URLs would double-count through the incremental
        deltas; a rebuild replaces the whole layout). O(corpus), so run it
        on the recrawl cadence, not per round."""
        import shutil as _shutil

        path = self._search_index_path()
        _shutil.rmtree(path, ignore_errors=True)
        return self.update_search_index(n_doc_blocks=n_doc_blocks)

    def search(self, terms: list[str], k: int = 10) -> DataFrame:
        """tf-idf top-k (url, n_terms, score) over the indexed crawl
        (operators/search.py search_topk on the merge-on-read view).
        update_search_index() must have run at least once."""
        import json
        import os

        from mr_crawly_spark.operators.search import (
            load_index_view,
            search_topk,
        )

        path = self._search_index_path()
        marker = os.path.join(path, "_indexed.json")
        if not os.path.exists(marker):
            raise ValueError(
                "no search index in this warehouse — run "
                "update_search_index() after a crawl first"
            )
        with open(marker) as f:
            n_docs = json.load(f)["n_docs"]
        view = load_index_view(self.spark, path)
        return search_topk(view, terms, n_docs=n_docs, k=k).withColumnRenamed(
            "doc_id", "url"
        )

    def has_pending(self) -> bool:
        if self.pending_count is not None:
            return self.pending_count > 0
        n = self._frontier_view().filter(F.col("status") == "pending").count()
        self.pending_count = n
        return n > 0

    def run(self, fresh: bool = True) -> list[dict]:
        """Drive until the frontier drains or budgets run out (main.py:17-21)."""
        if fresh or not self.resume():
            self.bootstrap()
        history: list[dict] = []
        while (
            self.round < self.cfg.max_rounds
            and self.visited_count < self.cfg.max_pages
            and self.has_pending()
        ):
            history.append(self.run_round())
        if self.round % self.cfg.checkpoint_interval != 0:
            self.flush()  # final state always lands on disk
        self._write_run_row(end=True)  # complete_run (data.py:52-60)
        return history

    # ------------------------------------------------------------------ #
    # result accessors (golden-comparison views)
    def crawl_order(self) -> DataFrame:
        """Deterministic global crawl order O5: (round, host, priority DESC,
        discovered_round, url) over successful fetches."""
        if any(self._deltas.values()) or self._frontier_updates is not None:
            self.flush()
        pages = self.catalog.load("pages", max_round=self.round)
        w = Window.orderBy(
            F.col("round").asc(), F.col("host").asc(), F.col("priority").desc(),
            F.col("discovered_round").asc(), F.col("url").asc(),
        )
        return (
            pages.filter(F.col("fetch_status") == 200)
            .withColumn("rank", F.row_number().over(w))
            .select("rank", "url")
        )

    # merge-on-read tables and their last-writer-wins keys (the reference's
    # UNIQUE constraints: frontier per url, sitemap_data per
    # (source_url, index_url) — data.py:158-216 insert-else-update)
    MERGE_KEYS = {
        "frontier": ("url_hash", "url"),
        "sitemaps": ("source_url", "index_url"),
    }

    def table(self, name: str) -> DataFrame:
        if any(self._deltas.values()) or self._frontier_updates is not None:
            self.flush()
        if name in self.MERGE_KEYS:
            return self.catalog.load_merge(
                name, self.MERGE_KEYS[name], max_round=self.round
            )
        return self.catalog.load(name, max_round=self.round)
