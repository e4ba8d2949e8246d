"""Frontier slice selection + merge (SURVEY.md O3/O5/F6/F7/D6).

Replaces the three RQ queues (cache.py:189-201) and their FIFO timing with a
defined deterministic order (§7.2): a round's slice is each host's top-k by
(priority DESC, discovered_round ASC, url ASC), k = politeness budget; the
in-round processing order is (host ASC, priority DESC, discovered_round ASC,
url ASC).

Scale notes:
- the ranking window partitions by HOST — at 10^10 URLs a single hot host's
  partition is the skew risk, so the slice is re-salted right after ranking
  (repartition on (host, pmod(url_hash, salt))) before fetch/parse work
  (north_rule axis B);
- the global-order budget window (single partition!) only runs when this
  round could actually hit max_pages — the short-circuit keeps the common
  path free of any global ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from mr_crawly_spark import sizing
from mr_crawly_spark.datagen import DEFAULT_PRIORITY
from mr_crawly_spark.functions.colcache import session_cached
from mr_crawly_spark.functions.urls import url_hash_col, url_host_col
from mr_crawly_spark.operators.politeness import DEFAULT_K_HOST


def select_slice(
    frontier: DataFrame,
    budgets: DataFrame,
    t_round: float,
    salt_partitions: int | None = None,
    salt: int = 16,
    k_cap: int | None = None,
    budget_rows: int | None = None,
    default_k: int = DEFAULT_K_HOST,
    ranks: DataFrame | None = None,
    rank_weight: float = 1.0,
) -> DataFrame:
    """Eligible pending entries, per-host top-k (O3), salted for skew.

    ``k_cap``: a LITERAL upper bound on every host's k_host (the engine
    passes MAX_PER_HOST_PER_ROUND, which host_budgets clamps to). The rank
    filter then carries a ``rn <= literal`` conjunct, which Catalyst's
    InferWindowGroupLimit turns into a map-side partial top-k BEFORE the
    window exchange — at a 10^10-row pending set the shuffle input drops
    from every eligible row to <= k_cap rows per host per map partition.
    The exact per-host budget (a column) still applies after the window.

    ``budget_rows``: caller's upper bound on the budgets table (one row per
    host with robots rules). The broadcast is forced only under
    sizing.BROADCAST_ROW_LIMIT — at ~10^7+ ruled hosts the budgets frame
    is left to AQE instead of an unconditional driver broadcast.
    """
    def build_static() -> dict:
        """Round-invariant plan fragments (colcache): the slice runs every
        crawl round; only the t_round literal varies."""
        def rank_filter(rn_col):
            cond = rn_col <= F.col("k_host")
            if k_cap is not None:
                # literal conjunct FIRST: this is the shape the
                # WindowGroupLimit optimizer rule matches (rank <= foldable)
                cond = (rn_col <= F.lit(int(k_cap))) & cond
            return cond

        order = [
            F.col("priority").desc(),
            F.col("discovered_round").asc(),
            F.col("url").asc(),
        ]
        w = Window.partitionBy("host").orderBy(*order)
        w1 = Window.partitionBy(
            "host", F.pmod(F.col("url_hash"), F.lit(salt))
        ).orderBy(*order)
        return {
            "pending": F.col("status") == "pending",
            "next_at": F.col("next_attempt_at"),
            "k_host": F.coalesce(F.col("k_host"), F.lit(int(default_k))),
            "rn": F.row_number().over(w),
            "rn1": F.row_number().over(w1),
            "keep": rank_filter(F.col("_rn")),
            "keep1": rank_filter(F.col("_rn1")),
            "salt_key": F.pmod(F.col("url_hash"), F.lit(salt)),
        }

    c = session_cached(
        frontier.sparkSession,
        f"frontier.slice:{k_cap}:{default_k}:{salt}",
        build_static,
    )
    eligible = frontier.filter(c["pending"] & (c["next_at"] <= F.lit(t_round)))
    b = sizing.broadcast_if_small(budgets, budget_rows)
    eligible = eligible.join(b, "host", "left").withColumn("k_host", c["k_host"])
    pri = F.col("priority")
    if ranks is not None:
        # opt-in link-authority ordering (engine.refresh_pagerank): blend
        # PageRank into the ORDERING priority only — the stored priority
        # column rides through untouched, so the blend never accumulates
        # across rounds or leaks into frontier state. The join keys the
        # ELIGIBLE set against (url, rank); both sides hash-partition on
        # url — at 10^10 frontier scale this is the unavoidable shuffle of
        # ranking by a computed per-url score, paid only when opted in.
        eligible = (
            eligible.join(ranks.select("url", "rank"), "url", "left")
            .withColumn(
                "_opri",
                F.col("priority")
                + F.lit(float(rank_weight)) * F.coalesce(F.col("rank"), F.lit(0.0)),
            )
            .drop("rank")
        )
        pri = F.col("_opri")
    if ranks is not None:
        # rank-blended ordering: build fresh (uncached) window fragments —
        # the opt-in path is rare and its order column differs
        order = [pri.desc(), F.col("discovered_round").asc(), F.col("url").asc()]
        rn1 = F.row_number().over(
            Window.partitionBy("host", c["salt_key"]).orderBy(*order)
        )
        rn = F.row_number().over(Window.partitionBy("host").orderBy(*order))

        def keep(col):
            cond = col <= F.col("k_host")
            if k_cap is not None:
                cond = (col <= F.lit(int(k_cap))) & cond
            return cond

        keep1, keepn = keep(F.col("_rn1")), keep(F.col("_rn"))
    else:
        rn1, rn, keep1, keepn = c["rn1"], c["rn"], c["keep1"], c["keep"]
    if salt_partitions:
        # two-phase top-k: the hot host's window would otherwise be a single
        # serial task holding its whole frontier share. Phase 1 takes top-k
        # within (host, salt) — parallel across salts; the global per-host
        # top-k is a subset of the union of per-salt top-k's, so phase 2
        # re-ranks only salt * k_host rows per host. Exact same slice.
        eligible = (
            eligible.withColumn("_rn1", rn1).filter(keep1).drop("_rn1")
        )
    sliced = (
        eligible.withColumn("_rn", rn)
        .filter(keepn)
        .drop("_rn", "k_host", "_opri")
    )
    if salt_partitions:
        # spread the hot host before the fetch join / parse explode
        sliced = sliced.repartition(
            salt_partitions, F.col("host"), c["salt_key"]
        )
    return sliced


def new_frontier_entries(
    fresh_urls: DataFrame, round_: int, run_id: str
) -> DataFrame:
    """Frontier rows for newly discovered canonical URLs (D6 merge input).
    fresh_urls: DataFrame with ``url`` (+ optional ``priority``,
    ``change_freq``, ``last_modified`` — the sitemap recrawl metadata,
    reference site_mapper.py:94-98), already unseen."""

    cols = frozenset(fresh_urls.columns) & {
        "priority", "change_freq", "last_modified"
    }

    def build_static() -> list:
        def opt(name: str):
            return F.col(name) if name in cols else F.lit(None).cast("string")

        pri = F.col("priority") if "priority" in cols else F.lit(DEFAULT_PRIORITY)
        return [
            F.col("url"),
            url_hash_col(F.col("url")).alias("url_hash"),
            url_host_col(F.col("url")).alias("host"),
            F.lit("pending").alias("status"),
            pri.cast("double").alias("priority"),
            opt("change_freq").alias("change_freq"),
            opt("last_modified").alias("last_modified"),
            F.lit(0).alias("retry_count"),
            F.lit(0.0).alias("next_attempt_at"),
        ]

    static = session_cached(
        fresh_urls.sparkSession,
        f"frontier.new_entries:{sorted(cols)}",
        build_static,
    )
    # only the round/run_id literals vary per call; appending them last
    # preserves the original schema column order
    return fresh_urls.select(
        *static,
        F.lit(round_).alias("discovered_round"),
        F.lit(run_id).alias("run_id"),
    )


# sitemaps.org changefreq values -> logical seconds (recrawl scheduling).
# The reference stores changefreq/lastmod per sitemap record
# (site_mapper.py:94-98, data.py:178-196) but never schedules off them; we
# persist them on frontier rows (parity) AND expose this scheduler so a
# long-running deployment can re-enqueue fetched pages when they go stale.
CHANGE_FREQ_SECONDS = {
    "always": 0.0,
    "hourly": 3600.0,
    "daily": 86400.0,
    "weekly": 604800.0,
    "monthly": 2592000.0,
    "yearly": 31536000.0,
}


def recrawl_schedule(
    frontier: DataFrame, t_now: float, keep_marker: bool = False
) -> DataFrame:
    """Re-enqueue fetched rows whose change_freq interval has elapsed.

    A ``fetched`` row with change_freq becomes ``pending`` again with
    next_attempt_at = t_now + interval; rows without metadata never recrawl
    (matching the reference, which only stores the fields). Pure column
    rewrite — no shuffle, safe at any frontier size.

    ``keep_marker=True`` retains the flip decision as a ``_flipped``
    boolean column so callers can tell rows THIS call re-enqueued from
    rows that were already pending (the engine's freshness cadence must
    only touch the former — rewriting a not-yet-due row's
    next_attempt_at on every reschedule would postpone it forever).
    """
    freq_s = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in CHANGE_FREQ_SECONDS.items() for x in kv]
        ),
        F.col("change_freq"),
    )
    # the predicate references `status`, which one of the rewrites below
    # replaces — materialize it as a column FIRST so every rewrite sees the
    # ORIGINAL status (chained withColumns resolve against the running plan,
    # so an inline predicate after the status rewrite would always be false
    # and recrawled rows would keep their stale retry_count)
    due = (
        (F.col("status") == "fetched")
        & F.col("change_freq").isNotNull()
        & freq_s.isNotNull()
    )
    out = (
        frontier.withColumn("_due", due)
        .withColumn(
            "next_attempt_at",
            F.when(F.col("_due"), F.lit(t_now) + freq_s).otherwise(
                F.col("next_attempt_at")
            ),
        )
        .withColumn(
            "status",
            F.when(F.col("_due"), F.lit("pending")).otherwise(F.col("status")),
        )
        .withColumn(
            "retry_count",
            F.when(F.col("_due"), F.lit(0)).otherwise(F.col("retry_count")),
        )
        .withColumnRenamed("_due", "_flipped")
    )
    return out if keep_marker else out.drop("_flipped")


def pagerank(
    edges: DataFrame,
    n_iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Link-graph PageRank for crawl prioritization (beyond the reference:
    its priority is sitemap-declared only; a production frontier ranks by
    link authority too). Classic power iteration over the links table:

        rank_{t+1}(v) = (1-d)/N + d * Σ_{u->v} rank_t(u) / outdeg(u)

    Fixed iteration count (deterministic — same variant as the DuckDB
    oracle; dangling-node mass is NOT redistributed, documented choice both
    engines share). Each iteration is one join + one map-side-combined sum
    keyed on dst; ranks localCheckpoint per iteration so the plan never
    grows with iteration count. Returns (url, rank) for every node.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).dropDuplicates(["src", "dst"]).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("url"))
        .unionByName(e.select(F.col("dst").alias("url")))
        .dropDuplicates(["url"])
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        # empty link graph (e.g. refresh before any successful round —
        # bootstrap commits a schema-only links delta): no ranks, not a
        # ZeroDivisionError from the 1/N initialization (ADVICE r4)
        return edges.sparkSession.createDataFrame([], "url string, rank double")
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    contrib_edges = e.join(outdeg, "src").localCheckpoint(eager=False)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n

    def bc(state: DataFrame) -> DataFrame:
        # state frames carry <= n rows by construction
        return sizing.broadcast_if_small(state, n)

    for _ in range(n_iterations):
        rk = bc(ranks)
        contribs = (
            contrib_edges.join(rk, contrib_edges.src == rk.url)
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("_in"))
        )
        cb = bc(contribs)
        ranks = (
            nodes.join(cb, nodes.url == cb.dst, "left")
            .select(
                "url",
                (F.lit(base)
                 + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                 ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select("url", F.round(F.col("rank"), 4).alias("rank"))


def hits(
    edges: DataFrame,
    n_iterations: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Kleinberg's HITS (JACM 1999) hub/authority scores over the link
    graph — the complement to :func:`pagerank` for crawl prioritization:
    authorities are pages worth fetching, hubs are pages worth re-parsing
    for outlinks. Mutual power iteration:

        auth_{t+1}(v) = Σ_{u->v} hub_t(u)
        hub_{t+1}(u)  = Σ_{u->v} auth_{t+1}(v)

    with MAX-normalization after each half-step. Kleinberg's convergence
    is scale-free (any positive per-step scaling reaches the same
    principal-eigenvector direction), and unlike the usual L2 norm a max
    is order-independent — no float-summation drift across engines or
    partitionings — so the DuckDB oracle replays the trajectory exactly.
    Scores are additionally rounded to 6 dp at every half-step, clipping
    residual per-node sum drift before it can compound across iterations.

    Each half-step is one equi-join + one map-side-combined sum keyed on
    the receiving side, plus a 1-row max to the driver; frames
    localCheckpoint per iteration so the plan never grows. Returns
    (url, hub, auth) for every node, rounded to 4 dp.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("url"))
        .unionByName(e.select(F.col("dst").alias("url")))
        .dropDuplicates(["url"])
        .localCheckpoint(eager=False)
    )
    spark = edges.sparkSession
    n = nodes.count()
    if n == 0:
        return spark.createDataFrame([], "url string, hub double, auth double")

    def bc(state: DataFrame) -> DataFrame:
        # mass/score frames carry <= n rows by construction
        return sizing.broadcast_if_small(state, n)

    def _half_step(
        mass: DataFrame, mass_col: str, out_col: str, key_in: str, key_out: str
    ):
        """One HITS half-step: ``mass_col`` flows from each edge's
        ``key_in`` endpoint to its ``key_out`` endpoint; returns the
        rounded max-normalized (url, out_col) frame.

        Only RECEIVING nodes are carried through the loop: a node with
        zero mass contributes nothing to the next half-step's sums and
        can never be the (positive) max, so re-attaching the full node
        set every half-step — 2·n_iterations joins of the whole graph's
        node table — changes no score. Zeros are restored once, at the
        final left join (measured 10.9 s → ~7 s at sf0.1, same output).
        The mass side is broadcast under sizing.BROADCAST_ROW_LIMIT so the
        cached edge table is probed map-side instead of re-exchanged and
        re-sorted twice per iteration; the scalar max stays a partial-
        aggregated collect (scale-safe — a single-partition window over
        the scores would gather the whole state on one task)."""
        m = bc(mass)
        obs = Observation()
        raw = (
            e.join(m, e[key_in] == m.url)
            .select(F.col(key_out).alias("url"), F.col(mass_col).alias("_m"))
            .groupBy("url")
            .agg(F.sum("_m").alias("_v"))
            .observe(obs, F.max("_v").alias("mx"))
            .localCheckpoint()
        )
        # the max rides the checkpoint job as an Observation — same
        # partial-aggregated reduction as the old agg(max).collect(), one
        # driver job per half-step instead of two
        mx = obs.get["mx"]
        return raw.select(
            "url", F.round(F.col("_v") / F.lit(float(mx)), 6).alias(out_col)
        )

    hub = nodes.select("url", F.lit(1.0).alias("hub"))
    auth = None
    for _ in range(n_iterations):
        auth = _half_step(hub, "hub", "auth", "src", "dst")
        hub = _half_step(auth, "auth", "hub", "dst", "src")
    scores = nodes.join(bc(hub), "url", "left").join(bc(auth), "url", "left")
    return scores.select(
        "url",
        F.round(F.coalesce(F.col("hub"), F.lit(0.0)), 4).alias("hub"),
        F.round(F.coalesce(F.col("auth"), F.lit(0.0)), 4).alias("auth"),
    )
