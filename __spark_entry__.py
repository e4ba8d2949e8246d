"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data-pipeline operators (dedup, similarity,
text analysis, multimodal). Each SQL-expressible query has a DuckDB twin in
``oracle_sql()`` with identical column names and pinned types (bigint
counts, round(…,4) doubles, md5 hex strings) so the driver's value-hash
comparison is exact. Non-SQL-expressible entries (the crawl engine itself,
LSH ANN, multimodal mapInPandas) omit the oracle -> rows-only check; their
correctness lives in tests/ (sequential-oracle equivalence, recall bounds).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from mr_crawly_spark.functions import pii as PII
from mr_crawly_spark.functions import text as T
from mr_crawly_spark.operators import dedup as D
from mr_crawly_spark.operators import multimodal as MM
from mr_crawly_spark.operators import similarity as SIM
from mr_crawly_spark.sources.tables import load_table

BACKOFF = [10.0, 30.0, 60.0]
STOP_SQL = "['" + "','".join(T.STOPWORDS) + "']"


# --------------------------------------------------------------------------- #
# flagship: the training-data document pipeline (quality -> dedup -> stats)
def entry(spark: SparkSession) -> DataFrame:
    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.quality_score(F.col("text")).alias("quality"),
        T.lang_id(F.col("text")).alias("pred_lang"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    keepers = D.exact_dedup(docs).select("fp", "keeper_id")
    return (
        scored.join(keepers, "fp", "inner")
        .filter(F.col("doc_id") == F.col("keeper_id"))
        .filter(F.col("quality") >= 0.5)
        .select("doc_id", "n_tokens", "quality", "pred_lang")
    )


# --------------------------------------------------------------------------- #
# crawl-shaped queries on the TPC-H-ish tables (operator ids from SURVEY §2)

def q_seen_antijoin(spark, sf_dir):
    """D2/J3: seen-set membership as LEFT ANTI join. The seen side is the
    orders of every third customer, so the survivor set is non-empty at any
    sf (round 1's all-customers seen side matched vacuously on 0 rows)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 3 == 0)
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def q_host_window_topk(spark, sf_dir):
    """O3: host-keyed priority window -> per-key top-k."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "rn")
    )


def q_frontier_merge(spark, sf_dir):
    """D6: frontier merge = union + global dedup."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.select(F.col("o_orderkey").alias("key"))
        .unionByName(li.select(F.col("l_orderkey").alias("key")))
        .distinct()
    )


def q_fetch_left_join(spark, sf_dir):
    """J1: fetch = left outer equi-join against the corpus."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left").select(
        "o_orderkey", "o_custkey", "c_name", "o_totalprice"
    )


def q_links_dedup(spark, sf_dir):
    """S7/D5: UNIQUE(seed,source,linked) as dropDuplicates."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_partkey", "l_suppkey").dropDuplicates()


def q_status_transition(spark, sf_dir):
    """P10: the engine's FULL status state machine (engine.py
    _build_round_cols rc['status']/rc['retry_count']/rc['retry_back']/
    rc['backoff_delta'], mirroring reference cache.py:140-159 +
    manager.py:37 BACKOFF_STRATEGY) exercised PER ROW over a generated
    frontier covering every outcome x retry_count interleaving — the old
    3-row aggregate fixture could not catch a wrong `when` branch that
    only fires on retry-vs-error interleavings (r4 verdict #2)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 97 == 0
    )
    max_retries = 3
    outcome = (
        F.when(F.col("l_linenumber") % 4 == 0, F.lit("success"))
        .when(F.col("l_linenumber") % 4 == 1, F.lit("robots_denied"))
        .when(F.col("l_linenumber") % 4 == 2, F.lit("error404"))
        .otherwise(F.lit("retry"))
    )
    fr = li.select(
        F.col("l_orderkey").cast("bigint").alias("k1"),
        F.col("l_linenumber").cast("bigint").alias("k2"),
        outcome.alias("outcome"),
        (F.col("l_suppkey") % 4).cast("int").alias("retry_count"),
    )
    # the engine's exact when-chain order (branch order is load-bearing:
    # the retry-exhausted test must only be reached for outcome == retry)
    new_status = (
        F.when(F.col("outcome") == "success", F.lit("fetched"))
        .when(F.col("outcome") == "robots_denied", F.lit("robots_denied"))
        .when(F.col("outcome") == "error404", F.lit("error"))
        .when(F.col("retry_count") + 1 >= max_retries, F.lit("error"))
        .otherwise(F.lit("pending"))
    )
    new_retry_count = (
        F.when(F.col("outcome") == "retry", F.col("retry_count") + 1)
        .otherwise(F.col("retry_count"))
    )
    retry_back = (F.col("outcome") == "retry") & (
        F.col("retry_count") + 1 < max_retries
    )
    backoff = F.when(
        retry_back,
        F.element_at(
            F.array(*[F.lit(b) for b in BACKOFF]),
            F.least(F.col("retry_count") + 1, F.lit(len(BACKOFF))),
        ),
    ).otherwise(F.lit(None).cast("double"))
    return fr.select(
        "k1",
        "k2",
        "outcome",
        "retry_count",
        new_status.alias("new_status"),
        new_retry_count.cast("int").alias("new_retry_count"),
        backoff.alias("backoff"),
    )


def q_retry_backoff(spark, sf_dir):
    """F7: retry backoff schedule via element_at on a constant array."""
    li = load_table(spark, sf_dir, "lineitem")
    idx = ((F.col("l_linenumber") - 1) % 3) + 1
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.element_at(F.array(*[F.lit(b) for b in BACKOFF]), idx).alias("backoff"),
    )


def q_priority_order(spark, sf_dir):
    """O5: deterministic global crawl order as a ranked total order."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(
        F.col("o_orderpriority").asc(), F.col("o_totalprice").desc(),
        F.col("o_orderkey").asc(),
    )
    return (
        orders.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 100)
        .select("rank", "o_orderkey", "o_orderpriority", "o_totalprice")
    )


def q_pagerank(spark, sf_dir):
    """Link-authority crawl prioritization: PageRank power iteration over a
    bipartite part->supplier link graph derived from lineitem. Fixed 5
    iterations, damping 0.85, no dangling redistribution — the DuckDB
    oracle unrolls the same iterations as chained CTEs, so values match to
    the rounded digit."""
    from mr_crawly_spark.operators.frontier import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return pagerank(edges, n_iterations=5)


def q_hits(spark, sf_dir):
    """HITS hub/authority (operators/frontier.py hits, Kleinberg 1999)
    over the same part->supplier link graph as q_pagerank: 3 mutual power
    iterations, max-normalized per half-step (order-independent — no
    float-summation drift), 6dp clipping per half-step. The DuckDB oracle
    unrolls every half-step as chained CTEs."""
    from mr_crawly_spark.operators.frontier import hits

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return hits(edges, n_iterations=3)


def q_asof(spark, sf_dir):
    """Backward as-of join (operators/asof.py): every click event attaches
    the same user's most recent prior view (inclusive at equal ts) — the
    attribution query. The DuckDB oracle is its NATIVE ASOF LEFT JOIN, an
    entirely independent implementation, so carry-forward/ordering/tie
    bugs cannot self-confirm. Views are pre-aggregated to one row per
    (user, ts) — the uniqueness contract both engines need."""
    from mr_crawly_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("view_ts"))
        .agg(F.max("event_id").alias("view_event_id"))
    )
    return asof_join(
        clicks, views, on="user_id", left_ts="ts", right_ts="view_ts"
    )


def q_events_agg(spark, sf_dir):
    """G1-G3: metric aggregation with map-side combine."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_events_hourly(spark, sf_dir):
    """§2.9: tumbling event-time window (batch form of the streaming agg)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


def q_events_rollup(spark, sf_dir):
    """Hypertable-style rollup (task brief's continuous-aggregate shape):
    ONE pass over events produces the (day, event_type) leaf aggregate,
    the per-day subtotal, and the grand total via ROLLUP — Spark plans an
    Expand (3 grouping sets) feeding a single map-side-combined agg, so
    the time-hierarchy downsample costs one shuffle at any event volume
    instead of three separate scans. grouping_id() disambiguates a NULL
    key from a rolled-up level; value sums go through decimal(18,6) so
    both engines add exactly (double summation is partition-order
    dependent and would hash-mismatch)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.rollup(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select("day", "event_type", "gid", "n", "sum_value")
    )


def q_sessionize(spark, sf_dir):
    """§2.9 stateful shape: 30-min-gap sessionization via lag + running sum."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_flag = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    w2 = w.rowsBetween(Window.unboundedPreceding, 0)
    with_sid = with_flag.withColumn("session_id", F.sum("new_session").over(w2))
    return with_sid.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


# --------------------------------------------------------------------------- #
# training-data pipeline: text analysis / dedup / similarity

def q_dedup_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs)


def q_token_count(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.token_count(F.col("text")).alias("n_tokens"))


def q_token_count_bpe(spark, sf_dir):
    """BPE-ish regex token count (task brief) alongside the whitespace
    count — punctuation/digit runs split into their own pieces."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens_ws"),
        T.token_count_bpe(F.col("text")).alias("n_tokens_bpe"),
    )


def q_text_quality(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.stopword_ratio(F.col("text")).alias("stop_ratio"),
        T.mean_token_len(F.col("text")).alias("mean_tok_len"),
        T.quality_score(F.col("text")).alias("quality"),
    )


def q_lang_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.lang_id(F.col("text")).alias("pred_lang"))


def q_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


def q_corpus_filter(spark, sf_dir):
    """Composed curation pass (the 100-TB pre-training filter): quality /
    language / length gates -> exact-dedup keeper per fingerprint -> one row
    per surviving document. ONE shuffle total: the gates are map-side column
    predicates and duplicates share identical text, so min() of any per-doc
    stat inside the fingerprint groupBy IS that doc's stat."""
    docs = load_table(spark, sf_dir, "documents")
    gated = docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.quality_score(F.col("text")).alias("quality"),
        T.lang_id(F.col("text")).alias("pred_lang"),
        T.fingerprint(F.col("text")).alias("fp"),
    ).filter(
        (F.col("quality") >= 0.5)
        & (F.col("pred_lang") == "en")
        & F.col("n_tokens").between(5, 2000)
    )
    return gated.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.min("n_tokens").alias("n_tokens"),
        F.min("quality").alias("quality"),
    )


def q_curation_pipeline(spark, sf_dir):
    """The complete training-data preparation pass, composed end-to-end:
    quality/language/length gates -> exact-dedup keeper per fingerprint ->
    token-bounded chunking with overlap -> deterministic 50% chunk sample.
    Every stage is an already-oracled operator; this entry proves the
    COMPOSITION (the thing a 100-TB pipeline actually runs) stays exact."""
    from mr_crawly_spark.operators.curation import (
        chunk_documents,
        deterministic_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    gated = docs.select(
        "doc_id",
        "text",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.quality_score(F.col("text")).alias("quality"),
        T.lang_id(F.col("text")).alias("pred_lang"),
        T.fingerprint(F.col("text")).alias("fp"),
    ).filter(
        (F.col("quality") >= 0.5)
        & (F.col("pred_lang") == "en")
        & F.col("n_tokens").between(5, 2000)
    )
    keepers = (
        gated.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(gated.select("doc_id", "text"), "doc_id")
    )
    chunks = chunk_documents(keepers, max_tokens=40, overlap=8)
    chunks = chunks.withColumn(
        "chunk_key",
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("chunk_index")),
    )
    return deterministic_sample(chunks, 0.5, "chunk_key", salt="chunks").select(
        "doc_id", "chunk_index", "chunk_text", "n_tokens"
    )


def _pii_planted_docs(spark, sf_dir):
    """documents with deterministic PII planted on every 7th doc (email +
    phone + IPv4 derived from doc_id, identical expression in the oracle),
    so the counts/redaction check is non-vacuous on synthetic text."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    planted = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" Contact user"), s(did), F.lit("@example.com or 555-"),
                s(did % 900 + 100), F.lit("-"), s(did % 9000 + 1000),
                F.lit(" at 10."), s(did % 256), F.lit("."), s(did % 100),
                F.lit("."), s(did % 250), F.lit(" now."),
            ),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", planted.alias("text"))


def q_pii_redact(spark, sf_dir):
    """PII counting + redaction (functions/pii.py): scan-only JVM regex
    work — zero shuffles at any corpus size; the hash check covers the full
    redacted text, not just the counts."""
    from mr_crawly_spark.functions import pii as PII

    d = _pii_planted_docs(spark, sf_dir)
    return d.select(
        "doc_id",
        PII.email_count(F.col("text")).alias("n_emails"),
        PII.phone_count(F.col("text")).alias("n_phones"),
        PII.ipv4_count(F.col("text")).alias("n_ips"),
        PII.pii_count(F.col("text")).alias("n_pii"),
        PII.redact_pii(F.col("text")).alias("redacted"),
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/decontam.py): corpus docs are
    scored by 4-gram overlap against a benchmark slice (doc_id % 17 == 3);
    planted leaks (benchmark texts re-inserted as doc_id + 10^9) make the
    known-positive rows contam_frac == 1. Broadcast benchmark side — the
    corpus is never shuffled, only (doc_id, counts)."""
    from mr_crawly_spark.operators.decontam import ngram_contamination

    docs = load_table(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 17 == 3)
    leaked = benchmark.withColumn("doc_id", F.col("doc_id") + F.lit(10**9))
    corpus = docs.filter(F.col("doc_id") % 17 != 3).unionByName(leaked)
    return ngram_contamination(corpus, benchmark, n=4)


def q_dup_ngrams(spark, sf_dir):
    """Exact-substring duplication signal (operators/decontam.py): per-doc
    fraction of distinct 4-grams occurring in >= 2 docs; planted verbatim
    copies (every 10th doc at doc_id + 10^9) have dup_frac == 1."""
    from mr_crawly_spark.operators.decontam import duplicated_ngram_fraction

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10**9)
    )
    return duplicated_ngram_fraction(docs.unionByName(planted), n=4)


def q_url_quality(spark, sf_dir):
    """URL quality/spam gate (functions/urls.py URL feature columns): URLs
    are synthesized deterministically from doc_id (hosts h0..h49, depth and
    query-string mix, every 13th URL gets a spam token), scored scan-only,
    and gated against a genuinely-joined host blocklist (every 11th host) —
    the pre-fetch frontier filter a 10^10-URL crawl runs before spending a
    fetch on a URL."""
    from mr_crawly_spark.functions import urls as U

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (did % 50).cast("string"), F.lit(".test/"),
        F.expr("repeat('d/', CAST(doc_id % 9 AS INT))"),
        F.lit("p"), did.cast("string"),
        F.when(did % 13 == 0, F.lit("-casino")).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.lit("?a=1&b=2&c=3&d=4"))
        .when(did % 4 == 1, F.concat(F.lit("?x="), did.cast("string")))
        .otherwise(F.lit("")),
    )
    base = docs.select(
        "doc_id",
        url.alias("url"),
        F.concat(F.lit("h"), (did % 50).cast("string"), F.lit(".test")).alias(
            "host"
        ),
    )
    blocklist = (
        docs.select((did % 50).alias("k"))
        .distinct()
        .filter(F.col("k") % 11 == 0)
        .select(
            F.concat(F.lit("h"), F.col("k").cast("string"), F.lit(".test")).alias(
                "host"
            ),
            F.lit(True).alias("_blocked"),
        )
    )
    u = F.col("url")
    return (
        base.join(F.broadcast(blocklist), "host", "left")
        .select(
            "doc_id",
            "url",
            U.url_len_col(u).alias("url_len"),
            U.url_digit_ratio_col(u).alias("digit_ratio"),
            U.url_depth_col(u).alias("depth"),
            U.url_param_count_col(u).alias("n_params"),
            U.url_spam_flag_col(u).alias("spam"),
            U.url_quality_col(u).alias("quality"),
            F.coalesce(F.col("_blocked"), F.lit(False)).alias("blocked"),
        )
    )


def q_minhash(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_signatures(docs, n_hashes=8, shingle_n=3)


def q_neardup_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs on a deterministic 10% slice + planted
    exact duplicates (doc_id + 10^9), so the known-positive pairs make the
    check non-vacuous (round 1 matched on 0 rows). The full
    all-shared-shingle join is reserved for LSH candidates at scale."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    planted = docs.withColumn("doc_id", F.col("doc_id") + F.lit(10**9))
    return D.jaccard_pairs(docs.unionByName(planted), threshold=0.05, shingle_n=3)


def q_simhash16(spark, sf_dir):
    """16-bit SimHash (SQL-checkable slice of the 64-bit operator)."""
    docs = load_table(spark, sf_dir, "documents")
    words = D.spread_for_compute(docs).select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("w")
    ).withColumn(
        "h", F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("long")
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(16)
    ]
    summed = words.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for j in range(16):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(2**j).cast("long")
        fp = term if fp is None else fp + term
    return summed.select("doc_id", fp.alias("simhash"))


def _query_vec(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]


def q_robots_parse(spark, sf_dir):
    """S2 fetch+parse: raw robots.txt bodies -> structured rules. The
    bodies are synthesized deterministically from doc_ids (one host per
    sampled doc: agent groups, comments, a crawl-delay, one Disallow + one
    Allow), parsed by the JVM-side operator; the oracle derives the same
    rule rows directly from the doc_ids — an independent ground truth for
    the whole parse chain."""
    from mr_crawly_spark.operators.politeness import parse_robots_txt

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    d3 = (F.col("doc_id") % 3).cast("string")
    pages = docs.select(
        F.concat(F.lit("h"), F.col("doc_id").cast("string"), F.lit(".test")).alias("host"),
        F.concat(
            F.lit("# synthetic robots\nUser-agent: otherbot\nDisallow: /other\n"
                  "User-agent: *\nCrawl-delay: "),
            ((F.col("doc_id") % 5) + 1).cast("string"),
            F.lit("\nDisallow: /p"), d3,
            F.lit("  # comment\nAllow: /p"), d3, F.lit("/ok\n"),
        ).alias("robots_txt"),
    )
    return parse_robots_txt(pages).select(
        "host",
        F.col("rule_order").cast("bigint").alias("rule_order"),
        "allow",
        "path_prefix",
        F.round(F.col("crawl_delay"), 4).alias("crawl_delay"),
    )


def q_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_topk(emb, _query_vec(spark, sf_dir), k=20)


def q_embed_norm(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.col("embedding"),
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"),
                )
            ),
            4,
        ).alias("l2_norm"),
    )


# --------------------------------------------------------------------------- #
# non-SQL-expressible (rows-only check here; correctness proven in tests/)

# the crawl_seen corpus shape — shared by the Spark query and the oracle
# materializer so both sides crawl the identical deterministic web
_CRAWL_SEEN_CORPUS = dict(n_hosts=3, base_pages=5, hot_factor=2, n_seeds=3)


def q_crawl_seen(spark, sf_dir):
    """The crawl engine end-to-end on the deterministic synthetic web
    (sf_dir-independent): final URL-seen set. The DuckDB oracle reads the
    sequential python crawler's seen-set, materialized as parquet by
    oracle_sql() (the corpus is a seedless pure function, so both sides are
    reproducible from the repo alone); the full golden suite additionally
    asserts order/links/spans equality (tests/test_crawl_oracle.py)."""
    import tempfile

    from mr_crawly_spark.datagen import corpus_to_spark, generate_corpus
    from mr_crawly_spark.engine import CrawlConfig, CrawlEngine
    from mr_crawly_spark.sources.corpus import CorpusFetcher

    corpus = generate_corpus(**_CRAWL_SEEN_CORPUS)
    docs, robots, sitemaps, seeds = corpus_to_spark(spark, corpus)
    eng = CrawlEngine(
        spark, CorpusFetcher(spark, documents=docs), robots, sitemaps, seeds,
        CrawlConfig(warehouse=tempfile.mkdtemp(prefix="entry_crawl_")),
    )
    eng.run()
    return eng.table("seen").select(
        "url", F.col("first_seen_round").cast("bigint").alias("first_seen_round")
    )


def _materialize_crawl_seen_oracle() -> str:
    """Run the pure-python sequential oracle (oracle/crawler.py — no Spark)
    on the q_crawl_seen corpus and write its seen-set as parquet, returning
    the absolute path. Called from oracle_sql(), so by the time DuckDB
    executes the returned SQL the file exists and is fresh."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mr_crawly_spark.datagen import generate_corpus
    from oracle.crawler import OracleCrawler

    res = OracleCrawler(generate_corpus(**_CRAWL_SEEN_CORPUS)).run()
    rows = sorted((e.url, e.discovered_round) for e in res.frontier.values())
    table = pa.table({
        "url": pa.array([u for u, _ in rows], pa.string()),
        "first_seen_round": pa.array([r for _, r in rows], pa.int64()),
    })
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "oracle", "crawl_seen_expected.parquet",
    )
    try:
        pq.write_table(table, path)
    except OSError:
        # read-only checkout: the committed copy is identical (the corpus
        # and oracle are deterministic) — fall back to it, else a temp file,
        # so one unwritable path never fails EVERY oracle entry
        if os.path.exists(path):
            return path
        import tempfile

        path = os.path.join(
            tempfile.mkdtemp(prefix="crawl_seen_oracle_"),
            "crawl_seen_expected.parquet",
        )
        pq.write_table(table, path)
    return path


def q_ann_lsh(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.ann_lsh_topk(emb, _query_vec(spark, sf_dir), k=20)


def q_ann_lsh_indexed(spark, sf_dir):
    """The build-once LSH index path (verdict r2 #3): bucket the table once
    (the scale workflow persists it partitionBy _bucket), then the query
    prunes to its probed buckets. Result is identical to the one-shot
    ann_lsh, so the DuckDB oracle is the same full-chain SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    indexed, planes = SIM.lsh_index(emb, n_planes=6, dim=64)
    return SIM.ann_lsh_topk_indexed(indexed.repartition(8, "_bucket"), planes, q, k=20)


def q_ann_ivf(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.ann_ivf_topk(
        emb, _query_vec(spark, sf_dir), k=20, n_centroids=16, n_probe=4
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    """LSH near-dup candidates over a 10% slice + planted exact duplicates
    (synthetic texts are random, so the planted copies are the known-positive
    set the banding must recover; pytest asserts the guarantee)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    planted = docs.withColumn("doc_id", F.col("doc_id") + F.lit(10**9))
    return D.minhash_lsh_pairs(
        docs.unionByName(planted), n_hashes=8, bands=4, shingle_n=3
    )


def q_jaccard_lsh(spark, sf_dir):
    """The at-scale near-dup composition: exact Jaccard computed ONLY on the
    LSH candidate pairs (per-pair array_intersect — cost tracks candidates,
    never the shingle-sharing cross product)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    both = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(10**9))
    )
    pairs = D.minhash_lsh_pairs(both, n_hashes=8, bands=4, shingle_n=3)
    return D.jaccard_on_candidates(both, pairs, threshold=0.05, shingle_n=3)


def q_neardup_edit(spark, sf_dir):
    """Levenshtein-verified near-dup: LSH candidates checked by EXACT edit
    distance (pure-JVM F.levenshtein; DuckDB's levenshtein is the oracle
    twin). Planted copies carry a 3-char suffix edit, so every planted
    pair must surface with edit_dist 3 — byte-level verification that
    shingle Jaccard can't express. The DP cost is bounded to the LSH
    candidate list; never all-pairs."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    planted = docs.withColumn("doc_id", F.col("doc_id") + F.lit(10**9)).withColumn(
        "text", F.concat(F.col("text"), F.lit(" x!"))
    )
    both = docs.unionByName(planted)
    pairs = D.minhash_lsh_pairs(both, n_hashes=8, bands=4, shingle_n=3)
    return D.edit_distance_on_candidates(both, pairs)


def q_bm25(spark, sf_dir):
    """BM25 relevance against a fixed query-term set (corpus curation by
    topic): one corpus-stats agg (single driver row) + one scan-only
    projection, pure JVM. DuckDB recomputes N/avgdl/df independently and
    the identical arithmetic (same ln libm, same double op order) matches
    at round-4."""
    from mr_crawly_spark.operators.curation import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, ["spark", "vector", "scan", "dup"])


# a large anchor-term set for the exploded BM25 shape (> BM25_MAX_TERMS=32,
# where the per-term-column shape refuses): 29 corpus-vocabulary terms + 7
# absent ones (df=0 terms must contribute nothing on both engines)
BM25_LONG_TERMS = [
    "spark", "scan", "join", "merge", "sort", "filter", "window", "batch",
    "stream", "group", "query", "row", "data", "table", "hash", "key",
    "agg", "line", "column", "value", "customer", "part", "order", "small",
    "big", "fast", "slow", "dup", "vector",
    "qq0", "qq1", "qq2", "qq3", "qq4", "qq5", "qq6",
]


def q_bm25_long(spark, sf_dir):
    """BM25 with a LARGE term set via the explode/aggregate shape (r4
    verdict #4's restructure): plan size constant in the term count — 36
    terms here, where bm25_scores' per-term-column shape is refused. Three
    partial-aggregated shuffles at any corpus size; idf folds into a
    literal map from KB-sized collected term stats."""
    from mr_crawly_spark.operators.curation import bm25_scores_exploded

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores_exploded(docs, BM25_LONG_TERMS)


# planted high-repetition docs for the Gopher-style filters: 60 tokens of a
# 2-token loop -> dup_token_frac ~0.97, top_bigram_frac 1.0 (every natural
# doc sits far below both) — keeps the keep/drop split non-vacuous
REPETITION_PLANT = ("spam ham " * 30).strip()


def q_repetition(spark, sf_dir):
    """Gopher repetition filters (Rae et al. 2021 §A1.1) over documents
    plus 20 planted loop-texts: duplicate-token / duplicate-trigram /
    top-bigram-coverage fractions and the keep verdict. The fractions are
    int/int doubles (bit-exact vs DuckDB); the only shuffles are the
    map-side-combined per-(doc,bigram) count and the per-doc max."""
    from mr_crawly_spark.operators.curation import repetition_stats

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (
        docs.filter(F.col("doc_id") < 20)
        .select(
            (F.col("doc_id") + F.lit(10**9)).alias("doc_id"),
            F.lit(REPETITION_PLANT).alias("text"),
        )
    )
    # keep cast to int: the driver's value-hash has no boolean precedent
    # across the 49 existing entries, so don't make it the first
    return repetition_stats(docs.unionByName(planted)).withColumn(
        "keep", F.col("keep").cast("bigint")
    )


def q_unigram_logprob(spark, sf_dir):
    """Unigram-LM quality score (CCNet-style perplexity proxy): mean
    per-token log-probability under the corpus's own unigram distribution.
    The vocabulary stays distributed (only the scalar token total reaches
    the driver); the oracle recomputes the distribution independently in
    DuckDB."""
    from mr_crawly_spark.operators.curation import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs)


def q_temperature_mix(spark, sf_dir):
    """Temperature-flattened corpus mixing (Conneau & Lample 2019,
    q_s ~ p_s^alpha at alpha=0.5): deterministically downsample dominant
    languages and upweight rare ones to a ~50% target mixture. The draw is
    the same md5 threshold as sample_det; the oracle recomputes the
    stratum weights from scratch in SQL."""
    from mr_crawly_spark.operators.curation import temperature_mix_sample

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix_sample(
        docs, "lang", "doc_id", alpha=0.5, target_frac=0.5, salt="mix"
    ).select("doc_id", "lang")


def q_curation_pipeline_v2(spark, sf_dir):
    """Round-5 composed curation pass: Gopher repetition gate AND
    unigram-LM band (rounded avg_logprob >= -3.41 drops the gibberish
    tail, ~10% of this corpus) AND exact-dedup keeper (clones of every
    17th doc planted so the stage provably removes rows), then
    temperature-flattened language mixing over the GATED set. Every stage
    is individually oracled; this entry proves they compose — including
    that the mixture weights derive from post-gate strata counts on both
    engines. All gates compare values both engines produce bit-exactly
    (int/int fractions, 4-decimal-rounded scores, md5 draws)."""
    from mr_crawly_spark.operators.curation import (
        repetition_stats,
        temperature_mix_sample,
        unigram_logprob,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    clones = docs.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + F.lit(10**9)).alias("doc_id"), "text", "lang"
    )
    base = docs.unionByName(clones)
    rep_keep = repetition_stats(base).filter(F.col("keep")).select("doc_id")
    lp = (
        unigram_logprob(base)
        .filter(F.col("avg_logprob") >= -3.41)
        .select("doc_id", "avg_logprob")
    )
    keepers = D.exact_dedup(base).select(F.col("keeper_id").alias("doc_id"))
    gated = base.join(rep_keep, "doc_id").join(lp, "doc_id").join(
        keepers, "doc_id"
    )
    return temperature_mix_sample(
        gated, "lang", "doc_id", alpha=0.5, target_frac=0.6, salt="pipe"
    ).select("doc_id", "lang", "avg_logprob")


def q_sample_stratified(spark, sf_dir):
    """Per-stratum deterministic sampling (downsample boilerplate-heavy
    strata, keep rare high-quality ones): same md5-threshold draw as
    sample_det, compared against the row's stratum fraction — RNG-free,
    partition-invariant, DuckDB-reproducible."""
    from mr_crawly_spark.operators.curation import stratified_sample

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "stratum", (F.col("doc_id") % 3).cast("string")
    )
    return stratified_sample(
        docs, {"0": 0.2, "1": 0.05}, "stratum", "doc_id",
        default_fraction=0.01, salt="strat",
    ).select("doc_id", "stratum")


def q_dedup_clusters(spark, sf_dir):
    """Transitive dedup clusters: connected components over the LSH
    candidate-pair graph (A~B, B~C collapse to one cluster even when A~C
    was never emitted) — large-star/small-star contraction with per-round
    lineage cuts; the DuckDB oracle computes the same components via a
    recursive CTE."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    both = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(10**9))
    )
    pairs = D.minhash_lsh_pairs(both, n_hashes=8, bands=4, shingle_n=3)
    return D.connected_components(both.select("doc_id"), pairs)


def q_dedup_e2e(spark, sf_dir):
    """END-TO-END near-dup deduplication (operators/dedup.py
    neardup_dedup): MinHash -> LSH band join -> star-contraction closure ->
    keeper selection, one operator, one oracle. Planted verbatim copies
    (doc_id + 10^9) must land in their original's cluster with kept=false;
    every cluster keeps exactly its min id."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    both = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(10**9))
    )
    return D.neardup_dedup(both, n_hashes=8, bands=4, shingle_n=3)


def q_dsir(spark, sf_dir):
    """DSIR importance scoring (operators/selection.py, Xie et al. 2023):
    every document scored by the hashed-bigram log-likelihood ratio of a
    target slice (doc_id % 13 == 1) vs the full corpus. The target slice's
    own documents must score high (their features define the target
    distribution) — the oracle recomputes both distributions and the
    Laplace-smoothed ratio from scratch in SQL."""
    from mr_crawly_spark.operators.selection import dsir_scores

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 13 == 1)
    return dsir_scores(docs, target, n_buckets=1024, ngram=2)


def q_clf_quality(spark, sf_dir):
    """fastText-style hashed linear quality classifier
    (operators/selection.py): mean weight of the document's hashed token
    buckets + sign label. Weights are an INPUT table — here the
    deterministic stand-in (md5-derived, recomputed independently by the
    oracle); a real pipeline broadcast-joins trained weights through the
    identical plan."""
    from mr_crawly_spark.operators.selection import (
        deterministic_weights,
        hashed_classifier_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    weights = deterministic_weights(spark, 1024, salt="clf")
    return hashed_classifier_scores(docs, weights, n_buckets=1024)


def q_media_dedup(spark, sf_dir):
    """Binary-payload exact dedup (multimodal.binary_dedup): every 5th
    document's payload is re-published under a second media id — the
    duplicate pair must share a digest and exactly one keeper (min id).
    Digest is md5 of the BINARY column on both engines."""
    from mr_crawly_spark.operators.multimodal import binary_dedup

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.lit("img://"), F.col("doc_id").cast("string")).alias(
            "media_id"
        ),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    dupes = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.concat(F.lit("mirror://"), F.col("doc_id").cast("string")).alias(
            "media_id"
        ),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return binary_dedup(media.unionByName(dupes))


def q_winnow(spark, sf_dir):
    """Winnowing fingerprints (dedup.winnow_fingerprints, MOSS/SIGMOD'03):
    per-doc selected (pos, fp) pairs — zero-shuffle per-row array math;
    the oracle replays the window-minimum selection with the identical
    leftmost-tie rule."""
    from mr_crawly_spark.operators.dedup import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, kgram=4, window=4)


def q_dedup_spans(spark, sf_dir):
    """Exact-substring span REMOVAL (dedup.remove_duplicated_spans, Lee et
    al. ACL 2022 ExactSubstr re-expressed over word 8-grams): cross-doc
    duplicated runs survive only in the min-doc_id keeper; everyone else
    has the tokens cut out. Planted positives keep the check non-vacuous:
    every 7th doc gets the SAME 10-token passage appended (longer than the
    8-token span floor, so non-keepers must lose exactly those tokens) and
    every 10th doc is copied verbatim at doc_id + 10^9 (the copy is fully
    claimed — clean_text must come back empty)."""
    from mr_crawly_spark.operators.dedup import remove_duplicated_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    passage = " zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10"
    base = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(passage)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    planted = base.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10**9)
    )
    return remove_duplicated_spans(
        base.unionByName(planted), span_tokens=8
    )


def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (dedup.cdc_chunks, LBFS SOSP'01 cut
    points): per-payload chunk table with md5-window boundaries, zero
    shuffles to chunk. Planted positives: every 5th doc re-appears at
    doc_id + 10^9 with an inserted preamble — a FIXED-size blocker would
    share nothing, content-defined chunks re-align after the edit."""
    from mr_crawly_spark.operators.dedup import cdc_chunks

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(10**9)).alias("doc_id"),
        F.concat(F.lit("INSERTED PREAMBLE "), F.col("text")).alias("text"),
    )
    return cdc_chunks(docs.unionByName(shifted), window=8, avg_size=64)


def q_cdc_ratio(spark, sf_dir):
    """Chunk-store accounting over q_cdc_chunks (dedup.cdc_dedup_ratio):
    one (total_bytes, unique_bytes, dedup_ratio) row — the measured
    storage win of chunk-level dedup on the shifted-copy fixture."""
    from mr_crawly_spark.operators.dedup import cdc_dedup_ratio

    return cdc_dedup_ratio(q_cdc_chunks(spark, sf_dir))


def q_top_ngrams(spark, sf_dir):
    """Corpus-wide top-50 bigrams (curation.top_ngrams): one map-side
    combined agg + TakeOrdered top-k; ties broken on the ngram string so
    the cut is deterministic on both engines."""
    from mr_crawly_spark.operators.curation import top_ngrams

    docs = load_table(spark, sf_dir, "documents")
    return top_ngrams(docs, n=2, k=50)


def q_tfidf_keywords(spark, sf_dir):
    """Per-doc top-3 tf-idf keywords (curation.tfidf_keywords): window over
    the DOCUMENT (never the term — a per-term window would funnel 'the'
    into one task); idf from one distinct-doc agg."""
    from mr_crawly_spark.operators.curation import tfidf_keywords

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_keywords(docs, top_j=3)


def q_span_stats(spark, sf_dir):
    """Interleaved text+media span processing over the EXACT input_hint
    shape (BASELINE.json: array<struct<kind:string, text:string,
    media_ref:string, offset:int32>>, the engine's schemas.SPAN): documents
    are lifted into a 3-span interleaved layout (text half, media ref,
    text half), then explode -> per-(doc, kind) aggregation, all JVM. The
    oracle recomputes the per-kind expectations from the raw text — the
    Spark side must round-trip the typed span structs to match."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    n = F.size(toks)
    half = (n / 2).cast("int")
    t1 = F.concat_ws(" ", F.slice(toks, 1, half))
    t2 = F.concat_ws(" ", F.slice(toks, half + 1, n - half))
    null_s = F.lit(None).cast("string")
    spans = F.array(
        F.struct(
            F.lit("text").alias("kind"), t1.alias("text"),
            null_s.alias("media_ref"), F.lit(0).alias("offset"),
        ),
        F.struct(
            F.lit("media").alias("kind"), F.lit("").alias("text"),
            F.concat(F.lit("img://"), F.col("doc_id").cast("string"))
            .alias("media_ref"),
            F.lit(1).alias("offset"),
        ),
        F.struct(
            F.lit("text").alias("kind"), t2.alias("text"),
            null_s.alias("media_ref"), F.lit(2).alias("offset"),
        ),
    )
    exploded = docs.select(
        "doc_id", F.explode(spans).alias("span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("s_text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )
    return exploded.groupBy("doc_id", "kind").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.length(F.col("s_text"))).cast("bigint").alias("text_chars"),
        F.count("media_ref").alias("n_media_refs"),
        F.max("offset").cast("bigint").alias("max_offset"),
    )


def q_para_dedup(spark, sf_dir):
    """CCNet-style paragraph dedup (dedup.paragraph_dedup): every third doc
    gets the SAME boilerplate paragraph appended; after dedup it survives
    only in the smallest such doc — the boilerplate-stripping gate that
    document-level near-dup cannot express. Hash covers the full rebuilt
    text."""
    from mr_crawly_spark.operators.dedup import paragraph_dedup

    docs = load_table(spark, sf_dir, "documents")
    boiler = F.lit("subscribe to our newsletter today")
    text2 = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.col("text"), F.lit("\n\n"), boiler),
    ).otherwise(F.col("text"))
    return paragraph_dedup(
        docs.select("doc_id", text2.alias("text")), sep="\n\n"
    )


def q_corpus_diff(spark, sf_dir):
    """Incremental-snapshot delta (curation.corpus_diff): old = corpus
    minus every 11th doc, new = corpus minus every 13th with every 7th
    edited — statuses added/removed/changed/unchanged by content
    fingerprint, one full-outer join on ids (text never shuffles)."""
    from mr_crawly_spark.operators.curation import corpus_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 11 != 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" edited"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return corpus_diff(old, new)


def q_domain_cap(spark, sf_dir):
    """Per-domain token budget, EXACT greedy variant (curation.py
    domain_token_cap_exact): md5-ordered running-sum window per source;
    the first budget-crossing doc is included. The oracle replays the
    identical window in SQL."""
    from mr_crawly_spark.operators.curation import domain_token_cap_exact

    docs = load_table(spark, sf_dir, "documents")
    return domain_token_cap_exact(docs, budget_tokens=2000, domain_col="source")


def q_domain_cap_sampled(spark, sf_dir):
    """Per-domain token budget, scale-safe sampled variant: keep-prob =
    min(1, budget/domain_tokens) via the md5 threshold — no window, no
    per-domain serialization; totals are one map-side agg broadcast back."""
    from mr_crawly_spark.operators.curation import domain_token_cap_sampled

    docs = load_table(spark, sf_dir, "documents")
    return domain_token_cap_sampled(
        docs, budget_tokens=2000, domain_col="source"
    )


def q_semdedup(spark, sf_dir):
    """SemDedup (operators/similarity.py, Abbas et al. 2023): cluster the
    embedding space (md5-seeded deterministic centroids — the k-means
    seam), then within each cluster drop vectors with a lower-id neighbor
    at cosine >= 0.98. Planted identical twins (vec_id + 10^9) share their
    original's cluster and MUST come back kept=false."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 10 == 0
    )
    both = emb.unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(10**9))
    )
    return SIM.semdedup(both, n_clusters=8, threshold=0.98)


def q_kmeans(spark, sf_dir):
    """Lloyd's k-means (operators/similarity.py kmeans): two full
    assign->update iterations from the md5-seeded initial centroids, then
    the final assignment. The DuckDB oracle replays the ENTIRE trajectory
    (decimal(27,10) per-dim sums -> 6dp-rounded means, argmax-cosine with
    min-index ties), so a drifted centroid, a flipped assignment, or a
    wrong empty-cluster rule all hash-mismatch."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 5 == 0
    )
    assigned, _cents = SIM.kmeans(emb, k=8, n_iter=2)
    return assigned.select(
        "vec_id", F.col("_list_id").cast("bigint").alias("cluster_id")
    )


def q_hll(spark, sf_dir):
    """HyperLogLog distinct estimate (operators/sketches.py) over
    lineitem's composite (orderkey, linenumber) key — ~6*sf*10^4 distinct
    values, so at b=10 the RAW alpha-m^2 estimator path runs (not just
    linear counting; the tiny-vocab linear path is pytest-covered). The
    fixed-memory contract: registers are ONE map-side-combined agg
    bounded at 2^b rows at any input size. The DuckDB oracle replays
    hash/bucket/rank/estimate bit-for-bit (integer bin-length rank,
    shared 60-bit md5 hash)."""
    from mr_crawly_spark.operators.sketches import hll_distinct

    li = load_table(spark, sf_dir, "lineitem")
    keys = li.select(
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("k")
    )
    return hll_distinct(keys, "k", b=10)


def q_cms(spark, sf_dir):
    """Count-min sketch (operators/sketches.py): build d=4 x w=1024
    tables over lineitem part keys (more distinct keys than buckets, so
    collisions genuinely exercise the min-over-rows), then point-query
    every distinct key. The DuckDB oracle replays build AND probe
    bit-for-bit (independent per-row md5 hashes)."""
    from mr_crawly_spark.operators.sketches import cms_query, cms_tables

    li = load_table(spark, sf_dir, "lineitem")
    vals = li.select(F.col("l_partkey").cast("string").alias("k"))
    tables = cms_tables(vals, "k", d=4, w=1024)
    return cms_query(tables, vals.distinct(), "k", d=4, w=1024)


def q_hll_by(spark, sf_dir):
    """Per-group HLL (sketches.hll_distinct_by): approximate distinct
    composite keys PER l_returnflag — the "distinct URLs per host"
    shape where exact countDistinct-per-group would shuffle every raw
    value; here ONE map-side-combined agg bounded at groups * 2^b rows.
    The DuckDB oracle replays the grouped registers + estimator
    bit-for-bit (same integer bin-length rank as the global hll
    entry)."""
    from mr_crawly_spark.operators.sketches import hll_distinct_by

    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        F.col("l_returnflag").alias("grp"),
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("k"),
    )
    return hll_distinct_by(keyed, ["grp"], "k", b=10)


def q_text_norm(spark, sf_dir):
    """CCNet-style dedup canonicalization (functions/text.py
    normalized_text: lowercase -> accent-fold -> punctuation to space ->
    collapse whitespace) over documents with PLANTED unicode variants
    (every 5th doc gets accents/em-dash/uppercase appended — the corpus
    itself is ASCII, so the planted suffix is what makes the
    translate()/lower() parity non-vacuous). Returns the normalized
    text AND its md5 so the hash-match covers every byte. Scan-only JVM
    string ops — zero shuffles at any corpus size."""
    from mr_crawly_spark.functions.text import normalized_text

    docs = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit(" Café—Über, NAÏVE šť!")
        ).otherwise(F.lit("")),
    )
    norm = normalized_text(planted)
    return docs.select(
        "doc_id", norm.alias("norm_text"), F.md5(norm).alias("norm_fp")
    )


def q_sim_join(spark, sf_dir):
    """Exact set-similarity join (operators/setjoin.py similarity_join —
    All-Pairs prefix filtering, Bayardo WWW'07 + PPJoin size filter):
    every pair with 3-gram-shingle Jaccard >= 0.8, COMPLETE and exact,
    over documents + planted one-token-appended near-dup twins (every
    10th doc; the twin adds exactly one new shingle, J = |D|/(|D|+1)
    >= 0.8 keeps the check non-vacuous). Shingles, not unigrams: the
    synthetic corpus has a 31-word vocabulary, so unigram prefixes all
    carry corpus-scale df and the prefix join degenerates toward
    all-pairs (111 s at sf0.1); 3-gram shingles restore the lemma's
    selectivity. The DuckDB oracle is DELIBERATELY brute-force
    all-pairs — no prefix filter at all — so a completeness bug (a
    candidate the prefix join misses) cannot self-confirm."""
    from mr_crawly_spark.operators.setjoin import similarity_join

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" plantedtoken")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    return similarity_join(corpus, "doc_id", "text", threshold=0.8, shingle=3)


def q_kmv(spark, sf_dir):
    """KMV distinct sketch (operators/sketches.py kmv_sketch/estimate):
    k=256 smallest distinct hashes of lineitem's composite key — far
    more distincts than k, so the Bar-Yossef (k-1)/U_k estimator path
    runs (the exact under-k path is pytest-covered). Pure integers
    until the one final rounded division, so the DuckDB oracle replays
    hash -> distinct -> k-smallest -> estimate bit-for-bit."""
    from mr_crawly_spark.operators.sketches import kmv_estimate, kmv_sketch

    li = load_table(spark, sf_dir, "lineitem")
    keys = li.select(
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("k")
    )
    return kmv_estimate(kmv_sketch(keys, "k", k=256), k=256)


def q_kmv_sets(spark, sf_dir):
    """KMV set algebra (kmv_set_stats) — the operation HLL registers
    cannot do: Jaccard / intersection / union estimates between the
    part keys REFERENCED by lineitem and the part keys in part (known
    containment structure: referenced ⊆ catalog). k=128 < both
    cardinalities forces the theta-sketch estimation path. The oracle
    replays both sketches and the combined-k rule in SQL."""
    from mr_crawly_spark.operators.sketches import kmv_set_stats, kmv_sketch

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    a = kmv_sketch(
        li.select(F.col("l_partkey").cast("string").alias("k")), "k", k=128
    )
    b = kmv_sketch(
        part.select(F.col("p_partkey").cast("string").alias("k")), "k", k=128
    )
    return kmv_set_stats(a, b, k=128)


def q_dd_quantiles(spark, sf_dir):
    """DDSketch mergeable relative-error quantiles (dd_sketch +
    dd_quantiles, Masson et al. VLDB'19) over document token counts at
    alpha=0.02 — the fixed-memory twin of the exact length_quantiles
    entry. Both engines bucket with ceil(round(ln(x)/D, 9)) where D is
    the SAME python-computed double literal ln(gamma), so a last-ulp
    libm difference cannot flip a boundary; estimates round to 6 dp."""
    from mr_crawly_spark.operators.sketches import dd_quantiles, dd_sketch

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double").alias("x")
    )
    sk = dd_sketch(toks, "x", alpha=0.02)
    return dd_quantiles(sk, [0.25, 0.5, 0.9, 0.99], alpha=0.02)


def q_dd_by(spark, sf_dir):
    """Grouped DDSketch (dd_sketch_by / dd_quantiles_by): token-count
    quantiles PER SOURCE at alpha=0.02 — the fixed-memory, mergeable
    twin of the exact length_quantiles entry (same corpus slice, so the
    two entries cross-check each other's distributions). Same 9-dp
    ln-ratio rounding contract as dd_quantiles."""
    from mr_crawly_spark.operators.sketches import dd_quantiles_by, dd_sketch_by

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double").alias("x"),
    )
    sk = dd_sketch_by(toks, ["source"], "x", alpha=0.02)
    return dd_quantiles_by(sk, ["source"], [0.5, 0.9], alpha=0.02)


def q_range_join(spark, sf_dir):
    """Bucketized range join (operators/rangejoin.py): every click
    event joined to the error events of the SAME user whose 600-second
    aftermath window contains it — the point-in-interval shape Spark
    would otherwise plan as a BroadcastNestedLoopJoin (plan-asserted in
    tests/test_rangejoin.py). TIMESTAMP_NTZ becomes exact naive
    MICROSECONDS since a fixed anchor (timestampdiff — no session-tz /
    DST dependence, bit-identical to DuckDB's native micros
    comparison); bucket_width = 600 s of micros keeps the interval
    fan-out at <= 2. The DuckDB oracle is its native IEJoin over a
    plain BETWEEN — an independent plan for the same semantics."""
    from mr_crawly_spark.operators.rangejoin import range_join

    micros = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
    )
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        micros.alias("p"),
    )
    errs = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        micros.alias("lo"),
        (micros + F.lit(600_000_000)).alias("hi"),
    )
    out = range_join(
        clicks, errs, "p", "lo", "hi", bucket_width=600e6, on="user_id"
    )
    return out.select("click_id", "user_id", "err_id")


def q_length_quantiles(spark, sf_dir):
    """Exact type-7 token-count quantiles per source via the
    histogram+rank-straddle plan (operators/curation.py length_quantiles —
    never serializes a group's values). The DuckDB oracle is DELIBERATELY
    a different algorithm: its native quantile_cont over the raw values —
    so histogram/cumsum/rank bugs cannot self-confirm."""
    from mr_crawly_spark.operators.curation import length_quantiles

    docs = load_table(spark, sf_dir, "documents")
    return length_quantiles(docs, probs=(0.25, 0.5, 0.9, 0.99))


def q_weighted_sample(spark, sf_dir):
    """A-ES weighted sampling (curation.weighted_sample): top-100 docs by
    u^(1/n_tokens) — inclusion proportional to token count, the standard
    token-budget draw. RNG-free md5 u + 12dp rank rounding means the
    DuckDB oracle selects the IDENTICAL sample."""
    from mr_crawly_spark.operators.curation import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", T.token_count(F.col("text")).alias("n_tokens")
    )
    return weighted_sample(d, k=100, weight_col="n_tokens", salt="bench")


def q_bpe(spark, sf_dir):
    """BPE merge learning (operators/bpe.py, Sennrich et al. 2016): the
    first 4 merge rules learned corpus-wide — per round ONE
    map-side-combined pair agg + top-1, with leftmost-non-overlapping
    replace() as the merge step. The DuckDB oracle replays the identical
    trajectory (same \\x01/\\x02 token stream, same freq-then-binary-order
    tie rule), so a wrong pair count, tie break, or merge application at
    ANY round hash-mismatches everything after it."""
    from mr_crawly_spark.operators.bpe import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges(docs, n_merges=4)


def q_simhash_neardup(spark, sf_dir):
    """SimHash banded near-dup pairs over a 10% slice + planted duplicates
    (hamming 0 for the copies — must all be recovered). hamming cast bigint
    to pin the driver compare dtype (DuckDB bit_count is narrow)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    planted = docs.withColumn("doc_id", F.col("doc_id") + F.lit(10**9))
    pairs = D.simhash_neardup_pairs(docs.unionByName(planted), max_hamming=4)
    return pairs.withColumn("hamming", F.col("hamming").cast("bigint"))


def q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicates via hyperplane-bucket join + planted
    duplicate vectors (cosine 1.0 for the copies)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    planted = emb.withColumn("vec_id", F.col("vec_id") + F.lit(10**9))
    return SIM.embedding_neardup_pairs(
        emb.unionByName(planted), threshold=0.98, n_planes=8,
        dim=64,  # TESTDATA.md contract — skips the driver dim-probe job
    )


def q_chunk_documents(spark, sf_dir):
    """Token-bounded sliding chunks with overlap (context-window packing):
    one row per chunk, stride = max_tokens - overlap."""
    from mr_crawly_spark.operators.curation import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, max_tokens=40, overlap=8)


def q_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing (curation.pack_sequences, Brown et al.
    2020 §2.1): concat documents end-to-end per md5 shard and slice the
    stream into fixed 64-token training blocks — docs straddle block
    boundaries, so every block but each shard's last is exactly full
    (the zero-padding-waste complement of chunk_docs' per-doc windows).
    Sequential recurrence parallelized per shard: the running offset is
    one window per shard, straddlers explode per touched block, blocks
    reassemble with one bounded groupBy — two shuffles at any size. The
    DuckDB oracle replays shard/offset/slice and the per-block md5
    bit-for-bit."""
    from mr_crawly_spark.operators.curation import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, seq_len=64, n_shards=8)


def _postings_fp_col():
    """md5 over 'doc_id:tf' pairs in doc order — covers every posting byte
    without shipping arrays through the comparator."""
    return F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.col("postings"),
                lambda p: F.concat_ws(
                    ":",
                    p["doc_id"].cast("string"),
                    p["tf"].cast("string"),
                ),
            ),
        )
    )


def q_inv_index(spark, sf_dir):
    """Blocked inverted-index build (operators/search.py): one row per
    (term, md5-block-of-doc) with sorted postings — blocking caps a
    stopword's postings at 1/n_doc_blocks of its docs per row (the
    single-hot-key OOM at 10^10 pages); build is explode -> ONE
    map-side-combined (term, doc) tf agg -> ONE bounded postings agg.
    Output fingerprints each postings array (doc:tf pairs in doc order)
    so the oracle hash-match covers every posting byte without shipping
    arrays through the comparator."""
    from mr_crawly_spark.operators.search import build_inverted_index

    docs = load_table(spark, sf_dir, "documents")
    idx = build_inverted_index(docs, n_doc_blocks=8)
    return idx.select(
        "term", "block", "df_block", _postings_fp_col().alias("postings_fp")
    )


def q_inv_merge(spark, sf_dir):
    """Incremental index maintenance (search.merge_index): index two
    DISJOINT corpus slices separately, merge — the result must be
    bit-identical to rebuilding from the full corpus, so the oracle is
    the SAME independent full-corpus SQL as inv_index (a double-counted
    posting, lost block, or unsorted concat cannot self-confirm). At
    10^10 pages each crawl round indexes only its fetched slice; this is
    the ONE-shuffle fold that keeps the index current without rescans."""
    from mr_crawly_spark.operators.search import (
        build_inverted_index,
        merge_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = build_inverted_index(
        docs.filter(F.col("doc_id") % 5 != 0), n_doc_blocks=8
    )
    delta = build_inverted_index(
        docs.filter(F.col("doc_id") % 5 == 0), n_doc_blocks=8
    )
    merged = merge_index(base, delta)
    return merged.select(
        "term", "block", "df_block", _postings_fp_col().alias("postings_fp")
    )


def q_inv_phrase(spark, sf_dir):
    """Exact phrase search over the positional index
    (search.build_positional_index + phrase_search): overlapping
    occurrences counted, repeated-term phrases exact. The DuckDB oracle
    recomputes matches from the RAW text by scanning token windows —
    independent of the postings/positions machinery, so a lost position
    or off-by-one offset cannot self-confirm. 'scan filter' occurs in
    ~35 docs at both sf0.001 and sf0.01 (probed), keeping the check
    non-vacuous."""
    from mr_crawly_spark.operators.search import (
        build_positional_index,
        phrase_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    pidx = build_positional_index(docs, n_doc_blocks=8)
    hits = phrase_search(pidx, ["scan", "filter"])
    return hits.orderBy(F.col("n_matches").desc(), "doc_id").limit(100)


def q_inv_search(spark, sf_dir):
    """DAAT top-k retrieval over the postings index (search.search_topk):
    the query filters the index to its literal terms FIRST (pushdown /
    pruning — per-query cost tracks the matched postings, never the
    corpus), idf folds into driver literals from a KB df agg, and each
    tf*idf contribution is decimal(20,6)-quantized so the summed score is
    partition-order invariant; top-k is (score desc, doc_id) via
    TakeOrderedAndProject. The DuckDB oracle recomputes tf/df/idf/score
    from the raw documents independently — a lost posting or a wrong
    df cannot self-confirm."""
    from mr_crawly_spark.operators.search import (
        build_inverted_index,
        search_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = docs.filter(F.length(F.trim("text")) > 0).count()
    idx = build_inverted_index(docs, n_doc_blocks=8)
    hits = search_topk(idx, ["spark", "shuffle", "join"], n_docs=n, k=50)
    return hits.withColumn("score", F.round("score", 4))


def q_bigram_ppl(spark, sf_dir):
    """Bigram-LM perplexity filter (curation.bigram_perplexity — the
    CCNet §4.3 stage with the corpus as its own LM): add-1-smoothed
    P(b|a) from corpus bigram counts, context mass derived FROM the
    bigram table (no second pass), decimal-quantized ln contributions.
    The DuckDB oracle re-derives counts/context/V/score from raw text."""
    from mr_crawly_spark.operators.curation import bigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return bigram_perplexity(docs)


def q_pct_ranks(spark, sf_dir):
    """Exact percent_rank of per-doc token counts
    (curation.percentile_ranks): histogram-first so the cumulative window
    runs over DISTINCT VALUES (O(distinct)) instead of the naive
    percent_rank() window's single-partition row sort — the oracle IS
    that naive window in DuckDB, so the two formulations check each
    other."""
    from mr_crawly_spark.functions.text import token_count
    from mr_crawly_spark.operators.curation import percentile_ranks

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", token_count(F.col("text")).alias("n_toks"))
    return percentile_ranks(d, "n_toks")


def q_pmi(spark, sf_dir):
    """Top-50 PMI collocations (curation.pmi_collocations, Church & Hanks
    1990 estimator with a min_count=3 rare-pair floor): two map-side
    aggs + two word-keyed joins; totals fold to literals. Ordering is on
    the ROUNDED pmi with a bigram tiebreak, so the top-k cut is total and
    engine-independent. Oracle recomputes unigram/bigram counts and the
    PMI formula from raw text in DuckDB."""
    from mr_crawly_spark.operators.curation import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, k=50, min_count=3)


def q_triangles(spark, sf_dir):
    """Per-node triangle counts + clustering coefficient
    (operators/graph.py triangle_stats — link-farm/spam signal): exact
    counts via (degree, id) edge orientation, so hub fan-out is O(sqrt(E))
    and each triangle is generated once. Edge table is md5-derived from
    documents (~300 nodes) + a planted 5-clique on ids 1000-1004 whose
    corners must come back with n_tri >= 6 and clustering computable —
    the planted positive keeps the check non-vacuous. The DuckDB oracle
    uses the OTHER canonical formulation (id-ordered 3-way self-join,
    no degree ordering) — a double-counted or dropped triangle cannot
    self-confirm."""
    from mr_crawly_spark.operators.graph import triangle_stats
    from mr_crawly_spark.operators.curation import sample_hash_col

    docs = load_table(spark, sf_dir, "documents")
    rand = docs.select(
        F.pmod(sample_hash_col(F.col("doc_id"), "gsrc"), F.lit(300))
        .cast("bigint")
        .alias("src"),
        F.pmod(sample_hash_col(F.col("doc_id"), "gdst"), F.lit(300))
        .cast("bigint")
        .alias("dst"),
    )
    clique_nodes = [1000, 1001, 1002, 1003, 1004]
    clique = spark.createDataFrame(
        [(a, b) for a in clique_nodes for b in clique_nodes if a < b],
        "src bigint, dst bigint",
    )
    return triangle_stats(rand.unionByName(clique))


def q_sample_deterministic(spark, sf_dir):
    """RNG-free md5-threshold sampling: reproducible across engines, runs,
    and partitionings; monotone in fraction (1% ⊂ 10%)."""
    from mr_crawly_spark.operators.curation import deterministic_sample

    docs = load_table(spark, sf_dir, "documents")
    return deterministic_sample(docs, 0.1, "doc_id").select("doc_id")


def q_embed_neardup_multi(spark, sf_dir):
    """Multi-table LSH amplification (2 independent hyperplane tables, OR
    semantics): recall that one 8-plane table misses is repaired by the
    second; the DuckDB oracle unions the two tables' bucket joins."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    planted = emb.withColumn("vec_id", F.col("vec_id") + F.lit(10**9))
    return SIM.embedding_neardup_pairs(
        emb.unionByName(planted), threshold=0.98, n_planes=8, dim=64, n_tables=2,
    )


def _doc_media(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("img://"), F.col("doc_id").cast("string")).alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


def q_media_resize(spark, sf_dir):
    """Resize plumbing (stubbed codec): payload -> 16-byte md5 thumbnail.
    The binary output is projected to its hex so the driver can hash it."""
    resized = MM.resize_media(_doc_media(spark, sf_dir), target_w=32, target_h=32)
    return resized.select(
        "media_id", "orig_width", "orig_height", "width", "height",
        F.hex(F.col("payload")).alias("payload_hex"),
    )


def q_frame_sample(spark, sf_dir):
    """Frame sampling fan-out: one media row -> one row per 2nd frame
    (deterministic 1..16 frame count), per-frame md5 features as f0..f7."""
    frames = MM.sample_frames(_doc_media(spark, sf_dir), every_n=2)
    return frames.select(
        "media_id",
        "n_frames",
        "frame_index",
        *[
            F.round(F.element_at(F.col("features"), i + 1) * 255)
            .cast("bigint")
            .alias(f"f{i}")
            for i in range(MM.FEATURE_DIM)
        ],
    )


def q_multimodal_features(spark, sf_dir):
    """Binary-column media pipeline: deterministic payloads -> Arrow-batched
    mapInPandas feature extraction (decode step stubbed, plumbing real).

    The features array<float> is projected to scalar f0..f7 columns (the
    driver's pandas canonicalizer can't hash lists — round-1 harness error);
    features[i]*255 recovers the source digest byte exactly, so the values
    are integer-stable across float32/double."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.lit("img://"), F.col("doc_id").cast("string")).alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    feats = MM.extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        "width",
        "height",
        *[
            F.round(F.element_at(F.col("features"), i + 1) * 255)
            .cast("bigint")
            .alias(f"f{i}")
            for i in range(MM.FEATURE_DIM)
        ],
    )


def _trap_frontier(spark, sf_dir):
    """Deterministic synthetic frontier for the crawl-trap entries: 20
    hosts from doc_id; every 5th host is a session-ID trap (sid=s<doc_id>
    is unique per URL, so the host's URL space grows with the corpus),
    healthy hosts carry a genuine low-cardinality facet (page=0..6) on
    every 3rd doc. The base path (doc_id % 5) is CONSTANT within a host
    (host is doc_id % 20), so stripping sid genuinely collapses the trap
    host's frontier (25 -> 7 at sf0.01) instead of leaving distinct
    paths behind. The healthy facet's value_ratio is 1.0 (7 values over
    its 7 distinct URLs), so min_urls is the clause keeping it unflagged
    — the fixture exercises both flag conditions non-vacuously."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    host = F.concat(F.lit("h"), (did % 20).cast("string"), F.lit(".test"))
    base = F.concat(
        F.lit("https://"), host, F.lit("/a/p"), (did % 5).cast("string")
    )
    url = (
        F.when(
            (did % 20) % 5 == 0,
            F.concat(
                base,
                F.lit("?sid=s"), did.cast("string"),
                F.lit("&page="), (did % 7).cast("string"),
            ),
        )
        .when(did % 3 == 0, F.concat(base, F.lit("?page="), (did % 7).cast("string")))
        .otherwise(base)
    )
    return docs.select(host.alias("host"), url.alias("url"))


def q_trap_params(spark, sf_dir):
    """Crawl-trap detection #1 (operators/traps.py trap_param_stats):
    per-(host, param) value-cardinality over a synthetic frontier with
    planted session-ID traps — the pre-fetch gate the reference's
    max-pages-only bound lacks (reference mr_crawly/manager.py). One
    map-side-combined agg; output bounded by the host x param vocabulary."""
    from mr_crawly_spark.operators import traps as TR

    fr = _trap_frontier(spark, sf_dir)
    return TR.trap_param_stats(fr, min_urls=12, value_ratio=0.5)


def q_trap_collapse(spark, sf_dir):
    """Crawl-trap mitigation (operators/traps.py strip_trap_params +
    collapse_stats): strip ONLY the flagged params and count the per-host
    frontier shrinkage — trap hosts collapse 25 -> 7 at sf0.01 (the page
    facet survives, the sid axis dies), healthy hosts are byte-identical
    (idempotence is tested in tests/test_traps.py)."""
    from mr_crawly_spark.operators import traps as TR

    fr = _trap_frontier(spark, sf_dir)
    stats = TR.trap_param_stats(fr, min_urls=12, value_ratio=0.5)
    return TR.collapse_stats(fr, stats)


def q_url_templates(spark, sf_dir):
    """Crawl-trap detection #2 (operators/traps.py template_stats):
    path-side high-entropy templating — trap hosts embed md5 session
    tokens in the PATH (no query string for the param signal to see);
    collapsing only >=8-char hex / >=6-digit runs keeps /p12-style
    pagination distinct, so healthy hosts stay unflagged."""
    from mr_crawly_spark.operators import traps as TR

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    host = F.concat(F.lit("h"), (did % 20).cast("string"), F.lit(".test"))
    url = F.when(
        (did % 20) % 5 == 0,
        F.concat(
            F.lit("https://"), host, F.lit("/s/"), F.md5(did.cast("string"))
        ),
    ).otherwise(
        F.concat(
            F.lit("https://"), host, F.lit("/p"), (did % 40).cast("string")
        )
    )
    fr = docs.select(host.alias("host"), url.alias("url"))
    return TR.template_stats(fr, min_urls=10, expansion=5.0)


def _visit_history(spark, sf_dir):
    """Deterministic synthetic visit history for the freshness entries:
    one url per doc, 4 visits an hour apart (every 7th url gets only ONE
    visit — the no-evidence cold-start class), fingerprints change on a
    per-class period: doc_id%4==0 never changes within the window,
    %4==1 changes every visit, else every 2nd visit. All four estimator
    regimes (rate 0, saturated X=n, intermediate, NULL) are populated, so
    the oracle comparison is non-vacuous on every branch."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (did % 50).cast("string"),
        F.lit(".test/p"), did.cast("string"),
    )
    nv = F.when(did % 7 == 0, F.lit(1)).otherwise(F.lit(4))
    period = (
        F.when(did % 4 == 0, F.lit(1000))
        .when(did % 4 == 1, F.lit(1))
        .otherwise(F.lit(2))
    )
    v = docs.select(
        url.alias("url"),
        did.alias("_did"),
        period.alias("_p"),
        F.explode(F.sequence(F.lit(0), nv - 1)).alias("_k"),
    )
    ts = (F.col("_did") % 97).cast("double") * 10.0 + F.col("_k") * 3600.0
    fp = F.md5(
        F.concat_ws(
            ":",
            F.col("_did").cast("string"),
            F.floor(F.col("_k") / F.col("_p")).cast("string"),
        )
    )
    return v.select("url", ts.alias("visit_ts"), fp.alias("fingerprint"))


def q_change_rate(spark, sf_dir):
    """Freshness-driven recrawl scheduling (operators/freshness.py):
    Cho & Garcia-Molina TODS'03 bias-reduced Poisson change-rate per url
    from the crawler's own visit history, plus the staleness-probability
    recrawl priority at a fixed 'now' — the measured replacement for the
    reference's trust-the-sitemap <changefreq> recrawl metadata
    (reference mr_crawly/site_mapper.py get_sitemap_urls). One shuffle:
    the lag window and the per-url agg share the url partitioning."""
    from mr_crawly_spark.operators import freshness as FR

    visits = _visit_history(spark, sf_dir)
    rates = FR.change_rates(FR.change_stats(visits))
    return FR.recrawl_priorities(rates, now_ts=200000.0)


# --------------------------------------------------------------------------- #

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ------------------------------------------------------------------
        # r06 ordering: the driver samples ~50 entries per round, biased
        # toward the head of this dict — lead with the 34 entries that have
        # never had a driver CORRECTNESS row (union of CORRECTNESS_r01-r05)
        # so every registry entry gets driver-checked evidence. Pure
        # reordering: names, callables and oracle SQL are untouched.
        # ------------------------------------------------------------------
        "dedup_e2e": q_dedup_e2e,
        "dsir": q_dsir,
        "clf_quality": q_clf_quality,
        "semdedup": q_semdedup,
        "kmeans": q_kmeans,
        "bpe": q_bpe,
        "length_quantiles": q_length_quantiles,
        "hll": q_hll,
        "cms": q_cms,
        "kmv": q_kmv,
        "kmv_sets": q_kmv_sets,
        "dd_quantiles": q_dd_quantiles,
        "dd_by": q_dd_by,
        "range_join": q_range_join,
        "hll_by": q_hll_by,
        "text_norm": q_text_norm,
        "sim_join": q_sim_join,
        "weighted_sample": q_weighted_sample,
        "domain_cap": q_domain_cap,
        "domain_cap_sampled": q_domain_cap_sampled,
        "para_dedup": q_para_dedup,
        "corpus_diff": q_corpus_diff,
        "span_stats": q_span_stats,
        "top_ngrams": q_top_ngrams,
        "tfidf_keywords": q_tfidf_keywords,
        "media_dedup": q_media_dedup,
        "winnow": q_winnow,
        "dedup_spans": q_dedup_spans,
        "cdc_chunks": q_cdc_chunks,
        "cdc_ratio": q_cdc_ratio,
        "trap_params": q_trap_params,
        "trap_collapse": q_trap_collapse,
        "url_templates": q_url_templates,
        "change_rate": q_change_rate,
        # --- previously driver-sampled entries (green in r01-r05) ---------
        "seen_antijoin": q_seen_antijoin,
        "host_window_topk": q_host_window_topk,
        "frontier_merge": q_frontier_merge,
        "fetch_left_join": q_fetch_left_join,
        "links_dedup": q_links_dedup,
        "status_transition": q_status_transition,
        "retry_backoff": q_retry_backoff,
        "priority_order": q_priority_order,
        "pagerank": q_pagerank,
        "hits": q_hits,
        "asof": q_asof,
        "events_agg": q_events_agg,
        "events_hourly": q_events_hourly,
        "events_rollup": q_events_rollup,
        "sessionize": q_sessionize,
        "dedup_exact": q_dedup_exact,
        "token_count": q_token_count,
        "token_count_bpe": q_token_count_bpe,
        "chunk_docs": q_chunk_documents,
        "pack_seqs": q_pack_sequences,
        "sample_det": q_sample_deterministic,
        "sample_strat": q_sample_stratified,
        "bm25": q_bm25,
        "bm25_long": q_bm25_long,
        "inv_index": q_inv_index,
        "inv_search": q_inv_search,
        "inv_merge": q_inv_merge,
        "inv_phrase": q_inv_phrase,
        "triangles": q_triangles,
        "pmi": q_pmi,
        "pct_ranks": q_pct_ranks,
        "bigram_ppl": q_bigram_ppl,
        "repetition": q_repetition,
        "unigram_logprob": q_unigram_logprob,
        "temperature_mix": q_temperature_mix,
        "curation_pipeline_v2": q_curation_pipeline_v2,
        "curation_pipeline": q_curation_pipeline,
        "pii_redact": q_pii_redact,
        "decontaminate": q_decontaminate,
        "dup_ngrams": q_dup_ngrams,
        "url_quality": q_url_quality,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "corpus_filter": q_corpus_filter,
        "minhash": q_minhash,
        "neardup_jaccard": q_neardup_jaccard,
        "simhash16": q_simhash16,
        "cosine_topk": q_cosine_topk,
        "embed_norm": q_embed_norm,
        "robots_parse": q_robots_parse,
        # crawl_seen's oracle is the sequential python crawler, surfaced to
        # DuckDB as a materialized parquet (see _materialize_crawl_seen_oracle)
        "crawl_seen": q_crawl_seen,
        "ann_lsh": q_ann_lsh,
        "ann_lsh_indexed": q_ann_lsh_indexed,
        "ann_ivf": q_ann_ivf,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "jaccard_lsh": q_jaccard_lsh,
        "neardup_edit": q_neardup_edit,
        "dedup_clusters": q_dedup_clusters,
        "simhash_neardup": q_simhash_neardup,
        "embed_neardup": q_embed_neardup,
        "embed_neardup_multi": q_embed_neardup_multi,
        "multimodal_features": q_multimodal_features,
        "media_resize": q_media_resize,
        "frame_sample": q_frame_sample,
    }


TOKENS_SQL = "string_split_regex(trim({col}), '\\s+')"

# full-corpus inverted-index fingerprints: the oracle for BOTH inv_index
# (direct build) and inv_merge (disjoint-slice build + merge_index fold —
# merge must be bit-identical to rebuild)
INV_INDEX_SQL = """
    WITH t AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0
    ),
    tf AS (
      SELECT term, doc_id, count(*)::BIGINT AS tf
      FROM t GROUP BY term, doc_id
    ),
    b AS (
      SELECT term, doc_id, tf,
             (('0x' || substr(md5('blk|' || doc_id::VARCHAR), 1, 15))
               ::BIGINT % 1000000 % 8)::INT AS block
      FROM tf
    )
    SELECT term, block, count(*)::BIGINT AS df_block,
           md5(string_agg(doc_id::VARCHAR || ':' || tf::VARCHAR, ','
               ORDER BY doc_id)) AS postings_fp
    FROM b GROUP BY term, block
"""


def oracle_sql() -> dict[str, str]:
    toks = TOKENS_SQL.format(col="text")
    fp = (
        "md5(array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' '))"
    )
    shingle_list = (
        "list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])"
    )
    # bigram variant (DSIR hashed features)
    shingle2_list = (
        "list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])"
    )
    # 4-gram variant (decontamination / exact-substring dedup entries)
    shingle4_list = (
        "list_transform(range(1, len(w) - 2),"
        " i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])"
    )
    # deterministic planted PII (q_pii_redact builds the same expression)
    pii_text = (
        "text || (CASE WHEN doc_id % 7 = 0 THEN"
        " ' Contact user' || doc_id::VARCHAR || '@example.com or 555-'"
        " || (doc_id % 900 + 100)::VARCHAR || '-'"
        " || (doc_id % 9000 + 1000)::VARCHAR"
        " || ' at 10.' || (doc_id % 256)::VARCHAR || '.'"
        " || (doc_id % 100)::VARCHAR || '.' || (doc_id % 250)::VARCHAR"
        " || ' now.' ELSE '' END)"
    )
    stop_ratio = (
        f"round(len(list_filter({toks}, t -> list_contains({STOP_SQL}, t)))"
        f" / greatest(len({toks}), 1), 4)"
    )
    mean_tok = (
        f"round(list_sum(list_transform({toks}, t -> length(t)))"
        f" / greatest(len({toks}), 1), 4)"
    )
    n_tok = f"len({toks})"
    quality = (
        f"round((CASE WHEN {n_tok} BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)"
        f" * (CASE WHEN {stop_ratio} >= 0.03 THEN 1.0 ELSE 0.6 END), 4)"
    )
    simhash16_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(16)
    )
    simhash16_fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN 1 ELSE 0 END)::BIGINT * {2**j}" for j in range(16)
    )
    # universal-hash minhash: one md5 per shingle, mh_i = min((a+i*b) mod P)
    mh_p = 2305843009213693951
    minhash_aggs = ", ".join(
        f"min((a + {i} * b) % {mh_p}) AS mh{i}" for i in range(8)
    )

    # ---- banded-LSH / ANN oracles (round 2): every hash is md5-derived and
    # every float path is sequential double accumulation on both engines, so
    # the banded joins are reproducible in DuckDB bit-for-bit ------------- #
    sim60_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(60)
    )
    sim60_fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN 1 ELSE 0 END)::BIGINT * {2**j}" for j in range(60)
    )
    lsh_docs2 = """
              SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 1000000000 AS doc_id, text
              FROM documents WHERE doc_id % 10 = 0
    """
    # planted copies with a 3-char suffix edit (the neardup_edit corpus)
    edit_docs2 = """
              SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 1000000000 AS doc_id, text || ' x!' AS text
              FROM documents WHERE doc_id % 10 = 0
    """
    band_keys = "\n              UNION ALL ".join(
        f"SELECT doc_id, {b} AS band,"
        f" md5(concat_ws('|', mh{2 * b}, mh{2 * b + 1})) AS key FROM sig"
        for b in range(4)
    )

    def plane_lit(plane: list[float]) -> str:
        # %e literals parse as DOUBLE in DuckDB (plain decimals parse as
        # DECIMAL and would not round-trip the hyperplane constants)
        return "[" + ", ".join(f"{v:.17e}" for v in plane) + "]"

    def bucket_expr(col: str, planes: list[list[float]]) -> str:
        terms = " + ".join(
            f"(CASE WHEN list_dot_product({col}, {plane_lit(p)}) >= 0"
            f" THEN {2**i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        return f"({terms})"

    # testdata embeddings are 64-dim at every sf (TESTDATA.md); the Spark
    # side derives dim from the data and produces these same planes
    planes8 = SIM.deterministic_hyperplanes(64, 8)
    planes6 = SIM.deterministic_hyperplanes(64, 6)
    planes16 = SIM.deterministic_hyperplanes(64, 16)
    cos = (
        "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b}))), 4)"
    )
    mm_feats = ", ".join(
        f"('0x' || substr(d, {2 * i + 1}, 2))::BIGINT AS f{i}" for i in range(8)
    )
    crawl_seen_path = _materialize_crawl_seen_oracle()

    def kmeans_trajectory_sql(k: int = 8, n_iter: int = 2) -> str:
        """Unroll the Lloyd trajectory (similarity.kmeans) as CTEs: each
        iteration is assignment (argmax full-precision cosine, min-index
        ties — the exact struct ordering ivf_assign uses) followed by a
        decimal-exact per-(cluster, dim) mean rounded to 6dp; empty
        clusters inherit the previous centroid via NOT IN."""
        assign = """
            {name} AS (
              SELECT vec_id, v, idx AS cid FROM (
                SELECT e.vec_id, e.v, c.idx,
                       row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY list_dot_product(e.v, c.v)
                                  / (sqrt(list_dot_product(c.v, c.v))
                                     * sqrt(list_dot_product(e.v, e.v))) DESC,
                                  c.idx ASC
                       ) AS rn
                FROM emb e CROSS JOIN {cent} c
              ) WHERE rn = 1
            )"""
        parts = [
            """emb AS (
              SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings WHERE vec_id % 5 = 0
            )""",
            f"""cent0 AS (
              SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)
                       - 1 AS idx,
                     list_transform(v, x -> round(x, 6)) AS v
              FROM (SELECT vec_id, v FROM emb
                    ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {k})
            )""",
        ]
        for it in range(n_iter):
            parts.append(assign.format(name=f"a{it}", cent=f"cent{it}").strip())
            parts.append(f"""m{it + 1} AS (
              SELECT cid, pos,
                     round(sum(x::DECIMAL(27,10))::DOUBLE / count(*), 6) AS mu
              FROM (SELECT cid, unnest(v) AS x,
                           generate_subscripts(v, 1) AS pos FROM a{it})
              GROUP BY cid, pos
            )""")
            parts.append(f"""built{it + 1} AS (
              SELECT cid AS idx, list(mu ORDER BY pos) AS v
              FROM m{it + 1} GROUP BY cid
            )""")
            parts.append(f"""cent{it + 1} AS (
              SELECT idx, v FROM built{it + 1}
              UNION ALL
              SELECT c.idx, c.v FROM cent{it} c
              WHERE c.idx NOT IN (SELECT idx FROM built{it + 1})
            )""")
        parts.append(assign.format(name="afinal", cent=f"cent{n_iter}").strip())
        ctes = ",\n            ".join(parts)
        return (
            f"WITH {ctes}\n"
            "            SELECT vec_id, cid::BIGINT AS cluster_id FROM afinal"
        )

    def hits_trajectory_sql(n_iter: int = 3) -> str:
        """Unroll HITS (frontier.hits) half-step by half-step: raw mass =
        per-node correlated sum, then round(v / max(v), 6) — max
        normalization is order-independent, so the chained CTEs replay the
        Spark trajectory exactly."""
        parts = [
            """edges AS (
              SELECT DISTINCT 'p' || l_partkey::VARCHAR AS src,
                              's' || l_suppkey::VARCHAR AS dst
              FROM lineitem
            )""",
            "nodes AS (SELECT src AS url FROM edges"
            " UNION SELECT dst FROM edges)",
            "h0 AS (SELECT url, 1.0::DOUBLE AS hub FROM nodes)",
        ]
        for t in range(1, n_iter + 1):
            parts.append(f"""ar{t} AS (
              SELECT n.url, COALESCE((SELECT sum(h.hub) FROM edges e
                                      JOIN h{t - 1} h ON h.url = e.src
                                      WHERE e.dst = n.url), 0.0) AS v
              FROM nodes n)""")
            parts.append(
                f"a{t} AS (SELECT url, round(v / (SELECT max(v) FROM ar{t}),"
                f" 6) AS auth FROM ar{t})"
            )
            parts.append(f"""hr{t} AS (
              SELECT n.url, COALESCE((SELECT sum(a.auth) FROM edges e
                                      JOIN a{t} a ON a.url = e.dst
                                      WHERE e.src = n.url), 0.0) AS v
              FROM nodes n)""")
            parts.append(
                f"h{t} AS (SELECT url, round(v / (SELECT max(v) FROM hr{t}),"
                f" 6) AS hub FROM hr{t})"
            )
        ctes = ",\n            ".join(parts)
        return (
            f"WITH {ctes}\n"
            "            SELECT n.url, round(h.hub, 4) AS hub,"
            " round(a.auth, 4) AS auth\n"
            f"            FROM nodes n JOIN h{n_iter} h USING (url)\n"
            f"            JOIN a{n_iter} a USING (url)"
        )

    def bpe_trajectory_sql(n_merges: int = 4) -> str:
        """Unroll the BPE merge trajectory (operators/bpe.py bpe_merges):
        per round, pair counts over the chr(1)-joined token stream, top-1
        by (freq DESC, a, b), then the leftmost non-overlapping replace
        gluing the winner with chr(2) — bit-identical to the Spark loop."""
        parts = [
            """c0 AS (
              SELECT array_to_string(
                       string_split_regex(
                         trim(replace(replace(text, chr(1), ' '),
                                      chr(2), ' ')), '\\s+'),
                       chr(1)) AS s
              FROM documents
            )"""
        ]
        sel = []
        for t in range(1, n_merges + 1):
            parts.append(f"""p{t} AS (
              SELECT p['a'] AS a, p['b'] AS b, count(*)::BIGINT AS freq
              FROM (
                SELECT unnest(list_transform(range(1, len(w)),
                              i -> {{'a': w[i], 'b': w[i+1]}})) AS p
                FROM (SELECT string_split(s, chr(1)) AS w FROM c{t - 1})
              ) GROUP BY 1, 2
            )""")
            parts.append(f"""t{t} AS (
              SELECT a, b, freq FROM p{t}
              ORDER BY freq DESC, a ASC, b ASC LIMIT 1
            )""")
            parts.append(f"""c{t} AS (
              SELECT replace(s, (SELECT a || chr(1) || b FROM t{t}),
                                (SELECT a || chr(2) || b FROM t{t})) AS s
              FROM c{t - 1}
            )""")
            sel.append(
                f"SELECT {t}::INT AS step, a AS token_a, b AS token_b,"
                f" freq FROM t{t}"
            )
        ctes = ",\n            ".join(parts)
        union = "\n            UNION ALL ".join(sel)
        return f"WITH {ctes}\n            {union}"

    d = {
        "crawl_seen": f"""
            SELECT url, first_seen_round
            FROM read_parquet('{crawl_seen_path}')
        """,
        "seen_antijoin": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_custkey % 3 = 0)
        """,
        "host_window_topk": """
            SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn
            FROM (
              SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
                     row_number() OVER (PARTITION BY l_suppkey
                        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
              FROM lineitem
            ) WHERE rn <= 3
        """,
        "frontier_merge": """
            SELECT DISTINCT o_orderkey AS key FROM orders
            UNION SELECT DISTINCT l_orderkey AS key FROM lineitem
        """,
        "fetch_left_join": """
            SELECT o_orderkey, o_custkey, c_name, o_totalprice
            FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        """,
        "links_dedup": """
            SELECT DISTINCT l_orderkey, l_partkey, l_suppkey FROM lineitem
        """,
        "status_transition": """
            WITH fr AS (
              SELECT l_orderkey::BIGINT AS k1, l_linenumber::BIGINT AS k2,
                     CASE l_linenumber % 4 WHEN 0 THEN 'success'
                          WHEN 1 THEN 'robots_denied' WHEN 2 THEN 'error404'
                          ELSE 'retry' END AS outcome,
                     (l_suppkey % 4)::INT AS retry_count
              FROM lineitem WHERE l_orderkey % 97 = 0
            )
            SELECT k1, k2, outcome, retry_count,
                   CASE WHEN outcome = 'success' THEN 'fetched'
                        WHEN outcome = 'robots_denied' THEN 'robots_denied'
                        WHEN outcome = 'error404' THEN 'error'
                        WHEN retry_count + 1 >= 3 THEN 'error'
                        ELSE 'pending' END AS new_status,
                   (CASE WHEN outcome = 'retry' THEN retry_count + 1
                         ELSE retry_count END)::INT AS new_retry_count,
                   CASE WHEN outcome = 'retry' AND retry_count + 1 < 3
                        THEN ([10.0, 30.0, 60.0])[LEAST(retry_count + 1, 3)]::DOUBLE
                        ELSE NULL END AS backoff
            FROM fr
        """,
        "retry_backoff": """
            SELECT l_orderkey, l_linenumber,
                   CASE (l_linenumber - 1) % 3 WHEN 0 THEN 10.0
                        WHEN 1 THEN 30.0 ELSE 60.0 END AS backoff
            FROM lineitem
        """,
        "pagerank": """
            WITH edges AS (
              SELECT DISTINCT 'p' || l_partkey::VARCHAR AS src,
                              's' || l_suppkey::VARCHAR AS dst
              FROM lineitem
            ),
            nodes AS (
              SELECT src AS url FROM edges UNION SELECT dst FROM edges
            ),
            outdeg AS (
              SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY src
            ),
            pr0 AS (
              SELECT url, 1.0 / (SELECT count(*) FROM nodes) AS rank
              FROM nodes
            ),
            pr1 AS (
              SELECT n.url,
                     (0.15 / (SELECT count(*) FROM nodes))
                     + 0.85 * COALESCE((
                         SELECT sum(p.rank / o.outdeg)
                         FROM edges e
                         JOIN pr0 p ON p.url = e.src
                         JOIN outdeg o ON o.src = e.src
                         WHERE e.dst = n.url), 0.0) AS rank
              FROM nodes n
            ),
            pr2 AS (
              SELECT n.url,
                     (0.15 / (SELECT count(*) FROM nodes))
                     + 0.85 * COALESCE((
                         SELECT sum(p.rank / o.outdeg)
                         FROM edges e
                         JOIN pr1 p ON p.url = e.src
                         JOIN outdeg o ON o.src = e.src
                         WHERE e.dst = n.url), 0.0) AS rank
              FROM nodes n
            ),
            pr3 AS (
              SELECT n.url,
                     (0.15 / (SELECT count(*) FROM nodes))
                     + 0.85 * COALESCE((
                         SELECT sum(p.rank / o.outdeg)
                         FROM edges e
                         JOIN pr2 p ON p.url = e.src
                         JOIN outdeg o ON o.src = e.src
                         WHERE e.dst = n.url), 0.0) AS rank
              FROM nodes n
            ),
            pr4 AS (
              SELECT n.url,
                     (0.15 / (SELECT count(*) FROM nodes))
                     + 0.85 * COALESCE((
                         SELECT sum(p.rank / o.outdeg)
                         FROM edges e
                         JOIN pr3 p ON p.url = e.src
                         JOIN outdeg o ON o.src = e.src
                         WHERE e.dst = n.url), 0.0) AS rank
              FROM nodes n
            ),
            pr5 AS (
              SELECT n.url,
                     (0.15 / (SELECT count(*) FROM nodes))
                     + 0.85 * COALESCE((
                         SELECT sum(p.rank / o.outdeg)
                         FROM edges e
                         JOIN pr4 p ON p.url = e.src
                         JOIN outdeg o ON o.src = e.src
                         WHERE e.dst = n.url), 0.0) AS rank
              FROM nodes n
            )
            SELECT url, round(rank, 4) AS rank FROM pr5
        """,
        "priority_order": """
            SELECT rank, o_orderkey, o_orderpriority, o_totalprice
            FROM (
              SELECT o_orderkey, o_orderpriority, o_totalprice,
                     row_number() OVER (ORDER BY o_orderpriority ASC,
                        o_totalprice DESC, o_orderkey ASC) AS rank
              FROM orders
            ) WHERE rank <= 100
        """,
        "events_agg": """
            SELECT event_type, count(*)::BIGINT AS n,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY event_type
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, count(*)::BIGINT AS n,
                   count(DISTINCT user_id)::BIGINT AS n_users
            FROM events GROUP BY 1
        """,
        "events_rollup": """
            SELECT date_trunc('day', ts)::TIMESTAMP AS day, event_type,
                   GROUPING(date_trunc('day', ts), event_type)::BIGINT AS gid,
                   count(*)::BIGINT AS n,
                   SUM(value::DECIMAL(18,6))::DOUBLE AS sum_value
            FROM events
            GROUP BY ROLLUP (date_trunc('day', ts), event_type)
        """,
        "sessionize": """
            WITH flagged AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sids AS (
              SELECT user_id,
                     sum(new_session) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
              FROM flagged
            )
            SELECT user_id, max(session_id)::BIGINT AS n_sessions,
                   count(*)::BIGINT AS n_events
            FROM sids GROUP BY user_id
        """,
        "dedup_exact": f"""
            SELECT {fp} AS fp, min(doc_id) AS keeper_id, count(*)::BIGINT AS n_docs
            FROM documents GROUP BY 1
        """,
        "token_count": f"""
            SELECT doc_id, {n_tok}::BIGINT AS n_tokens FROM documents
        """,
        "chunk_docs": f"""
            WITH t AS (
              SELECT doc_id, {toks} AS w FROM documents
            ),
            nc AS (
              SELECT doc_id, w,
                     1 + ceil(greatest(len(w) - 40, 0) / 32.0)::INT AS n_chunks
              FROM t
            ),
            ch AS (
              SELECT doc_id, w, unnest(range(0, n_chunks)) AS chunk_index
              FROM nc
            )
            SELECT doc_id, chunk_index::BIGINT AS chunk_index,
                   array_to_string(w[chunk_index * 32 + 1 :
                                     chunk_index * 32 + 40], ' ') AS chunk_text,
                   len(w[chunk_index * 32 + 1 : chunk_index * 32 + 40])::BIGINT
                       AS n_tokens
            FROM ch
        """,
        "pack_seqs": f"""
            WITH t AS (
              SELECT doc_id, {toks} AS w,
                     ('0x' || substr(md5('pack|' || doc_id::VARCHAR), 1, 15))::BIGINT
                       % 1000000 % 8 AS shard
              FROM documents WHERE length(trim(text)) > 0
            ),
            pos AS (
              SELECT shard, w, len(w)::BIGINT AS n,
                     COALESCE(SUM(len(w)) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                       AS strt
              FROM t
            ),
            blocks AS (
              SELECT shard, w, strt, strt + n AS fin,
                     unnest(range(strt // 64, (strt + n - 1) // 64 + 1)) AS seq_id
              FROM pos
            ),
            pieces AS (
              SELECT shard, seq_id,
                     greatest(strt, seq_id * 64) AS off,
                     w[(greatest(strt, seq_id * 64) - strt + 1)::INT :
                       (least(fin, (seq_id + 1) * 64) - strt)::INT] AS piece
              FROM blocks
            ),
            packed AS (
              SELECT shard, seq_id, count(*)::BIGINT AS n_docs,
                     flatten(list(piece ORDER BY off)) AS toks2
              FROM pieces GROUP BY shard, seq_id
            )
            SELECT shard::INT AS shard, seq_id::BIGINT AS seq_id, n_docs,
                   len(toks2)::BIGINT AS n_tokens,
                   md5(array_to_string(toks2, ' ')) AS packed_fp
            FROM packed
        """,
        "sample_det": """
            SELECT doc_id FROM documents
            WHERE ('0x' || substr(md5('sample|' || doc_id::VARCHAR), 1, 15))::BIGINT
                  % 1000000 < 100000
        """,
        "sample_strat": """
            SELECT doc_id, (doc_id % 3)::VARCHAR AS stratum FROM documents
            WHERE ('0x' || substr(md5('strat|' || doc_id::VARCHAR), 1, 15))::BIGINT
                  % 1000000 <
                  CASE doc_id % 3 WHEN 0 THEN 200000 WHEN 1 THEN 50000
                       ELSE 10000 END
        """,
        "bm25": f"""
            WITH t AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents
            ),
            d AS (
              SELECT doc_id, len(w) AS dl,
                     {", ".join(
                         f"len(list_filter(w, x -> x = '{t}')) AS tf{i}"
                         for i, t in enumerate(["spark", "vector", "scan", "dup"])
                     )}
              FROM t
            ),
            c AS (
              SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
                     {", ".join(
                         f"sum((tf{i} > 0)::INT)::DOUBLE AS df{i}"
                         for i in range(4)
                     )}
              FROM d
            )
            SELECT doc_id,
                   round(0.0
                     {" ".join(
                         f"+ ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
                         f" * (tf{i} * (1.2 + 1.0))"
                         f" / (tf{i} + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))"
                         for i in range(4)
                     )}, 4) AS bm25
            FROM d, c
        """,
        "bm25_long": f"""
            WITH t AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents
            ),
            d AS (SELECT doc_id, len(w) AS dl, w FROM t),
            c AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM d),
            toks AS (SELECT doc_id, dl, unnest(w) AS term FROM d),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM toks
              WHERE term IN ({", ".join(f"'{t}'" for t in BM25_LONG_TERMS)})
              GROUP BY doc_id, dl, term
            ),
            dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
            sc AS (
              SELECT tf.doc_id,
                     sum(ln((c.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                         * (tf.tf * (1.2 + 1.0))
                         / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl / c.avgdl))
                     ) AS s
              FROM tf JOIN dfreq USING (term), c
              GROUP BY tf.doc_id
            )
            SELECT d.doc_id, round(coalesce(sc.s, 0.0), 4) AS bm25
            FROM d LEFT JOIN sc USING (doc_id)
        """,
        "inv_index": INV_INDEX_SQL,
        # merge(base, delta) must equal a full rebuild: same oracle. The
        # Spark side builds from two disjoint slices and folds; only a
        # correct merge reproduces the full-corpus fingerprints.
        "inv_merge": INV_INDEX_SQL,
        "bigram_ppl": f"""
            WITH t AS (
              SELECT doc_id, {toks} AS w FROM documents
              WHERE length(trim(text)) > 0
            ),
            bg AS (
              SELECT doc_id, unnest({shingle2_list}) AS b FROM t
            ),
            tf AS (
              SELECT doc_id, b, count(*)::BIGINT AS tf
              FROM bg GROUP BY 1, 2
            ),
            model AS (SELECT b, sum(tf)::BIGINT AS cab FROM tf GROUP BY 1),
            ctx AS (
              SELECT split_part(b, ' ', 1) AS a, sum(cab)::BIGINT AS ca
              FROM model GROUP BY 1
            ),
            vv AS (
              SELECT count(DISTINCT tt)::DOUBLE AS v
              FROM (SELECT unnest(w) AS tt FROM t)
            ),
            sc AS (
              SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_bigrams,
                     sum((tf.tf * ln((model.cab + 1.0) / (ctx.ca + vv.v)))
                         ::DECIMAL(20,6))::DOUBLE AS s
              FROM tf
              JOIN model USING (b)
              JOIN ctx ON ctx.a = split_part(tf.b, ' ', 1), vv
              GROUP BY tf.doc_id
            )
            SELECT doc_id, n_bigrams,
                   round(exp(-s / n_bigrams), 4) AS ppl
            FROM sc
        """,
        "pct_ranks": f"""
            WITH d AS (
              SELECT doc_id, len({toks})::BIGINT AS n_toks FROM documents
            )
            SELECT doc_id, n_toks,
                   round(percent_rank() OVER (ORDER BY n_toks), 4) AS pct
            FROM d
        """,
        "pmi": f"""
            WITH d AS (
              SELECT {toks} AS w FROM documents
              WHERE length(trim(text)) > 0
            ),
            uni AS (
              SELECT t AS w, count(*)::BIGINT AS c
              FROM (SELECT unnest(w) AS t FROM d) GROUP BY 1
            ),
            tot AS (SELECT sum(c)::DOUBLE AS nt FROM uni),
            bg AS (
              SELECT b AS bigram, count(*)::BIGINT AS freq
              FROM (SELECT unnest({shingle2_list}) AS b FROM d)
              GROUP BY 1 HAVING count(*) >= 3
            ),
            nbt AS (
              SELECT sum(greatest(len(w) - 1, 0))::DOUBLE AS nb FROM d
            )
            SELECT bigram, freq,
                   round(ln((freq / nbt.nb)
                         / ((ua.c / tot.nt) * (ub.c / tot.nt))), 4) AS pmi
            FROM bg, tot, nbt
            JOIN uni ua ON ua.w = split_part(bg.bigram, ' ', 1)
            JOIN uni ub ON ub.w = split_part(bg.bigram, ' ', 2)
            ORDER BY pmi DESC, bigram LIMIT 50
        """,
        "triangles": """
            WITH raw AS (
              SELECT ('0x' || substr(md5('gsrc|' || doc_id::VARCHAR), 1, 15))
                       ::BIGINT % 1000000 % 300 AS src,
                     ('0x' || substr(md5('gdst|' || doc_id::VARCHAR), 1, 15))
                       ::BIGINT % 1000000 % 300 AS dst
              FROM documents
              UNION ALL
              SELECT a.a::BIGINT, b.b::BIGINT
              FROM (VALUES (1000),(1001),(1002),(1003),(1004)) a(a),
                   (VALUES (1000),(1001),(1002),(1003),(1004)) b(b)
              WHERE a.a < b.b
            ),
            e0 AS (
              SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM raw WHERE src <> dst
            ),
            deg AS (
              SELECT node, count(*)::BIGINT AS degree
              FROM (SELECT u AS node FROM e0
                    UNION ALL SELECT v FROM e0)
              GROUP BY node
            ),
            -- id-canonical x<y<z 3-way join: the INDEPENDENT formulation
            -- (the Spark side orients by (degree, id) instead)
            tri AS (
              SELECT a.u AS x, a.v AS y, b.v AS z
              FROM e0 a
              JOIN e0 b ON a.u = b.u AND a.v < b.v
              JOIN e0 c ON c.u = a.v AND c.v = b.v
            ),
            per AS (
              SELECT node, count(*)::BIGINT AS n_tri
              FROM (SELECT x AS node FROM tri
                    UNION ALL SELECT y FROM tri
                    UNION ALL SELECT z FROM tri)
              GROUP BY node
            )
            SELECT deg.node, deg.degree,
                   coalesce(per.n_tri, 0)::BIGINT AS n_tri,
                   CASE WHEN deg.degree < 2 THEN 0.0
                        ELSE round(2.0 * coalesce(per.n_tri, 0)
                                   / (deg.degree * (deg.degree - 1)), 4)
                   END AS clustering
            FROM deg LEFT JOIN per USING (node)
        """,
        "inv_phrase": """
            WITH t AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents WHERE length(trim(text)) > 0
            ),
            m AS (
              SELECT doc_id,
                     len(list_filter(range(1, len(w)),
                         i -> w[i] = 'scan' AND w[i+1] = 'filter'))::BIGINT
                       AS n_matches
              FROM t
            )
            SELECT doc_id, n_matches FROM m WHERE n_matches > 0
            ORDER BY n_matches DESC, doc_id LIMIT 100
        """,
        "inv_search": """
            WITH t AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS term
              FROM documents WHERE length(trim(text)) > 0
            ),
            tf AS (
              SELECT term, doc_id, count(*)::BIGINT AS tf
              FROM t
              WHERE term IN ('join', 'shuffle', 'spark')
              GROUP BY term, doc_id
            ),
            dfreq AS (
              SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
            ),
            c AS (
              SELECT count(*)::DOUBLE AS n FROM documents
              WHERE length(trim(text)) > 0
            ),
            sc AS (
              -- per-contribution DECIMAL(20,6) quantization = the Spark
              -- side's order-invariant quantized sum (clf_quality class)
              SELECT tf.doc_id, count(*)::BIGINT AS n_terms,
                     sum((tf.tf * (ln((c.n + 1.0) / (dfreq.df + 1.0)) + 1.0))
                         ::DECIMAL(20,6))::DOUBLE AS score_x
              FROM tf JOIN dfreq USING (term), c
              GROUP BY tf.doc_id
            )
            SELECT doc_id, n_terms, round(score_x, 4) AS score FROM sc
            ORDER BY score_x DESC, doc_id LIMIT 50
        """,
        "repetition": f"""
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000000 AS doc_id,
                     '{REPETITION_PLANT}' AS text
              FROM documents WHERE doc_id < 20
            ),
            t AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
              FROM base
            ),
            d AS (SELECT doc_id, w, len(w) AS n FROM t),
            scan AS (
              SELECT doc_id, n,
                     1.0 - len(list_distinct(w)) / n AS dtok,
                     CASE WHEN n >= 3 THEN 1.0 - len(list_distinct(
                         list_transform(range(1, n - 1),
                             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                       )) / (n - 2) ELSE 0.0 END AS dtri
              FROM d
            ),
            bg AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, n),
                         i -> w[i] || ' ' || w[i+1])) AS g
              FROM d WHERE n >= 2
            ),
            bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
            topbg AS (SELECT doc_id, max(c) AS mx FROM bgc GROUP BY 1)
            SELECT s.doc_id, s.n::BIGINT AS n_tokens,
                   round(s.dtok, 4) AS dup_token_frac,
                   round(s.dtri, 4) AS dup_trigram_frac,
                   round(least(1.0, coalesce(2.0 * tb.mx / s.n, 0.0)), 4)
                       AS top_bigram_frac,
                   (s.dtok <= 0.8 AND s.dtri <= 0.25
                    AND least(1.0, coalesce(2.0 * tb.mx / s.n, 0.0)) <= 0.18
                   )::BIGINT AS keep
            FROM scan s LEFT JOIN topbg tb USING (doc_id)
        """,
        "unigram_logprob": """
            WITH t AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
              FROM documents
            ),
            d AS (SELECT doc_id, len(w) AS n, w FROM t),
            tok AS (SELECT doc_id, n, unnest(w) AS term FROM d),
            tf AS (
              SELECT doc_id, n, term, count(*) AS tf
              FROM tok GROUP BY 1, 2, 3
            ),
            vocab AS (SELECT term, sum(tf)::DOUBLE AS cnt FROM tf GROUP BY 1),
            tot AS (SELECT sum(cnt) AS t FROM vocab)
            SELECT tf.doc_id, tf.n::BIGINT AS n_tokens,
                   round(sum(tf.tf * (ln(vocab.cnt) - ln(tot.t))) / tf.n, 4)
                       AS avg_logprob
            FROM tf JOIN vocab USING (term), tot
            GROUP BY tf.doc_id, tf.n
        """,
        "temperature_mix": """
            WITH c AS (
              SELECT lang AS s, count(*)::DOUBLE AS c
              FROM documents GROUP BY 1
            ),
            tot AS (SELECT sum(c) AS n FROM c),
            p AS (SELECT s, c, pow(c / n, 0.5) AS pw FROM c, tot),
            z AS (SELECT sum(pw) AS z FROM p),
            q AS (
              SELECT s,
                     round(least(1.0, pw / z * 0.5 * n / c) * 1000000)::BIGINT
                         AS thr
              FROM p, z, tot
            )
            SELECT d.doc_id, d.lang FROM documents d JOIN q ON d.lang = q.s
            WHERE ('0x' || substr(md5('mix|' || d.doc_id::VARCHAR), 1, 15))::BIGINT
                  % 1000000 < q.thr
        """,
        "curation_pipeline_v2": f"""
            WITH base AS (
              SELECT doc_id, text, lang FROM documents
              UNION ALL
              SELECT doc_id + 1000000000 AS doc_id, text, lang
              FROM documents WHERE doc_id % 17 = 0
            ),
            t AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
              FROM base
            ),
            d AS (SELECT doc_id, w, len(w) AS n FROM t),
            scan AS (
              SELECT doc_id, n,
                     1.0 - len(list_distinct(w)) / n AS dtok,
                     CASE WHEN n >= 3 THEN 1.0 - len(list_distinct(
                         list_transform(range(1, n - 1),
                             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                       )) / (n - 2) ELSE 0.0 END AS dtri
              FROM d
            ),
            bg AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, n),
                         i -> w[i] || ' ' || w[i+1])) AS g
              FROM d WHERE n >= 2
            ),
            bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
            topbg AS (SELECT doc_id, max(c) AS mx FROM bgc GROUP BY 1),
            repkeep AS (
              SELECT s.doc_id
              FROM scan s LEFT JOIN topbg tb USING (doc_id)
              WHERE s.dtok <= 0.8 AND s.dtri <= 0.25
                AND least(1.0, coalesce(2.0 * tb.mx / s.n, 0.0)) <= 0.18
            ),
            tok AS (SELECT doc_id, n, unnest(w) AS term FROM d),
            tf AS (
              SELECT doc_id, n, term, count(*) AS tf
              FROM tok GROUP BY 1, 2, 3
            ),
            vocab AS (SELECT term, sum(tf)::DOUBLE AS cnt FROM tf GROUP BY 1),
            tot AS (SELECT sum(cnt) AS t FROM vocab),
            lp AS (
              SELECT tf.doc_id,
                     round(sum(tf.tf * (ln(vocab.cnt) - ln(tot.t))) / tf.n, 4)
                         AS avg_logprob
              FROM tf JOIN vocab USING (term), tot
              GROUP BY tf.doc_id, tf.n
            ),
            lpk AS (
              SELECT doc_id, avg_logprob FROM lp WHERE avg_logprob >= -3.41
            ),
            keep2 AS (
              SELECT min(doc_id) AS doc_id FROM base GROUP BY {fp}
            ),
            gated AS (
              SELECT b.doc_id, b.lang, lpk.avg_logprob
              FROM base b
              JOIN repkeep USING (doc_id)
              JOIN lpk USING (doc_id)
              JOIN keep2 USING (doc_id)
            ),
            c AS (SELECT lang AS s, count(*)::DOUBLE AS c FROM gated GROUP BY 1),
            tot2 AS (SELECT sum(c) AS n FROM c),
            p AS (SELECT s, c, pow(c / n, 0.5) AS pw FROM c, tot2),
            z AS (SELECT sum(pw) AS z FROM p),
            q AS (
              SELECT s,
                     round(least(1.0, pw / z * 0.6 * n / c) * 1000000)::BIGINT
                         AS thr
              FROM p, z, tot2
            )
            SELECT g.doc_id, g.lang, g.avg_logprob
            FROM gated g JOIN q ON g.lang = q.s
            WHERE ('0x' || substr(md5('pipe|' || g.doc_id::VARCHAR), 1, 15))::BIGINT
                  % 1000000 < q.thr
        """,
        "token_count_bpe": f"""
            SELECT doc_id, {n_tok}::BIGINT AS n_tokens_ws,
                   len(regexp_extract_all(text,
                       ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))::BIGINT
                       AS n_tokens_bpe
            FROM documents
        """,
        "text_quality": f"""
            SELECT doc_id, {stop_ratio} AS stop_ratio, {mean_tok} AS mean_tok_len,
                   {quality} AS quality
            FROM documents
        """,
        "lang_id": f"""
            SELECT doc_id,
                   CASE WHEN {stop_ratio} >= 0.03 THEN 'en' ELSE 'unk' END AS pred_lang
            FROM documents
        """,
        "fingerprint": f"""
            SELECT doc_id, {fp} AS fp FROM documents
        """,
        "corpus_filter": f"""
            WITH gated AS (
              SELECT doc_id, {n_tok}::BIGINT AS n_tokens, {quality} AS quality,
                     {fp} AS fp
              FROM documents
              WHERE {quality} >= 0.5
                AND (CASE WHEN {stop_ratio} >= 0.03 THEN 'en' ELSE 'unk' END) = 'en'
                AND {n_tok} BETWEEN 5 AND 2000
            )
            SELECT fp, min(doc_id) AS doc_id, count(*)::BIGINT AS n_copies,
                   min(n_tokens) AS n_tokens, min(quality) AS quality
            FROM gated GROUP BY fp
        """,
        "curation_pipeline": f"""
            WITH gated AS (
              SELECT doc_id, text, {fp} AS fp
              FROM documents
              WHERE {quality} >= 0.5
                AND (CASE WHEN {stop_ratio} >= 0.03 THEN 'en' ELSE 'unk' END) = 'en'
                AND {n_tok} BETWEEN 5 AND 2000
            ),
            keepers AS (
              SELECT g.doc_id, g.text
              FROM (SELECT fp, min(doc_id) AS doc_id FROM gated GROUP BY fp) k
              JOIN gated g ON g.doc_id = k.doc_id
            ),
            t AS (SELECT doc_id, {toks} AS w FROM keepers),
            nc AS (
              SELECT doc_id, w,
                     1 + ceil(greatest(len(w) - 40, 0) / 32.0)::INT AS n_chunks
              FROM t
            ),
            ch AS (
              SELECT doc_id, w, unnest(range(0, n_chunks)) AS chunk_index
              FROM nc
            ),
            chunks AS (
              SELECT doc_id, chunk_index::BIGINT AS chunk_index,
                     array_to_string(w[chunk_index * 32 + 1 :
                                       chunk_index * 32 + 40], ' ') AS chunk_text,
                     len(w[chunk_index * 32 + 1 : chunk_index * 32 + 40])::BIGINT
                         AS n_tokens
              FROM ch
            )
            SELECT doc_id, chunk_index, chunk_text, n_tokens
            FROM chunks
            WHERE ('0x' || substr(md5('chunks|' || doc_id::VARCHAR || ':'
                                      || chunk_index::VARCHAR), 1, 15))::BIGINT
                  % 1000000 < 500000
        """,
        "pii_redact": f"""
            WITH d AS (SELECT doc_id, {pii_text} AS text FROM documents)
            SELECT doc_id,
                   len(regexp_extract_all(text, '{PII.EMAIL_RE}'))::BIGINT
                       AS n_emails,
                   len(regexp_extract_all(text, '{PII.PHONE_RE}'))::BIGINT
                       AS n_phones,
                   len(regexp_extract_all(text, '{PII.IPV4_RE}'))::BIGINT
                       AS n_ips,
                   (len(regexp_extract_all(text, '{PII.EMAIL_RE}'))
                    + len(regexp_extract_all(text, '{PII.PHONE_RE}'))
                    + len(regexp_extract_all(text, '{PII.IPV4_RE}')))::BIGINT
                       AS n_pii,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '{PII.EMAIL_RE}', '<EMAIL>', 'g'),
                       '{PII.PHONE_RE}', '<PHONE>', 'g'),
                       '{PII.IPV4_RE}', '<IP>', 'g') AS redacted
            FROM d
        """,
        "decontaminate": f"""
            WITH bench AS (
              SELECT DISTINCT unnest({shingle4_list}) AS sh
              FROM (SELECT {toks} AS w FROM documents WHERE doc_id % 17 = 3)
            ),
            corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 3
              UNION ALL
              SELECT doc_id + 1000000000 AS doc_id, text
              FROM documents WHERE doc_id % 17 = 3
            ),
            corp AS (
              SELECT DISTINCT doc_id, unnest({shingle4_list}) AS sh
              FROM (SELECT doc_id, {toks} AS w FROM corpus)
            )
            SELECT c.doc_id, count(*)::BIGINT AS n_ngrams,
                   count(b.sh)::BIGINT AS n_contaminated,
                   round(count(b.sh) / count(*), 4) AS contam_frac
            FROM corp c LEFT JOIN bench b ON c.sh = b.sh
            GROUP BY c.doc_id
        """,
        "dup_ngrams": f"""
            WITH docs2 AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000000 AS doc_id, text
              FROM documents WHERE doc_id % 10 = 0
            ),
            sh AS (
              SELECT DISTINCT doc_id, unnest({shingle4_list}) AS sh
              FROM (SELECT doc_id, {toks} AS w FROM docs2)
            ),
            hs AS (
              SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS sh_h
              FROM sh
            ),
            dfreq AS (SELECT sh_h, count(*) AS _df FROM hs GROUP BY sh_h)
            SELECT doc_id, count(*)::BIGINT AS n_ngrams,
                   sum(CASE WHEN _df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
                   round(sum(CASE WHEN _df >= 2 THEN 1 ELSE 0 END)
                         / count(*), 4) AS dup_frac
            FROM hs JOIN dfreq USING (sh_h)
            GROUP BY doc_id
        """,
        "url_quality": """
            WITH u AS (
              SELECT doc_id,
                     'https://h' || (doc_id % 50)::VARCHAR || '.test/'
                     || repeat('d/', (doc_id % 9)::INT)
                     || 'p' || doc_id::VARCHAR
                     || (CASE WHEN doc_id % 13 = 0 THEN '-casino' ELSE '' END)
                     || (CASE WHEN doc_id % 4 = 0 THEN '?a=1&b=2&c=3&d=4'
                              WHEN doc_id % 4 = 1 THEN '?x=' || doc_id::VARCHAR
                              ELSE '' END) AS url
              FROM documents
            ),
            f AS (
              SELECT doc_id, url,
                     length(url)::BIGINT AS url_len,
                     round(length(regexp_replace(url, '[^0-9]', '', 'g'))
                           / greatest(length(url), 1), 4) AS digit_ratio,
                     (length(url) - length(replace(url, '/', '')) - 2)::BIGINT
                         AS depth,
                     (CASE WHEN contains(url, '?')
                           THEN len(string_split(split_part(url, '?', 2), '&'))
                           ELSE 0 END)::BIGINT AS n_params,
                     (contains(lower(url), 'casino')
                      OR contains(lower(url), 'viagra')
                      OR contains(lower(url), 'free-money')
                      OR contains(lower(url), 'xxx-')) AS spam
              FROM u
            )
            SELECT doc_id, url, url_len, digit_ratio, depth, n_params, spam,
                   round(((CASE WHEN url_len > 120 THEN 0.5 ELSE 1.0 END)
                          * (CASE WHEN digit_ratio > 0.3 THEN 0.6 ELSE 1.0 END)
                          * (CASE WHEN depth > 6 THEN 0.7 ELSE 1.0 END)
                          * (CASE WHEN n_params > 3 THEN 0.7 ELSE 1.0 END)
                          * (CASE WHEN spam THEN 0.1 ELSE 1.0 END))::DOUBLE, 4)
                       AS quality,
                   ((doc_id % 50) % 11 = 0) AS blocked
            FROM f
        """,
        "minhash": f"""
            WITH sh AS (
              -- min() is duplicate-insensitive, so no DISTINCT needed here
              SELECT doc_id, unnest({shingle_list}) AS sh
              FROM (SELECT doc_id, {toks} AS w FROM documents)
            ),
            hashed AS (
              SELECT doc_id,
                     ('0x' || substr(md5(sh), 1, 15))::BIGINT AS a,
                     ('0x' || substr(md5(sh), 17, 15))::BIGINT | 1 AS b
              FROM sh
            )
            SELECT doc_id, {minhash_aggs} FROM hashed GROUP BY doc_id
        """,
        "neardup_jaccard": f"""
            WITH docs2 AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 1000000000 AS doc_id, text
              FROM documents WHERE doc_id % 10 = 0
            ),
            sh AS (
              SELECT DISTINCT doc_id, unnest({shingle_list}) AS sh
              FROM (SELECT doc_id, {toks} AS w FROM docs2)
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(common / (sa.sz + sb.sz - common), 4) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(common / (sa.sz + sb.sz - common), 4) >= 0.05
        """,
        "simhash16": f"""
            WITH words AS (
              SELECT doc_id,
                     ('0x' || substr(md5(unnest({toks})), 1, 15))::BIGINT AS h
              FROM documents
            ),
            sums AS (SELECT doc_id, {simhash16_sums} FROM words GROUP BY doc_id)
            SELECT doc_id, {simhash16_fp} AS simhash FROM sums
        """,
        "robots_parse": """
            WITH hosts AS (
              SELECT doc_id, 'h' || doc_id::VARCHAR || '.test' AS host,
                     ((doc_id % 5) + 1)::DOUBLE AS crawl_delay,
                     '/p' || (doc_id % 3)::VARCHAR AS p
              FROM documents WHERE doc_id % 20 = 0
            )
            SELECT host, 0::BIGINT AS rule_order, false AS allow,
                   p AS path_prefix, round(crawl_delay, 4) AS crawl_delay
            FROM hosts
            UNION ALL
            SELECT host, 1::BIGINT, true, p || '/ok', round(crawl_delay, 4)
            FROM hosts
        """,
        "cosine_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(embedding,
                        (SELECT embedding FROM embeddings WHERE vec_id = 0)), 4)
                   AS cosine
            FROM embeddings
            ORDER BY cosine DESC, vec_id ASC LIMIT 20
        """,
        "embed_norm": """
            SELECT vec_id,
                   round(sqrt(list_sum(list_transform(embedding,
                        x -> x::DOUBLE * x::DOUBLE))), 4) AS l2_norm
            FROM embeddings
        """,
        "minhash_lsh_pairs": f"""
            WITH docs2 AS ({lsh_docs2}),
            sh AS (
              SELECT doc_id, unnest({shingle_list}) AS sh
              FROM (SELECT doc_id, {toks} AS w FROM docs2)
            ),
            hashed AS (
              SELECT doc_id,
                     ('0x' || substr(md5(sh), 1, 15))::BIGINT AS a,
                     ('0x' || substr(md5(sh), 17, 15))::BIGINT | 1 AS b
              FROM sh
            ),
            sig AS (SELECT doc_id, {minhash_aggs} FROM hashed GROUP BY doc_id),
            banded AS (
              {band_keys}
            )
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
        """,
        "jaccard_lsh": f"""
            WITH docs2 AS ({lsh_docs2}),
            sh AS (
              SELECT doc_id, unnest({shingle_list}) AS sh
              FROM (SELECT doc_id, {toks} AS w FROM docs2)
            ),
            hashed AS (
              SELECT doc_id,
                     ('0x' || substr(md5(sh), 1, 15))::BIGINT AS a,
                     ('0x' || substr(md5(sh), 17, 15))::BIGINT | 1 AS b
              FROM sh
            ),
            sig AS (SELECT doc_id, {minhash_aggs} FROM hashed GROUP BY doc_id),
            banded AS (
              {band_keys}
            ),
            pairs AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
              FROM banded l JOIN banded r
                ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
            ),
            shl AS (
              SELECT doc_id, list_distinct({shingle_list}) AS shl
              FROM (SELECT doc_id, {toks} AS w FROM docs2)
            ),
            rated AS (
              SELECT p.id_a, p.id_b,
                     round(
                       len(list_intersect(a.shl, b.shl))
                       / greatest(len(a.shl) + len(b.shl)
                                  - len(list_intersect(a.shl, b.shl)), 1),
                       4) AS jaccard
              FROM pairs p
              JOIN shl a ON p.id_a = a.doc_id
              JOIN shl b ON p.id_b = b.doc_id
            )
            SELECT id_a, id_b, jaccard FROM rated WHERE jaccard >= 0.05
        """,
        "neardup_edit": f"""
            WITH docs2 AS ({edit_docs2}),
            sh AS (
              SELECT doc_id, unnest({shingle_list}) AS sh
              FROM (SELECT doc_id, {toks} AS w FROM docs2)
            ),
            hashed AS (
              SELECT doc_id,
                     ('0x' || substr(md5(sh), 1, 15))::BIGINT AS a,
                     ('0x' || substr(md5(sh), 17, 15))::BIGINT | 1 AS b
              FROM sh
            ),
            sig AS (SELECT doc_id, {minhash_aggs} FROM hashed GROUP BY doc_id),
            banded AS (
              {band_keys}
            ),
            pairs AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
              FROM banded l JOIN banded r
                ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
            )
            SELECT p.id_a, p.id_b,
                   levenshtein(a.text, b.text)::BIGINT AS edit_dist
            FROM pairs p
            JOIN docs2 a ON p.id_a = a.doc_id
            JOIN docs2 b ON p.id_b = b.doc_id
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE docs2 AS ({lsh_docs2}),
            sh AS (
              SELECT doc_id, unnest({shingle_list}) AS sh
              FROM (SELECT doc_id, {toks} AS w FROM docs2)
            ),
            hashed AS (
              SELECT doc_id,
                     ('0x' || substr(md5(sh), 1, 15))::BIGINT AS a,
                     ('0x' || substr(md5(sh), 17, 15))::BIGINT | 1 AS b
              FROM sh
            ),
            sig AS (SELECT doc_id, {minhash_aggs} FROM hashed GROUP BY doc_id),
            banded AS (
              {band_keys}
            ),
            pairs AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
              FROM banded l JOIN banded r
                ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ),
            reach(id, label) AS (
              SELECT doc_id, doc_id FROM docs2
              UNION
              SELECT e.dst, r.label FROM reach r JOIN edges e ON r.id = e.src
            )
            SELECT id AS doc_id, min(label) AS cluster_id
            FROM reach GROUP BY id
        """,
        "simhash_neardup": f"""
            WITH docs2 AS ({lsh_docs2}),
            words AS (
              SELECT doc_id,
                     ('0x' || substr(md5(unnest({toks})), 1, 15))::BIGINT AS h
              FROM docs2
            ),
            sums AS (SELECT doc_id, {sim60_sums} FROM words GROUP BY doc_id),
            sh AS (SELECT doc_id, {sim60_fp} AS simhash FROM sums),
            -- 6 bands x 10 bits: recall guaranteed to hamming <= 5 (the
            -- operator's default contract; harness filters at 4)
            banded AS (
              SELECT doc_id, simhash, band,
                     (simhash >> (band * 10)) & 1023 AS key
              FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5]) AS band)
            )
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                   bit_count(xor(l.simhash, r.simhash))::BIGINT AS hamming
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
            WHERE bit_count(xor(l.simhash, r.simhash)) <= 4
        """,
        "media_dedup": """
            -- DuckDB's md5 takes VARCHAR only; the Spark side hashes the
            -- UTF-8 payload BINARY, and md5(VARCHAR) hashes the same UTF-8
            -- bytes, so the digests agree by construction
            WITH m AS (
              SELECT 'img://' || doc_id::VARCHAR AS media_id, text
              FROM documents
              UNION ALL
              SELECT 'mirror://' || doc_id::VARCHAR AS media_id, text
              FROM documents WHERE doc_id % 5 = 0
            ),
            h AS (SELECT media_id, md5(text) AS payload_md5 FROM m),
            k AS (SELECT payload_md5, min(media_id) AS keeper_id
                  FROM h GROUP BY 1)
            SELECT media_id, payload_md5, keeper_id,
                   media_id = keeper_id AS kept
            FROM h JOIN k USING (payload_md5)
        """,
        "cdc_chunks": """
            -- content-defined chunking: md5-window cut points, identical
            -- boundary hash + chunk digests as the Spark operator; the
            -- shifted copies re-align after the inserted preamble
            WITH docs2 AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000000 AS doc_id,
                     'INSERTED PREAMBLE ' || text AS text
              FROM documents WHERE doc_id % 5 = 0
            ),
            d AS (SELECT doc_id, text, length(text) AS n FROM docs2),
            b AS (SELECT doc_id, text, n,
              list_concat(list_concat([0],
                list_filter(range(8, n),
                  i -> ('0x' || substr(md5(substr(text, i - 7, 8)),
                                       1, 15))::BIGINT % 64 = 0)),
                [n]) AS bounds
              FROM d)
            SELECT doc_id, k::BIGINT AS chunk_idx,
                   (bounds[k+2] - bounds[k+1])::BIGINT AS chunk_len,
                   md5(substr(text, bounds[k+1] + 1,
                              bounds[k+2] - bounds[k+1])) AS chunk_md5
            FROM b, UNNEST(range(0, len(bounds) - 1)) AS r(k)
            WHERE n > 0
        """,
        "cdc_ratio": """
            WITH docs2 AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000000 AS doc_id,
                     'INSERTED PREAMBLE ' || text AS text
              FROM documents WHERE doc_id % 5 = 0
            ),
            d AS (SELECT doc_id, text, length(text) AS n FROM docs2),
            b AS (SELECT doc_id, text, n,
              list_concat(list_concat([0],
                list_filter(range(8, n),
                  i -> ('0x' || substr(md5(substr(text, i - 7, 8)),
                                       1, 15))::BIGINT % 64 = 0)),
                [n]) AS bounds
              FROM d),
            ch AS (
              SELECT (bounds[k+2] - bounds[k+1])::BIGINT AS chunk_len,
                     md5(substr(text, bounds[k+1] + 1,
                                bounds[k+2] - bounds[k+1])) AS chunk_md5
              FROM b, UNNEST(range(0, len(bounds) - 1)) AS r(k)
              WHERE n > 0
            ),
            per AS (SELECT chunk_md5, min(chunk_len) AS _len,
                           count(*) AS _copies
                    FROM ch GROUP BY chunk_md5)
            SELECT sum(_len * _copies)::BIGINT AS total_bytes,
                   sum(_len)::BIGINT AS unique_bytes,
                   round(1 - sum(_len) /
                         greatest(sum(_len * _copies), 1), 4) AS dedup_ratio
            FROM per
        """,
        "dedup_spans": """
            -- exact-substring span removal: same 8-token grams, 60-bit
            -- md5-prefix hashes, min-doc_id keeper, cut-covered-indices
            -- rebuild as the Spark operator; planted passage + verbatim
            -- copies mirror q_dedup_spans exactly
            WITH docs0 AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN text ||
                       ' zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10'
                     ELSE text END AS text
              FROM documents
            ),
            docs2 AS (
              SELECT doc_id, text FROM docs0
              UNION ALL
              SELECT doc_id + 1000000000 AS doc_id, text
              FROM docs0 WHERE doc_id % 10 = 0
            ),
            d AS (SELECT doc_id,
                         string_split_regex(trim(text), '\\s+') AS w
                  FROM docs2),
            g AS (
              SELECT doc_id, i - 1 AS pos,
                     ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')),
                                     1, 15))::BIGINT AS h
              FROM d, UNNEST(range(1, len(w) - 8 + 2)) AS r(i)
            ),
            s AS (SELECT h, min(doc_id) AS keeper, max(doc_id) AS maxd
                  FROM g GROUP BY h),
            f AS (SELECT g.doc_id, g.pos
                  FROM g JOIN s USING (h)
                  WHERE s.keeper <> s.maxd AND g.doc_id <> s.keeper),
            touched AS (SELECT DISTINCT doc_id FROM f),
            cov AS (SELECT DISTINCT doc_id, pos + o AS idx
                    FROM f, UNNEST(range(0, 8)) AS r2(o)),
            tk AS (SELECT d.doc_id, i - 1 AS idx, w[i] AS tok
                   FROM d JOIN touched USING (doc_id),
                        UNNEST(range(1, len(w) + 1)) AS r3(i)),
            kept AS (SELECT t.doc_id, t.idx, t.tok
                     FROM tk t LEFT JOIN cov c
                       ON t.doc_id = c.doc_id AND t.idx = c.idx
                     WHERE c.doc_id IS NULL),
            reb AS (SELECT doc_id,
                           string_agg(tok, ' ' ORDER BY idx) AS clean_text,
                           count(*) AS n_kept
                    FROM kept GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE WHEN touched.doc_id IS NULL
                        THEN array_to_string(d.w, ' ')
                        ELSE coalesce(reb.clean_text, '') END AS clean_text,
                   len(d.w)::BIGINT AS n_tokens,
                   (CASE WHEN touched.doc_id IS NULL THEN 0
                         ELSE len(d.w) - coalesce(reb.n_kept, 0)
                    END)::BIGINT AS n_removed
            FROM d
            LEFT JOIN touched USING (doc_id)
            LEFT JOIN reb USING (doc_id)
        """,
        "winnow": f"""
            WITH d AS (SELECT doc_id, {toks} AS w FROM documents),
            g AS (
              SELECT doc_id,
                     list_transform({shingle4_list},
                       s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
              FROM d
            ),
            sel AS (
              -- list_distinct can't histogram structs in DuckDB; dedup at
              -- the row level below instead (same set as Spark's
              -- array_distinct over the struct array)
              SELECT doc_id,
                     list_transform(
                       range(1, greatest(len(hs) - 3, 0) + 1),
                       i -> {{
                         'pos': (i - 1
                                 + list_position(hs[i:i+3],
                                                 list_min(hs[i:i+3]))
                                 - 1)::BIGINT,
                         'fp': list_min(hs[i:i+3])
                       }}) AS fps
              FROM g
            )
            SELECT DISTINCT doc_id, (s).pos AS pos, (s).fp AS fp
            FROM (SELECT doc_id, unnest(fps) AS s FROM sel)
        """,
        "top_ngrams": f"""
            WITH sh AS (
              SELECT doc_id, unnest({shingle2_list}) AS ngram
              FROM (SELECT doc_id, {toks} AS w FROM documents)
            )
            SELECT ngram, count(*)::BIGINT AS freq,
                   count(DISTINCT doc_id)::BIGINT AS n_docs
            FROM sh GROUP BY ngram
            ORDER BY freq DESC, ngram ASC LIMIT 50
        """,
        "tfidf_keywords": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS term
              FROM documents
            ),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                   FROM tok GROUP BY 1, 2),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
            s AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     round(tf.tf * ln(nn.n / dfq.df), 4) AS tfidf
              FROM tf JOIN dfq USING (term), nn
            ),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
              FROM s
            )
            SELECT doc_id, term, tf, tfidf, rank::BIGINT AS rank
            FROM r WHERE rank <= 3
        """,
        "span_stats": f"""
            WITH d AS (
              SELECT doc_id, {toks} AS w FROM documents
            ),
            h AS (
              SELECT doc_id,
                     length(array_to_string(w[1:len(w)//2], ' '))
                     + length(array_to_string(w[len(w)//2+1:len(w)], ' '))
                       AS text_chars
              FROM d
            )
            SELECT doc_id, 'text' AS kind, 2::BIGINT AS n_spans,
                   text_chars::BIGINT AS text_chars,
                   0::BIGINT AS n_media_refs, 2::BIGINT AS max_offset
            FROM h
            UNION ALL
            SELECT doc_id, 'media' AS kind, 1::BIGINT, 0::BIGINT,
                   1::BIGINT, 1::BIGINT
            FROM d
        """,
        "para_dedup": f"""
            WITH d AS (
              SELECT doc_id,
                     text || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) || chr(10)
                            || 'subscribe to our newsletter today'
                       ELSE '' END AS text
              FROM documents
            ),
            p AS (
              -- parallel unnests zip elementwise in DuckDB: pos + para
              SELECT doc_id,
                     unnest(range(1, len(ps) + 1)) - 1 AS pos,
                     unnest(ps) AS para
              FROM (SELECT doc_id,
                           string_split(text, chr(10) || chr(10)) AS ps
                    FROM d) t
            ),
            kept AS (
              SELECT doc_id, pos, para FROM (
                SELECT doc_id, pos, para,
                       row_number() OVER (PARTITION BY md5(para)
                                          ORDER BY doc_id, pos) AS rn
                FROM p
              ) WHERE rn = 1
            ),
            reb AS (
              SELECT doc_id,
                     string_agg(para, chr(10) || chr(10) ORDER BY pos)
                       AS text_dedup,
                     count(*)::BIGINT AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(reb.text_dedup, '') AS text_dedup,
                   len(string_split(d.text, chr(10) || chr(10)))::BIGINT
                     AS n_paras,
                   coalesce(reb.n_kept, 0)::BIGINT AS n_kept
            FROM d LEFT JOIN reb USING (doc_id)
        """,
        "corpus_diff": f"""
            WITH o AS (
              SELECT doc_id, {fp} AS f
              FROM documents WHERE doc_id % 11 <> 0
            ),
            nw AS (
              SELECT doc_id, {fp} AS f FROM (
                SELECT doc_id,
                       text || CASE WHEN doc_id % 7 = 0 THEN ' edited'
                               ELSE '' END AS text
                FROM documents WHERE doc_id % 13 <> 0
              )
            )
            SELECT doc_id,
                   CASE WHEN o.f IS NULL THEN 'added'
                        WHEN nw.f IS NULL THEN 'removed'
                        WHEN o.f = nw.f THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM o FULL OUTER JOIN nw USING (doc_id)
        """,
        "domain_cap": f"""
            WITH base AS (
              SELECT doc_id, source, len({toks})::BIGINT AS n_tokens,
                     ('0x' || substr(md5('cap|' || doc_id::VARCHAR), 1, 15))
                       ::BIGINT % 1000000 AS h
              FROM documents
            )
            SELECT doc_id, source, n_tokens,
                   (sum(n_tokens) OVER (
                      PARTITION BY source ORDER BY h, doc_id
                      ROWS UNBOUNDED PRECEDING) - n_tokens) < 2000 AS kept
            FROM base
        """,
        "domain_cap_sampled": f"""
            WITH base AS (
              SELECT doc_id, source, len({toks})::BIGINT AS n_tokens
              FROM documents
            ),
            tot AS (
              SELECT source, sum(n_tokens)::DOUBLE AS dt
              FROM base GROUP BY source
            )
            SELECT doc_id, source, n_tokens,
                   (('0x' || substr(md5('cap|' || doc_id::VARCHAR), 1, 15))
                      ::BIGINT % 1000000)
                   < round(least(1.0, 2000.0 / dt) * 1000000, 0) AS kept
            FROM base JOIN tot USING (source)
        """,
        "dsir": f"""
            WITH d AS (SELECT doc_id, {toks} AS w FROM documents),
            f AS (
              SELECT doc_id,
                     ('0x' || substr(md5(sh), 1, 15))::BIGINT % 1024 AS bucket
              FROM (SELECT doc_id, unnest({shingle2_list}) AS sh FROM d)
            ),
            tc AS (SELECT bucket, count(*) AS t_cnt FROM f
                   WHERE doc_id % 13 = 1 GROUP BY bucket),
            rc AS (SELECT bucket, count(*) AS r_cnt FROM f GROUP BY bucket),
            tt AS (SELECT sum(t_cnt)::DOUBLE AS t FROM tc),
            rt AS (SELECT sum(r_cnt)::DOUBLE AS r FROM rc),
            w AS (
              SELECT rc.bucket,
                     ln((coalesce(tc.t_cnt, 0) + 1.0) / (tt.t + 1024.0))
                     - ln((rc.r_cnt + 1.0) / (rt.r + 1024.0)) AS w
              FROM rc LEFT JOIN tc USING (bucket), tt, rt
            )
            SELECT f.doc_id, count(*)::BIGINT AS n_feats,
                   round(avg(w.w), 4) AS dsir_score
            FROM f JOIN w USING (bucket)
            GROUP BY f.doc_id
        """,
        "clf_quality": f"""
            WITH wt AS (
              SELECT b AS bucket,
                     round(((('0x' || substr(md5('clf|' || b::VARCHAR), 1, 15))
                             ::BIGINT % 2001) - 1000) / 1000.0, 4) AS w
              FROM range(1024) r(b)
            ),
            tok AS (
              SELECT doc_id,
                     ('0x' || substr(md5(t), 1, 15))::BIGINT % 1024 AS bucket
              FROM (SELECT doc_id, unnest({toks}) AS t FROM documents)
            ),
            s AS (
              -- decimal(20,6) sum is exact -> order-independent, matching
              -- the Spark side's quantized aggregation bit-for-bit (the
              -- score is the exact SUM/logit, not a mean: a division's
              -- halfway cases round differently across engines)
              SELECT doc_id, count(*)::BIGINT AS n_tokens,
                     round(sum(coalesce(wt.w, 0)::DECIMAL(20,6))::DOUBLE, 4)
                         AS clf_score
              FROM tok LEFT JOIN wt USING (bucket)
              GROUP BY doc_id
            )
            SELECT doc_id, n_tokens, clf_score, clf_score > 0 AS clf_label
            FROM s
        """,
        "semdedup": f"""
            WITH emb2 AS (
              SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings WHERE vec_id % 10 = 0
              UNION ALL
              SELECT vec_id + 1000000000 AS vec_id,
                     list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings WHERE vec_id % 10 = 0
            ),
            cent AS (
              SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
                       AS idx, v
              FROM (SELECT vec_id, v FROM emb2
                    ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8)
            ),
            assigned AS (
              SELECT vec_id, v, idx AS cluster_id FROM (
                SELECT e.vec_id, e.v, c.idx,
                       row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY list_dot_product(e.v, c.v)
                                  / (sqrt(list_dot_product(c.v, c.v))
                                     * sqrt(list_dot_product(e.v, e.v))) DESC,
                                  c.idx ASC
                       ) AS rn
                FROM emb2 e CROSS JOIN cent c
              ) WHERE rn = 1
            ),
            dropped AS (
              SELECT DISTINCT l.vec_id
              FROM assigned l JOIN assigned r
                ON l.cluster_id = r.cluster_id AND l.vec_id > r.vec_id
              WHERE {cos.format(a="l.v", b="r.v")} >= 0.98
            )
            SELECT a.vec_id, a.cluster_id::BIGINT AS cluster_id,
                   (dr.vec_id IS NULL) AS kept
            FROM assigned a LEFT JOIN dropped dr ON a.vec_id = dr.vec_id
        """,
        "kmeans": kmeans_trajectory_sql(k=8, n_iter=2),
        "bpe": bpe_trajectory_sql(n_merges=4),
        "hits": hits_trajectory_sql(n_iter=3),
        "hll": f"""
            WITH tok AS (
              SELECT l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR
                       AS t
              FROM lineitem
            ),
            h AS (SELECT ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
                  FROM tok),
            regs AS (
              SELECT h & 1023 AS bucket,
                     max(CASE WHEN (h >> 10) = 0 THEN 51
                              ELSE 50 - length(bin(h >> 10)) + 1
                         END)::INT AS rho
              FROM h GROUP BY 1
            ),
            a AS (SELECT count(*)::BIGINT AS p,
                         sum(power(2.0, -rho)) AS s FROM regs)
            SELECT 1024::BIGINT AS m, (1024 - p)::BIGINT AS v_empty,
                   round(CASE WHEN (0.7213 / (1.0 + 1.079 / 1024.0))
                                   * 1024 * 1024 / (s + (1024 - p))
                                   <= 2.5 * 1024
                              AND (1024 - p) > 0
                         THEN 1024.0 * ln(1024.0 / (1024 - p))
                         ELSE (0.7213 / (1.0 + 1.079 / 1024.0))
                              * 1024 * 1024 / (s + (1024 - p))
                         END, 4) AS est
            FROM a
        """,
        "weighted_sample": f"""
            WITH d AS (
              SELECT doc_id, len({toks})::BIGINT AS n_tokens FROM documents
            )
            SELECT doc_id, n_tokens,
                   round(pow(
                     (('0x' || substr(md5('bench|' || doc_id::VARCHAR),
                                      1, 15))::BIGINT + 1)
                       / 1152921504606846976.0,
                     1.0 / n_tokens), 12) AS _rank
            FROM d WHERE n_tokens > 0
            ORDER BY _rank DESC, doc_id LIMIT 100
        """,
        "cms": """
            WITH vals AS (SELECT l_partkey::VARCHAR AS k FROM lineitem),
            rows AS (SELECT unnest([0, 1, 2, 3]) AS row),
            tab AS (
              SELECT row,
                     ('0x' || substr(md5(row::VARCHAR || '|' || k), 1, 15))
                       ::BIGINT % 1024 AS bucket,
                     count(*)::BIGINT AS cnt
              FROM vals, rows GROUP BY 1, 2
            ),
            probe AS (
              SELECT k, row,
                     ('0x' || substr(md5(row::VARCHAR || '|' || k), 1, 15))
                       ::BIGINT % 1024 AS bucket
              FROM (SELECT DISTINCT k FROM vals), rows
            )
            SELECT p.k, min(coalesce(t.cnt, 0))::BIGINT AS est
            FROM probe p LEFT JOIN tab t USING (row, bucket)
            GROUP BY p.k
        """,
        "sim_join": f"""
            -- independent algorithm ON PURPOSE: brute-force all-pairs
            -- (no prefix filter) so a completeness bug cannot self-confirm
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text || ' plantedtoken'
              FROM documents WHERE doc_id % 10 = 0
            ),
            w AS (SELECT doc_id, {toks} AS w FROM corpus),
            s AS (
              SELECT doc_id,
                     list_filter(list_distinct({shingle_list}),
                                 t -> length(t) > 0) AS tk
              FROM w
            ),
            a AS (SELECT doc_id, tk, len(tk)::BIGINT AS n FROM s
                  WHERE len(tk) > 0)
            SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                   round(len(list_intersect(x.tk, y.tk))::DOUBLE
                         / (x.n + y.n
                            - len(list_intersect(x.tk, y.tk)))::DOUBLE,
                         4) AS jaccard
            FROM a x JOIN a y ON x.doc_id < y.doc_id
            WHERE len(list_intersect(x.tk, y.tk))::DOUBLE
                  / (x.n + y.n - len(list_intersect(x.tk, y.tk)))::DOUBLE
                  >= 0.8
        """,
        "hll_by": """
            WITH tok AS (
              SELECT l_returnflag AS grp,
                     l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR AS t
              FROM lineitem
            ),
            h AS (SELECT grp, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
                  FROM tok),
            regs AS (
              SELECT grp, h & 1023 AS bucket,
                     max(CASE WHEN (h >> 10) = 0 THEN 51
                              ELSE 50 - length(bin(h >> 10)) + 1
                         END)::INT AS rho
              FROM h GROUP BY 1, 2
            ),
            a AS (SELECT grp, count(*)::BIGINT AS p,
                         sum(power(2.0, -rho)) AS s
                  FROM regs GROUP BY 1)
            SELECT grp,
                   round(CASE WHEN (0.7213 / (1.0 + 1.079 / 1024.0))
                                   * 1024 * 1024 / (s + (1024 - p))
                                   <= 2.5 * 1024
                              AND (1024 - p) > 0
                         THEN 1024.0 * ln(1024.0 / (1024 - p))
                         ELSE (0.7213 / (1.0 + 1.079 / 1024.0))
                              * 1024 * 1024 / (s + (1024 - p))
                         END, 4) AS est
            FROM a
        """,
        "text_norm": f"""
            WITH planted AS (
              SELECT doc_id,
                     text || CASE WHEN doc_id % 5 = 0
                                  THEN ' Café—Über, NAÏVE šť!'
                                  ELSE '' END AS t
              FROM documents
            ),
            n AS (
              SELECT doc_id,
                     trim(regexp_replace(regexp_replace(
                       translate(lower(t),
                                 '{T.ACCENT_SRC}',
                                 '{T.ACCENT_DST}'),
                       '[^a-z0-9\\s]', ' ', 'g'),
                       '\\s+', ' ', 'g')) AS norm_text
              FROM planted
            )
            SELECT doc_id, norm_text, md5(norm_text) AS norm_fp FROM n
        """,
        "kmv": """
            WITH tok AS (
              SELECT l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR AS t
              FROM lineitem
            ),
            h AS (SELECT DISTINCT ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
                  FROM tok),
            sk AS (SELECT h FROM h ORDER BY h LIMIT 256),
            a AS (SELECT count(*)::BIGINT AS n_kept, max(h) AS hk FROM sk)
            SELECT n_kept,
                   round(CASE WHEN n_kept < 256 THEN n_kept::DOUBLE
                              ELSE 255.0 / ((hk::DOUBLE + 1.0)
                                            / 1152921504606846976.0)
                         END, 4) AS est
            FROM a
        """,
        "kmv_sets": """
            WITH a AS (
              SELECT h FROM (
                SELECT DISTINCT ('0x' || substr(md5(l_partkey::VARCHAR),
                                                1, 15))::BIGINT AS h
                FROM lineitem) ORDER BY h LIMIT 128
            ),
            b AS (
              SELECT h FROM (
                SELECT DISTINCT ('0x' || substr(md5(p_partkey::VARCHAR),
                                                1, 15))::BIGINT AS h
                FROM part) ORDER BY h LIMIT 128
            ),
            u AS (
              SELECT h, max(ia) AS ia, max(ib) AS ib FROM (
                SELECT h, 1 AS ia, NULL::INT AS ib FROM a
                UNION ALL
                SELECT h, NULL::INT AS ia, 1 AS ib FROM b)
              GROUP BY h ORDER BY h LIMIT 128
            ),
            g AS (SELECT count(*)::BIGINT AS kk, max(h) AS hk,
                         coalesce(sum(CASE WHEN ia = 1 AND ib = 1
                                           THEN 1 ELSE 0 END), 0)::BIGINT AS m
                  FROM u)
            SELECT kk AS k_eff, m AS n_common,
                   round(CASE WHEN kk = 0 THEN 0.0
                              ELSE m::DOUBLE / kk::DOUBLE END, 4)
                     AS jaccard_est,
                   round((CASE WHEN kk = 0 THEN 0.0
                               ELSE m::DOUBLE / kk::DOUBLE END)
                         * (CASE WHEN kk < 128 THEN kk::DOUBLE
                                 ELSE 127.0 / ((hk::DOUBLE + 1.0)
                                               / 1152921504606846976.0)
                            END), 4) AS inter_est,
                   round(CASE WHEN kk < 128 THEN kk::DOUBLE
                              ELSE 127.0 / ((hk::DOUBLE + 1.0)
                                            / 1152921504606846976.0)
                         END, 4) AS union_est
            FROM g
        """,
        "dd_quantiles": f"""
            -- DDSketch replay: the divisor is the SAME python double
            -- literal ln(gamma) the Spark side folds in (alpha = 0.02)
            WITH x AS (SELECT len({toks})::DOUBLE AS x FROM documents),
            sk AS (
              SELECT ceil(round(ln(x) / 0.040005334613699206, 9))::BIGINT
                       AS bucket,
                     count(*)::BIGINT AS cnt
              FROM x WHERE x > 0 GROUP BY 1
            ),
            cum AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum
                    FROM sk),
            n AS (SELECT coalesce(sum(cnt), 0)::BIGINT AS n FROM sk),
            pr AS (SELECT unnest([0.25, 0.5, 0.9, 0.99]) AS p),
            rk AS (SELECT p, n.n AS n,
                          greatest(1, ceil(p * n.n))::BIGINT AS r
                   FROM pr, n),
            hit AS (SELECT rk.p, rk.n, min(cum.bucket) AS i
                    FROM rk LEFT JOIN cum ON cum.cum >= rk.r
                    GROUP BY 1, 2)
            SELECT p, n,
                   CASE WHEN n = 0 THEN NULL
                        ELSE round(2.0 * power(1.0408163265306123, i)
                                   / 2.0408163265306123, 6)
                   END AS est
            FROM hit ORDER BY p
        """,
        "dd_by": f"""
            WITH x AS (SELECT source, len({toks})::DOUBLE AS x
                       FROM documents),
            sk AS (
              SELECT source,
                     ceil(round(ln(x) / 0.040005334613699206, 9))::BIGINT
                       AS bucket,
                     count(*)::BIGINT AS cnt
              FROM x WHERE x > 0 GROUP BY 1, 2
            ),
            cum AS (SELECT source, bucket,
                           sum(cnt) OVER (PARTITION BY source
                                          ORDER BY bucket) AS cum
                    FROM sk),
            n AS (SELECT source, sum(cnt)::BIGINT AS n FROM sk GROUP BY 1),
            pr AS (SELECT source, n, unnest([0.5, 0.9]) AS p FROM n),
            rk AS (SELECT source, p, n,
                          greatest(1, ceil(p * n))::BIGINT AS r FROM pr),
            hit AS (SELECT rk.source, rk.p, rk.n, min(cum.bucket) AS i
                    FROM rk LEFT JOIN cum
                      ON cum.source = rk.source AND cum.cum >= rk.r
                    GROUP BY 1, 2, 3)
            SELECT source, p, n,
                   round(2.0 * power(1.0408163265306123, i)
                         / 2.0408163265306123, 6) AS est
            FROM hit
        """,
        "range_join": """
            -- independent plan on purpose: DuckDB's native IEJoin over a
            -- raw BETWEEN vs Spark's bucketized equi-join rewrite
            WITH clicks AS (
              SELECT event_id AS click_id, user_id, ts FROM events
              WHERE event_type = 'click'
            ),
            errs AS (
              SELECT event_id AS err_id, user_id, ts AS err_ts FROM events
              WHERE event_type = 'error'
            )
            SELECT c.click_id, c.user_id, e.err_id
            FROM clicks c JOIN errs e
              ON c.user_id = e.user_id
             AND c.ts >= e.err_ts
             AND c.ts <= e.err_ts + INTERVAL 600 SECOND
        """,
        "asof": """
            -- independent implementation on purpose: DuckDB's native ASOF
            -- JOIN vs Spark's union + carry-forward window
            WITH l AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click'
            ),
            r AS (
              SELECT user_id, ts AS view_ts, max(event_id) AS view_event_id
              FROM events WHERE event_type = 'view'
              GROUP BY user_id, ts
            )
            SELECT l.event_id, l.user_id, l.ts, r.view_ts, r.view_event_id
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.view_ts
        """,
        "length_quantiles": f"""
            -- independent algorithm on purpose: DuckDB's native
            -- quantile_cont over raw values vs Spark's histogram plan
            -- (quantile_cont only takes constant probs -> one agg each)
            WITH d AS (SELECT source, len({toks})::BIGINT AS v FROM documents),
            qs AS (
              SELECT source,
                     quantile_cont(v, 0.25) AS q25,
                     quantile_cont(v, 0.5)  AS q50,
                     quantile_cont(v, 0.9)  AS q90,
                     quantile_cont(v, 0.99) AS q99
              FROM d GROUP BY source
            )
            SELECT source, p, round(q, 4) AS q FROM (
              SELECT source, 0.25::DOUBLE AS p, q25 AS q FROM qs
              UNION ALL SELECT source, 0.5::DOUBLE, q50 FROM qs
              UNION ALL SELECT source, 0.9::DOUBLE, q90 FROM qs
              UNION ALL SELECT source, 0.99::DOUBLE, q99 FROM qs
            )
        """,
        "embed_neardup": f"""
            WITH emb2 AS (
              SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings WHERE vec_id % 10 = 0
              UNION ALL
              SELECT vec_id + 1000000000 AS vec_id,
                     list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings WHERE vec_id % 10 = 0
            ),
            b AS (SELECT vec_id, v, {bucket_expr("v", planes8)} AS bucket FROM emb2)
            SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b,
                   {cos.format(a="l.v", b="r.v")} AS cosine
            FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
            WHERE {cos.format(a="l.v", b="r.v")} >= 0.98
        """,
        "embed_neardup_multi": f"""
            WITH emb2 AS (
              SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings WHERE vec_id % 10 = 0
              UNION ALL
              SELECT vec_id + 1000000000 AS vec_id,
                     list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings WHERE vec_id % 10 = 0
            ),
            b AS (
              SELECT vec_id, v, 0 AS tbl,
                     {bucket_expr("v", planes16[:8])} AS bucket FROM emb2
              UNION ALL
              SELECT vec_id, v, 1 AS tbl,
                     {bucket_expr("v", planes16[8:])} AS bucket FROM emb2
            )
            SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b,
                   {cos.format(a="l.v", b="r.v")} AS cosine
            FROM b l JOIN b r
              ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id
            WHERE {cos.format(a="l.v", b="r.v")} >= 0.98
        """,
        "ann_lsh": f"""
            WITH emb AS (
              SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings
            ),
            q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
            qb AS (SELECT {bucket_expr("qv", planes6)} AS qbits FROM q)
            -- multiprobe: the query bucket plus every 1-bit-flip neighbor
            SELECT vec_id, {cos.format(a="v", b="qv")} AS cosine
            FROM emb, q, qb
            WHERE {bucket_expr("v", planes6)} IN
                  (qbits, {", ".join(f"xor(qbits, {1 << p})" for p in range(6))})
            ORDER BY cosine DESC, vec_id ASC LIMIT 20
        """,
        "ann_ivf": f"""
            WITH emb AS (
              SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings
            ),
            q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
            cent AS (
              SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
                       AS idx, v
              FROM (SELECT vec_id, v FROM emb
                    ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16)
            ),
            probe AS (
              SELECT idx FROM cent, q
              ORDER BY list_dot_product(cent.v, qv)
                       / (sqrt(list_dot_product(cent.v, cent.v))
                          * sqrt(list_dot_product(qv, qv))) DESC, idx ASC
              LIMIT 4
            ),
            assigned AS (
              SELECT vec_id, v FROM (
                SELECT e.vec_id, e.v, c.idx,
                       row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY list_dot_product(e.v, c.v)
                                  / (sqrt(list_dot_product(c.v, c.v))
                                     * sqrt(list_dot_product(e.v, e.v))) DESC,
                                  c.idx ASC
                       ) AS rn
                FROM emb e CROSS JOIN cent c
              ) WHERE rn = 1 AND idx IN (SELECT idx FROM probe)
            )
            SELECT vec_id, {cos.format(a="v", b="qv")} AS cosine
            FROM assigned, q
            ORDER BY cosine DESC, vec_id ASC LIMIT 20
        """,
        "multimodal_features": f"""
            WITH m AS (
              SELECT 'img://' || doc_id::VARCHAR AS media_id,
                     md5(text) AS d,
                     strlen(text)::BIGINT AS n_bytes
              FROM documents
            )
            SELECT media_id, n_bytes,
                   (64 + ('0x' || substr(d, 1, 2))::INT % 192)::INTEGER AS width,
                   (64 + ('0x' || substr(d, 3, 2))::INT % 192)::INTEGER AS height,
                   {mm_feats}
            FROM m
        """,
        "media_resize": """
            SELECT 'img://' || doc_id::VARCHAR AS media_id,
                   (64 + ('0x' || substr(md5(text), 1, 2))::INT % 192)::INTEGER
                       AS orig_width,
                   (64 + ('0x' || substr(md5(text), 3, 2))::INT % 192)::INTEGER
                       AS orig_height,
                   32::INTEGER AS width, 32::INTEGER AS height,
                   upper(md5(text || '|resize:32x32')) AS payload_hex
            FROM documents
        """,
        "frame_sample": f"""
            WITH d AS (
              SELECT 'img://' || doc_id::VARCHAR AS media_id, text,
                     (1 + ('0x' || substr(md5(text), 5, 2))::INT % 16)::BIGINT
                         AS n_frames
              FROM documents
            ),
            fr AS (
              SELECT media_id, n_frames, text,
                     unnest(range(0, n_frames, 2)) AS frame_index
              FROM d
            ),
            h AS (
              SELECT media_id, n_frames, frame_index,
                     md5(text || '|frame:' || frame_index::VARCHAR) AS fd
              FROM fr
            )
            SELECT media_id, n_frames, frame_index,
                   {mm_feats.replace("substr(d,", "substr(fd,")}
            FROM h
        """,
    }
    # the build-once LSH index is RESULT-identical to the one-shot path by
    # contract, so it shares the base oracle — the harness then
    # independently proves the index against the same ground truth
    d["ann_lsh_indexed"] = d["ann_lsh"]
    # e2e dedup = the cluster closure + keeper/size annotation (kept = the
    # cluster's min id, which IS cluster_id by construction)
    d["dedup_e2e"] = f"""
        WITH comp AS ({d["dedup_clusters"]})
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size,
               (doc_id = cluster_id) AS kept
        FROM comp
    """
    # crawl-trap entries share one synthetic frontier (q_trap_params doc)
    trap_fr = """
        SELECT 'h' || (doc_id % 20)::VARCHAR || '.test' AS host,
               'https://h' || (doc_id % 20)::VARCHAR || '.test/a/p'
               || (doc_id % 5)::VARCHAR
               || (CASE WHEN (doc_id % 20) % 5 = 0
                        THEN '?sid=s' || doc_id::VARCHAR
                             || '&page=' || (doc_id % 7)::VARCHAR
                        WHEN doc_id % 3 = 0
                        THEN '?page=' || (doc_id % 7)::VARCHAR
                        ELSE '' END) AS url
        FROM documents
    """
    trap_stats = f"""
        fr AS ({trap_fr}),
        kv AS (
          SELECT host, url,
                 unnest(string_split(substr(url, position('?' IN url) + 1),
                                     '&')) AS kv
          FROM fr WHERE contains(url, '?')
        ),
        pairs AS (
          SELECT host, url, split_part(kv, '=', 1) AS param,
                 CASE WHEN contains(kv, '=')
                      THEN substr(kv, position('=' IN kv) + 1)
                      ELSE '' END AS value
          FROM kv WHERE kv <> ''
        ),
        st AS (
          SELECT host, param, count(DISTINCT url)::BIGINT AS n_urls,
                 count(DISTINCT value)::BIGINT AS n_values
          FROM pairs GROUP BY host, param
        )
    """
    d["trap_params"] = f"""
        WITH {trap_stats}
        SELECT host, param, n_urls, n_values,
               round(n_values / n_urls, 4) AS value_ratio,
               (n_urls >= 12 AND n_values / n_urls >= 0.5) AS is_trap
        FROM st
    """
    d["trap_collapse"] = f"""
        WITH {trap_stats},
        traps AS (
          SELECT host, list(param) AS tp
          FROM st WHERE n_urls >= 12 AND n_values / n_urls >= 0.5
          GROUP BY host
        ),
        j AS (
          SELECT f.host, f.url,
                 CASE WHEN t.tp IS NULL OR NOT contains(f.url, '?')
                      THEN f.url
                      WHEN len(list_filter(
                             string_split(substr(f.url,
                                 position('?' IN f.url) + 1), '&'),
                             x -> NOT list_contains(t.tp,
                                      split_part(x, '=', 1)))) = 0
                      THEN split_part(f.url, '?', 1)
                      ELSE split_part(f.url, '?', 1) || '?' ||
                           array_to_string(list_filter(
                             string_split(substr(f.url,
                                 position('?' IN f.url) + 1), '&'),
                             x -> NOT list_contains(t.tp,
                                      split_part(x, '=', 1))), '&')
                 END AS cleaned
          FROM fr f LEFT JOIN traps t ON f.host = t.host
        )
        SELECT host, count(DISTINCT url)::BIGINT AS n_before,
               count(DISTINCT cleaned)::BIGINT AS n_after,
               round((count(DISTINCT url) - count(DISTINCT cleaned))
                     / count(DISTINCT url), 4) AS saved_frac
        FROM j GROUP BY host
    """
    # hex-run collapse FIRST (a long digit run is also hex) — ordering is
    # shared with operators/traps.py url_template_col
    d["url_templates"] = """
        WITH fr AS (
          SELECT 'h' || (doc_id % 20)::VARCHAR || '.test' AS host,
                 CASE WHEN (doc_id % 20) % 5 = 0
                      THEN 'https://h' || (doc_id % 20)::VARCHAR
                           || '.test/s/' || md5(doc_id::VARCHAR)
                      ELSE 'https://h' || (doc_id % 20)::VARCHAR
                           || '.test/p' || (doc_id % 40)::VARCHAR
                 END AS url
          FROM documents
        ),
        t AS (
          SELECT host, url,
                 regexp_replace(regexp_replace(url, '[0-9a-fA-F]{8,}', '#',
                                               'g'),
                                '[0-9]{6,}', '#', 'g') AS tmpl
          FROM fr
        ),
        pt AS (
          SELECT host, tmpl, count(DISTINCT url)::BIGINT AS cnt
          FROM t GROUP BY host, tmpl
        ),
        ph AS (
          SELECT host, sum(cnt)::BIGINT AS n_urls,
                 count(*)::BIGINT AS n_templates, max(cnt)::BIGINT AS top
          FROM pt GROUP BY host
        )
        SELECT host, n_urls, n_templates,
               round(n_urls / n_templates, 4) AS expansion,
               round(top / n_urls, 4) AS top_share,
               (n_urls >= 10 AND n_urls / n_templates >= 5.0) AS is_trap
        FROM ph
    """
    # Cho & Garcia-Molina TODS'03 bias-reduced estimator replayed from raw
    # visit rows: lag-window change flags -> per-url counts -> the ln
    # formula -> staleness at now=200000. Both engines round the ln/exp
    # outputs to 8dp so a last-ulp libm difference cannot flip the hash.
    d["change_rate"] = """
        WITH v AS (
          SELECT 'https://h' || (doc_id % 50)::VARCHAR || '.test/p'
                 || doc_id::VARCHAR AS url,
                 (doc_id % 97)::DOUBLE * 10.0 + k * 3600.0 AS visit_ts,
                 md5(doc_id::VARCHAR || ':' ||
                     (k // (CASE WHEN doc_id % 4 = 0 THEN 1000
                                 WHEN doc_id % 4 = 1 THEN 1
                                 ELSE 2 END))::VARCHAR) AS fingerprint
          FROM (SELECT doc_id,
                       unnest(range(0, CASE WHEN doc_id % 7 = 0
                                            THEN 1 ELSE 4 END)) AS k
                FROM documents)
        ),
        lagd AS (
          SELECT url, visit_ts,
                 CASE WHEN lag(fingerprint) OVER w IS NOT NULL
                           AND fingerprint <> lag(fingerprint) OVER w
                      THEN 1 ELSE 0 END AS chg
          FROM v
          WINDOW w AS (PARTITION BY url ORDER BY visit_ts, fingerprint)
        ),
        st AS (
          SELECT url, count(*)::BIGINT AS n_visits,
                 sum(chg)::BIGINT AS n_changes,
                 max(visit_ts) - min(visit_ts) AS span_sec,
                 max(visit_ts) AS last_ts
          FROM lagd GROUP BY url
        ),
        r AS (
          SELECT *,
                 CASE WHEN n_visits >= 2 AND span_sec > 0
                      THEN round(-ln((n_visits - 1 - n_changes + 0.5)
                                     / (n_visits - 1 + 0.5))
                                 / (span_sec / (n_visits - 1)), 8)
                 END AS change_rate
          FROM st
        )
        SELECT url, n_visits, n_changes, span_sec, last_ts, change_rate,
               CASE WHEN change_rate IS NOT NULL
                    THEN round(1.0 - exp(-change_rate *
                             greatest(200000.0 - last_ts, 0.0)), 8)
               END AS recrawl_priority
        FROM r
    """
    return d
