"""Structured-Streaming face of the engine (SURVEY.md §2.9, §7.5).

The crawl loop itself is a deterministic driver loop — the semantic
equivalent of ``Trigger.AvailableNow`` micro-batches with the frontier as
the stream and the snapshot catalog as the state store (engine.py). This
module adds the two genuinely streaming-shaped pieces:

- ``stream_crawl``: a readStream/foreachBatch wrapper that drives
  CrawlEngine rounds off a trigger stream (rate source or file drops) —
  the shape you would deploy on a cluster where new seed batches arrive
  continuously;
- ``windowed_fetch_metrics``: event-time tumbling-window aggregation with
  watermarking over a fetch-log stream — the standard late-data pattern
  (replaces the reference's poll-loop job counting, main.py:17-21).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_crawly_spark.engine import CrawlEngine


def windowed_fetch_metrics(
    fetch_log: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming DataFrame of per-window fetch throughput.

    fetch_log: streaming df with (fetched_at timestamp, host string,
    fetch_status int). Works identically on a batch df (for tests the same
    plan runs in both modes — Catalyst handles the incrementalization).
    """
    src = fetch_log
    if src.isStreaming:
        src = src.withWatermark("fetched_at", watermark)
    return src.groupBy(
        F.window("fetched_at", window).alias("win"), F.col("host")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fetches"),
        F.sum((F.col("fetch_status") == 200).cast("int")).cast("bigint").alias("n_ok"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "host",
        "n_fetches",
        "n_ok",
    )


def stream_crawl(
    spark: SparkSession,
    engine: CrawlEngine,
    max_rounds: int | None = None,
    trigger_interval: str = "0 seconds",
):
    """Drive crawl rounds from a Structured Streaming trigger: each
    micro-batch of the rate source fires one engine round until the
    frontier drains. Returns the StreamingQuery (caller awaits/stops).

    This is sugar over engine.run() — state, determinism and resume live in
    the snapshot catalog either way (SURVEY.md §7.5: optional wrapper).
    """
    limit = max_rounds if max_rounds is not None else engine.cfg.max_rounds

    def run_one_round(batch_df: DataFrame, batch_id: int) -> None:
        if (
            engine.round < limit
            and engine.visited_count < engine.cfg.max_pages
            and engine.has_pending()
        ):
            engine.run_round()

    ticks = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    return (
        ticks.writeStream.foreachBatch(run_one_round)
        .trigger(processingTime=trigger_interval)
        .option("checkpointLocation", f"{engine.cfg.warehouse}/_stream_checkpoint")
        .start()
    )


def streaming_dedup(
    docs: DataFrame,
    key_col: str = "fingerprint",
    event_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact first-wins deduplication ACROSS micro-batches — the streaming
    face of dedup.exact_dedup for a continuously-ingesting corpus: the
    first document carrying each ``key_col`` (e.g. functions.text.
    fingerprint of the normalized text) is emitted, every later arrival is
    suppressed by Spark's keyed dedup state.

    State-size discipline, the thing that matters at 10^10 docs: with
    ``event_col`` set, the watermark BOUNDS the state via
    dropDuplicatesWithinWatermark — a key's dedup state is evicted once
    the watermark passes it, so memory is O(keys per watermark window)
    instead of O(all keys ever) (the dropDuplicates-without-watermark
    failure mode: unbounded state growth until the job OOMs; duplicates
    arriving later than the watermark delay are NOT suppressed — that is
    the documented trade). For all-time exactness at scale, the batch
    path (exact_dedup over the accumulated table, or the engine's
    seen-set anti-join) is the right tool; this operator
    is the ingest-time gate.

    Works identically on a batch frame (dropDuplicates without state) so
    tests can assert stream ≡ batch on the same plan.

    Streaming input REQUIRES ``event_col``: silently accepting a
    watermark-less stream would run dropDuplicates with unbounded keyed
    state — exactly the OOM failure mode above, deferred to production.
    There is deliberately no opt-out; all-time dedup belongs on the batch
    path over the accumulated table."""
    if docs.isStreaming:
        if event_col is None:
            raise ValueError(
                "streaming_dedup on a streaming DataFrame requires "
                "event_col: without a watermark the dedup state grows "
                "with every key ever seen (unbounded). For all-time "
                "exactness run the batch path (exact_dedup / the seen "
                "anti-join) over the accumulated table instead."
            )
        docs = docs.withWatermark(event_col, watermark)
        return docs.dropDuplicatesWithinWatermark([key_col])
    return docs.dropDuplicates([key_col])
