"""Scale-path fetch: bucket-partitioned parquet corpus with pruning must
produce identical crawl results to the in-memory broadcast path."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from mr_crawly_spark.datagen import corpus_to_spark
from mr_crawly_spark.engine import CrawlConfig, CrawlEngine
from mr_crawly_spark.sources.corpus import CorpusFetcher, write_bucketed_corpus
from oracle.crawler import OracleCrawler


def test_bucketed_parquet_fetch_matches_oracle(spark, tiny_corpus, tmp_path):
    docs, robots, sitemaps, seeds = corpus_to_spark(spark, tiny_corpus)
    corpus_path = str(tmp_path / "corpus")
    write_bucketed_corpus(docs, corpus_path, n_buckets=8)

    fetcher = CorpusFetcher(spark, path=corpus_path, n_buckets=8)
    assert fetcher.bucketed and not fetcher.broadcastable  # the scale path

    eng = CrawlEngine(
        spark, fetcher, robots, sitemaps, seeds,
        CrawlConfig(warehouse=tempfile.mkdtemp(prefix="crawl_bk_")),
    )
    eng.run()
    oracle = OracleCrawler(tiny_corpus).run()
    got = [r["url"] for r in eng.crawl_order().orderBy("rank").collect()]
    assert got == oracle.crawl_order
    seen = {r["url"] for r in eng.table("seen").collect()}
    assert seen == oracle.seen


def test_bucket_pruning_reads_only_needed_buckets(spark, tiny_corpus, tmp_path):
    """The fetch plan must contain a bucket IN-filter (partition pruning)."""
    docs, *_ = corpus_to_spark(spark, tiny_corpus)
    corpus_path = str(tmp_path / "corpus2")
    write_bucketed_corpus(docs, corpus_path, n_buckets=8)
    fetcher = CorpusFetcher(spark, path=corpus_path, n_buckets=8)

    one_url = docs.limit(1).collect()[0]["doc_id"]
    slice_df = spark.createDataFrame([(one_url,)], "url string").withColumn(
        "url_hash", F.xxhash64("url")
    )
    fetched = fetcher.fetch(slice_df)
    plan = fetched._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan
    assert fetched.count() == 1
    assert fetched.filter(F.col("spans").isNotNull()).count() == 1


def test_fetch_broadcast_is_size_gated(spark, tiny_corpus, tmp_path):
    """verdict #3: the slice is broadcast only when the caller's row bound
    fits sizing.BROADCAST_ROW_LIMIT; a huge bound leaves the plan to AQE
    instead of force-broadcasting ~10^8 rows through the driver."""
    docs, *_ = corpus_to_spark(spark, tiny_corpus)
    corpus_path = str(tmp_path / "corpus3")
    write_bucketed_corpus(docs, corpus_path, n_buckets=8)
    fetcher = CorpusFetcher(spark, path=corpus_path, n_buckets=8)
    one_url = docs.limit(1).collect()[0]["doc_id"]
    slice_df = spark.createDataFrame([(one_url,)], "url string").withColumn(
        "url_hash", F.xxhash64("url")
    )

    small = fetcher.fetch(slice_df, approx_rows=10)
    plan_small = small._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" in plan_small or "broadcast" in plan_small.lower()

    huge = fetcher.fetch(slice_df, approx_rows=10**9)
    plan_huge = huge._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in plan_huge and "hints=[broadcast]" not in plan_huge
    # results identical either way
    assert small.count() == huge.count() == 1
