"""Fetch stage: the synthetic-web join (SURVEY.md S1/S4/J1).

The reference fetches with requests.get (site_downloader.py:54-63); the
sandbox has no network, so "fetch" = join the round's frontier slice against
the corpus table. Physical strategy:

- the slice is always the small side -> broadcast it; the corpus is streamed;
- when the corpus is parquet partitioned by ``bucket = pmod(xxhash64(doc_id),
  N_BUCKETS)``, the fetch first collects the slice's <=N_BUCKETS distinct
  bucket ids (driver-side, tiny) and prunes the scan with an IN filter —
  partition pruning turns a per-round full-corpus scan into reading only the
  hash ranges the slice can possibly live in. That is the 100-TB design: the
  scan cost tracks the slice, not the corpus.
- misses (slice URLs with no document) surface as null spans -> 404 path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_crawly_spark import schemas as S
from mr_crawly_spark import sizing

N_BUCKETS = 64


def write_bucketed_corpus(documents: DataFrame, path: str, n_buckets: int = N_BUCKETS) -> None:
    """Write documents parquet hash-partitioned by url bucket (scale layout)."""
    (
        documents.withColumn(
            "bucket", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets))
        )
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


class CorpusFetcher:
    def __init__(
        self,
        spark: SparkSession,
        documents: DataFrame | None = None,
        path: str | None = None,
        n_buckets: int = N_BUCKETS,
    ):
        assert (documents is None) != (path is None)
        self.spark = spark
        self.n_buckets = n_buckets
        # in-memory corpora: cut the createDataFrame lineage ONCE (lazy — pays
        # on first fetch). Without this every round's broadcast re-serializes
        # the whole corpus from the driver (measured ~1 s/round in the e2e
        # bench); parquet corpora are already a cheap re-scannable source.
        self.df = (
            documents.localCheckpoint(eager=False)
            if documents is not None
            else spark.read.parquet(path)
        )
        self.bucketed = "bucket" in self.df.columns
        # in-memory (test/bench) corpora are broadcastable -> single left
        # join; parquet corpora use the scale path (prune + inner + anti)
        self.broadcastable = documents is not None and not self.bucketed

    def fetch(self, slice_df: DataFrame, approx_rows: int | None = None) -> DataFrame:
        """slice columns + ``spans`` (null => miss/404). Slice must carry
        url + url_hash.

        ``approx_rows``: caller's cheap upper bound on the slice size (the
        engine passes its driver-tracked pending count). The broadcast hint
        is only FORCED when that bound fits sizing.BROADCAST_ROW_LIMIT;
        otherwise the plan is left to AQE, which converts to broadcast at
        runtime iff the actual built side is small — never an unconditional
        10^8-row broadcast (round-1 verdict #3).
        """
        corp = self.df.select(F.col("doc_id").alias("url"), "spans", *(
            ["bucket"] if self.bucketed else []
        ))
        if self.broadcastable:
            return slice_df.join(F.broadcast(corp), "url", "left")
        if self.bucketed:
            buckets = [
                r[0]
                for r in slice_df.select(
                    F.pmod(F.col("url_hash"), F.lit(self.n_buckets)).alias("b")
                )
                .distinct()
                .collect()
            ]
            corp = corp.filter(F.col("bucket").isin(buckets)).drop("bucket")
        # found: stream the (pruned) corpus, build side = the slice
        found = corp.join(
            sizing.broadcast_if_small(slice_df, approx_rows), "url", "inner"
        )
        missed = slice_df.join(
            sizing.broadcast_if_small(found.select("url"), approx_rows),
            "url",
            "left_anti",
        ).withColumn("spans", F.lit(None).cast(S.DOCUMENTS["spans"].dataType))
        return found.unionByName(missed.select(*found.columns))
