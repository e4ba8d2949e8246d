"""Data-selection operators for the training-data pipeline (task brief):
importance-weighted selection and model-based quality scoring, both over
HASHED n-gram features so the feature space is fixed-width at any corpus
size.

- :func:`dsir_scores` — DSIR-style importance resampling score (Xie et
  al. 2023, "Data Selection for Language Models via Importance
  Resampling"): score each raw document by the log-likelihood ratio of its
  hashed bigram features under a small TARGET corpus vs the RAW corpus.
  Selecting the top-scoring (or threshold-sampled) documents shifts the
  raw distribution toward the target domain. Spark-first shape:

    * feature = word bigram -> md5 -> bucket in [0, n_buckets)  (pure JVM);
    * both distributions are ONE map-side-combined aggregation each,
      collapsing to at most n_buckets rows (KBs — broadcastable at any
      corpus size; the raw agg is the only full-corpus pass);
    * the two totals are single driver scalars (same class as BM25's
      stats row), folded into the weight expression as literals;
    * scoring = explode doc buckets -> broadcast-join the weights ->
      per-doc mean. No shuffle of document text, ever.

- :func:`hashed_classifier_scores` — fastText-style linear quality
  classifier (Joulin et al. 2016): score = mean over the document's hashed
  token buckets of a weight vector, label = sign. The weight vector is an
  INPUT table (bucket, w) — a real pipeline loads trained weights (e.g.
  exported from fastText); :func:`deterministic_weights` synthesizes a
  reproducible stand-in so tests and oracles are exact. The scoring plan
  is identical either way: explode -> broadcast join -> groupBy doc
  (map-side combined). n_buckets rows of weights is KBs at the standard
  2^20 bucket count, so the broadcast never becomes the bottleneck.

Both emit exact DuckDB twins in ``__spark_entry__.oracle_sql()`` (same md5
bucket hash, same ln/smoothing arithmetic, round(…,4) outputs).
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mr_crawly_spark.functions.text import shingles, tokens

DSIR_SMOOTHING = 1.0


def feature_bucket(feature: Column, n_buckets: int) -> Column:
    """md5-derived bucket in [0, n_buckets) — identical expression in the
    DuckDB oracle (15 hex chars < 2^60, so signed math never overflows)."""
    h = F.conv(F.substring(F.md5(feature), 1, 15), 16, 10).cast("long")
    return F.pmod(h, F.lit(n_buckets))


def _doc_feature_buckets(
    docs: DataFrame, n_buckets: int, ngram: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, bucket) — one row per n-gram OCCURRENCE (DSIR scores use raw
    counts, not distinct features; a doc repeating a target phrase should
    score higher than one mentioning it once)."""
    feats = (
        shingles(F.col(text_col), ngram)
        if ngram > 1
        else tokens(F.col(text_col))
    )
    return docs.select(
        F.col(id_col), F.explode(feats).alias("_feat")
    ).select(id_col, feature_bucket(F.col("_feat"), n_buckets).alias("bucket"))


def _bucket_counts(feats: DataFrame) -> DataFrame:
    """(bucket, cnt) — map-side-combined; at most n_buckets rows out."""
    return feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    ngram: int = 2,
    smoothing: float = DSIR_SMOOTHING,
    id_col: str = "doc_id",
    text_col: str = "text",
    _raw_feats: DataFrame | None = None,
) -> DataFrame:
    """(bucket, w) importance weights: w = ln p_target(b) − ln p_raw(b)
    with add-``smoothing`` Laplace estimates over ``n_buckets`` hashed
    bigram buckets. Buckets absent from BOTH corpora are omitted (their
    weight is the constant ln(a/(T+aB)) − ln(a/(R+aB)); scoring coalesces
    to it). The only driver data is the two scalar totals.

    ``_raw_feats``: pre-built (and ideally checkpointed) raw-side feature
    buckets, so dsir_scores can share ONE raw-corpus pass between the
    count table and the scoring explode. The two bucket-count tables are
    lazily checkpointed (≤ n_buckets rows each): each feeds its total
    scalar AND the full join, and without the cut the corpus feature pass
    re-ran once per consumer."""
    t = _bucket_counts(
        _doc_feature_buckets(target, n_buckets, ngram, id_col, text_col)
    ).withColumnRenamed("cnt", "t_cnt").localCheckpoint(eager=False)
    raw_feats = (
        _raw_feats
        if _raw_feats is not None
        else _doc_feature_buckets(raw, n_buckets, ngram, id_col, text_col)
    )
    r = _bucket_counts(raw_feats).withColumnRenamed(
        "cnt", "r_cnt"
    ).localCheckpoint(eager=False)
    t_total = t.agg(F.sum("t_cnt")).first()[0] or 0
    r_total = r.agg(F.sum("r_cnt")).first()[0] or 0
    a = smoothing
    t_denom = float(t_total) + a * n_buckets
    r_denom = float(r_total) + a * n_buckets
    joined = t.join(r, "bucket", "full_outer")
    w = (
        F.log((F.coalesce(F.col("t_cnt"), F.lit(0)) + F.lit(a)) / F.lit(t_denom))
        - F.log((F.coalesce(F.col("r_cnt"), F.lit(0)) + F.lit(a)) / F.lit(r_denom))
    )
    return joined.select("bucket", w.alias("w"))


def dsir_scores(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    ngram: int = 2,
    smoothing: float = DSIR_SMOOTHING,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per raw document: (id, n_feats, dsir_score) where dsir_score is the
    MEAN hashed-bigram log-likelihood ratio ln(p_target/p_raw) — positive
    means target-like. Documents with no bigram (< ngram tokens) are
    absent (no features to score). The downstream selection step is
    ``filter(dsir_score > cut)`` or a Gumbel-free deterministic variant of
    DSIR's sampling: ``deterministic_sample`` salted per score band."""
    doc_feats = _doc_feature_buckets(
        raw, n_buckets, ngram, id_col, text_col
    ).localCheckpoint(eager=False)
    weights = dsir_weights(
        raw, target, n_buckets, ngram, smoothing, id_col, text_col,
        _raw_feats=doc_feats,
    )
    # weights ≤ n_buckets rows — KBs; broadcast so the scan never shuffles
    scored = doc_feats.join(F.broadcast(weights), "bucket", "left")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_feats"),
        F.round(F.avg(F.col("w")), 4).alias("dsir_score"),
    )


def deterministic_weights(
    spark, n_buckets: int, salt: str = "clf"
) -> DataFrame:
    """Reproducible stand-in weight vector for tests/oracles: bucket b gets
    w = (md5int(salt|b) mod 2001 − 1000)/1000 ∈ [−1, 1]. A real pipeline
    replaces this with trained weights loaded from parquet — the scoring
    plan is identical (the weights table is an input either way)."""
    b = F.col("id").cast("long")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "|"), b.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    w = (F.pmod(h, F.lit(2001)) - F.lit(1000)) / F.lit(1000.0)
    return spark.range(n_buckets).select(
        b.alias("bucket"), F.round(w, 4).alias("w")
    )


def hashed_classifier_scores(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per document: (id, n_tokens, clf_score, clf_label) — the linear
    logit Σ w[bucket(token)] over the document's hashed token buckets,
    labeled positive at score > 0. clf_score is the UNNORMALIZED sum (it
    scales with document length); callers wanting the mean-normalized
    score compute clf_score / n_tokens from the two emitted columns.
    ``weights`` is (bucket, w); tokens hashing to buckets without a weight
    row contribute 0 (out-of-vocabulary). One corpus scan: explode tokens
    -> broadcast-join weights -> map-side-combined per-doc aggregate.

    Weights are quantized to 6 decimal places (decimal(20,6)) before
    aggregation so the per-doc sum is EXACT and therefore identical at any
    parallelism — a double sum's value depends on partition order, and
    near-round-boundary scores would flip their 4th decimal between runs
    (the repo-wide determinism contract; same reason sampling is
    md5-threshold not RNG). The score is the exact sum, not the mean: a
    mean reintroduces an inexact division whose halfway cases round
    differently across engines. 1e-6 quantization is far below any
    trained classifier's meaningful precision."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok")
    ).select(
        id_col, feature_bucket(F.col("_tok"), n_buckets).alias("bucket")
    )
    wq = F.coalesce(F.col("w"), F.lit(0.0)).cast("decimal(20,6)")
    scored = toks.join(F.broadcast(weights), "bucket", "left")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum(wq).cast("double"), 4).alias("clf_score"),
    ).withColumn("clf_label", F.col("clf_score") > 0)
