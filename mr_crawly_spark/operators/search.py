"""Inverted-index retrieval over the crawled corpus: a build-once postings
index plus document-at-a-time (DAAT) top-k search whose per-query cost
tracks the QUERY TERMS' postings, not the corpus — the retrieval complement
of curation.bm25_scores (which rescans every document per query; the index
amortizes tokenization and tf aggregation across all future queries, the
same build-once contract as similarity.lsh_index / ivf_index).

Reference parity: the reference crawler stores pages and links but ships no
search (mr_crawly/cache.py data tables); this is beyond-ref surface for the
task brief's training-data pipeline (find topic documents in a 10^10-page
crawl without a per-query corpus scan).

Scale notes (100 TB):
- Postings are BLOCKED: block = md5(doc_id) % n_doc_blocks, so a stopword's
  postings split across n_doc_blocks rows instead of materializing one
  multi-GB array row (the classic single-hot-key OOM). Raise n_doc_blocks
  with corpus size; blocks also give the query's explode natural
  parallelism.
- The build is tokenize -> explode -> ONE map-side-combined (term, doc) tf
  agg -> ONE bounded (term, block) postings agg: two shuffles at any size.
- A query filters the index to its literal term list FIRST (parquet
  predicate pushdown / partition pruning when the index is written
  partitioned by term bucket), so everything downstream is proportional to
  the matched postings.
- Score sums are decimal(20,6)-quantized per contribution (the
  selection.hashed_classifier_scores convention), so results are
  partition-order invariant and engine-reproducible; ties break on doc_id.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_crawly_spark.operators.curation import SAMPLE_MOD, sample_hash_col

BLOCK_SALT = "blk"
TERM_BUCKET_SALT = "idxb"
_GEOMETRY_FILE = "_index_geometry.json"


def build_inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_doc_blocks: int = 64,
) -> DataFrame:
    """Build the postings index: one row per (term, block) with
    ``postings = array<struct<doc_id, tf>>`` sorted by doc_id and
    ``df_block`` = |postings| (blocks partition documents, so a term's
    corpus document frequency is the SUM of its df_block values — no
    distinct-count needed at query time).

    Tokenization is the bm25 contract: lowercase, whitespace split.
    Documents with only-whitespace text contribute nothing.
    """
    if n_doc_blocks < 1:
        raise ValueError(f"n_doc_blocks must be >= 1, got {n_doc_blocks}")
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tf = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    blocked = tf.withColumn(
        "block",
        F.pmod(
            sample_hash_col(F.col("doc_id"), BLOCK_SALT), F.lit(n_doc_blocks)
        ).cast("int"),
    )
    return blocked.groupBy("term", "block").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_block"),
        F.array_sort(F.collect_list(F.struct("doc_id", "tf"))).alias(
            "postings"
        ),
    )


def search_topk(
    index: DataFrame,
    query_terms: list[str],
    n_docs: int,
    k: int = 10,
    require_all: bool = False,
    n_term_buckets: int | None = None,
) -> DataFrame:
    """DAAT top-k over the postings index: filter the index to the literal
    query-term list (this is the pushdown/pruning step — nothing larger
    than the matched postings flows further), explode those postings, and
    combine per document.

    Score = Σ_t tf_t · idf_t with idf = ln((N+1)/(df_t+1)) + 1 (the smoothed
    tf-idf form; BM25's length normalization lives in curation.bm25_scores,
    which carries doc lengths — postings deliberately don't, to stay 16
    bytes/entry). Per-term idf folds into driver literals from a KB-sized
    df agg over the ALREADY-FILTERED index (≤ |terms|·n_doc_blocks rows).
    Each contribution is decimal(20,6)-quantized before the sum, so the
    score is partition-order invariant; the final top-k orders by
    (score desc, doc_id) — a TakeOrderedAndProject, never a global sort.

    ``require_all`` = conjunctive AND: only documents containing every
    query term (by distinct-term count — terms are deduped first).

    Returns (doc_id, n_terms, score) with ≤ k rows.
    """
    if n_docs < 0:
        raise ValueError(f"n_docs must be >= 0, got {n_docs}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    if n_term_buckets and "term_bucket" in index.columns:
        # persisted-index path: the bucket set is computable driver-side
        # from the literal terms, so this filter is PARTITION PRUNING on
        # the write_index layout — only the query terms' directories are
        # even listed, let alone read (asserted by plan test).
        buckets = sorted({term_bucket_of(t, n_term_buckets) for t in terms})
        index = index.filter(F.col("term_bucket").isin(buckets))
    # matched feeds the df-scalar collect AND the scoring explode; the
    # lazy checkpoint (<= |terms|*n_doc_blocks rows) keeps the upstream —
    # which for an ad-hoc index is the whole build — from running twice
    matched = index.filter(F.col("term").isin(terms)).localCheckpoint(
        eager=False
    )
    # per-term corpus df: blocks partition docs -> sum of df_block.
    # <= |terms| rows of driver metadata (the bm25_scores_exploded class).
    dfreq = {
        r["term"]: int(r["_df"])
        for r in matched.groupBy("term")
        .agg(F.sum("df_block").alias("_df"))
        .collect()
    }
    idf = {
        t: math.log((n_docs + 1.0) / (dfreq.get(t, 0) + 1.0)) + 1.0
        for t in terms
    }
    idf_map = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(idf[t]))]
    )
    hit = matched.select(
        "term", F.explode("postings").alias("_p")
    ).select(
        "term",
        F.col("_p.doc_id").alias("doc_id"),
        F.col("_p.tf").alias("tf"),
    )
    contrib = (F.col("tf") * idf_map[F.col("term")]).cast("decimal(20,6)")
    scored = hit.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum(contrib).cast("double").alias("score"),
    )
    if require_all:
        # a doc appears at most once per term (tf is pre-aggregated), so
        # the per-doc row count IS the distinct-term count
        scored = scored.filter(F.col("n_terms") == len(terms))
    return scored.orderBy(
        F.col("score").desc(), F.col("doc_id")
    ).limit(k)


def term_bucket_of(term: str, n_term_buckets: int) -> int:
    """Driver-side twin of the term_bucket column expression (md5 of
    'idxb|term', first 15 hex chars, % SAMPLE_MOD % n) — lets a query
    compute its terms' buckets as literals, which parquet turns into
    partition pruning over the write_index directory layout."""
    h = int(
        hashlib.md5(f"{TERM_BUCKET_SALT}|{term}".encode()).hexdigest()[:15],
        16,
    )
    return h % SAMPLE_MOD % n_term_buckets


def write_index(
    index: DataFrame, path: str, n_term_buckets: int = 64
) -> None:
    """Persist the postings index partitioned by a stable term bucket so
    future queries read ONLY their terms' directories (partition pruning;
    at 10^10 pages the index itself is TB-scale, so a per-query full scan
    would defeat the build-once point). One repartition by bucket before
    the write keeps file count at ~n_term_buckets instead of
    tasks x buckets small files. Geometry (n_term_buckets) is committed
    LAST, written to a tmp file and renamed over with os.replace so it is
    never seen half-written: a crashed write leaves no geometry file, so
    load_index refuses a partial index instead of silently pruning to
    wrong buckets."""
    if n_term_buckets < 1:
        raise ValueError(
            f"n_term_buckets must be >= 1, got {n_term_buckets}"
        )
    bucket = F.pmod(
        sample_hash_col(F.col("term"), TERM_BUCKET_SALT),
        F.lit(n_term_buckets),
    ).cast("int")
    (
        index.withColumn("term_bucket", bucket)
        .repartition("term_bucket")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(path)
    )
    geom = os.path.join(path, _GEOMETRY_FILE)
    tmp = geom + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {"n_term_buckets": n_term_buckets, "salt": TERM_BUCKET_SALT}, f
        )
    os.replace(tmp, geom)


def load_index(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """Load a write_index layout; returns (index, n_term_buckets) — pass
    the geometry to search_topk/phrase_search so their bucket literals
    match the directory layout. Raises on a missing/partial index (no
    geometry file = the write never committed)."""
    geom = os.path.join(path, _GEOMETRY_FILE)
    if not os.path.exists(geom):
        raise ValueError(
            f"no committed index at {path} ({_GEOMETRY_FILE} missing — "
            "write_index crashed mid-write or was never run)"
        )
    with open(geom) as f:
        meta = json.load(f)
    if meta.get("salt") != TERM_BUCKET_SALT:
        raise ValueError(
            f"index at {path} was written with salt {meta.get('salt')!r}; "
            f"this build expects {TERM_BUCKET_SALT!r}"
        )
    return spark.read.parquet(path), int(meta["n_term_buckets"])


def merge_index(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a NEW batch of documents' index into an existing one without
    re-scanning the corpus (index maintenance at 10^10 pages: each crawl
    round indexes only its fetched slice, then merges). Same (term, block)
    rows concat their postings and sum df_block — ONE shuffle on
    (term, block), output bit-identical to rebuilding from the unioned
    corpus (oracled). Contract: the two sides' doc_id sets are DISJOINT
    (deltas are new documents); merging an overlapping rebuild would
    double-count — delete/update flows re-index the affected block
    instead (blocks bound that rewrite to 1/n_doc_blocks of a term's
    postings)."""
    u = base.select("term", "block", "df_block", "postings").unionByName(
        delta.select("term", "block", "df_block", "postings")
    )
    return u.groupBy("term", "block").agg(
        F.sum("df_block").cast("bigint").alias("df_block"),
        F.array_sort(F.flatten(F.collect_list("postings"))).alias(
            "postings"
        ),
    )


def build_positional_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_doc_blocks: int = 64,
) -> DataFrame:
    """Positional postings: one row per (term, block) with
    ``postings = array<struct<doc_id, positions:array<int>>>`` (0-based
    token offsets, sorted) — the structure phrase queries need. Same
    blocked two-shuffle build as build_inverted_index; positions add
    ~4 bytes/occurrence, the standard positional-index overhead."""
    if n_doc_blocks < 1:
        raise ValueError(f"n_doc_blocks must be >= 1, got {n_doc_blocks}")
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    pos = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(toks).alias("pos", "term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias(
            "positions"
        ))
    )
    blocked = pos.withColumn(
        "block",
        F.pmod(
            sample_hash_col(F.col("doc_id"), BLOCK_SALT), F.lit(n_doc_blocks)
        ).cast("int"),
    )
    return blocked.groupBy("term", "block").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_block"),
        F.array_sort(F.collect_list(F.struct("doc_id", "positions"))).alias(
            "postings"
        ),
    )


def phrase_search(
    index: DataFrame,
    phrase: list[str],
    n_term_buckets: int | None = None,
) -> DataFrame:
    """Exact phrase match over a positional index: a document matches at
    position p iff phrase[i] occurs at p+i for every i. Counts OVERLAPPING
    occurrences (\"a a\" in \"a a a\" = 2) — repeated phrase terms share one
    postings row, so the position intersection stays exact.

    Plan: filter the index to the phrase's DISTINCT terms (pruned to
    their buckets when persisted), explode the matched postings, ONE
    groupBy(doc_id) collecting a term->positions map, then a scan-only
    array intersection — per-query cost tracks the phrase terms'
    postings, never the corpus. Returns (doc_id, n_matches), matches
    only."""
    if not phrase:
        raise ValueError("phrase must be non-empty")
    phrase = [t.lower() for t in phrase]
    terms = sorted(set(phrase))
    if n_term_buckets and "term_bucket" in index.columns:
        buckets = sorted({term_bucket_of(t, n_term_buckets) for t in terms})
        index = index.filter(F.col("term_bucket").isin(buckets))
    hit = (
        index.filter(F.col("term").isin(terms))
        .select("term", F.explode("postings").alias("_p"))
        .select(
            "term",
            F.col("_p.doc_id").alias("doc_id"),
            F.col("_p.positions").alias("positions"),
        )
    )
    per_doc = hit.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("_nt"),
        F.map_from_entries(
            F.collect_list(F.struct("term", "positions"))
        ).alias("_pm"),
    )
    # docs missing any phrase term can't match (postings rows are
    # (term, doc)-unique, so the row count IS the distinct-term count)
    per_doc = per_doc.filter(F.col("_nt") == len(terms))
    pm = F.col("_pm")
    first = pm[F.lit(phrase[0])]
    if len(phrase) == 1:
        n_matches = F.size(first)
    else:
        n_matches = F.size(
            F.filter(
                first,
                lambda p: reduce(
                    lambda a, b: a & b,
                    [
                        F.array_contains(pm[F.lit(t)], p + i)
                        for i, t in enumerate(phrase[1:], start=1)
                    ],
                ),
            )
        )
    return (
        per_doc.select(
            "doc_id", n_matches.cast("bigint").alias("n_matches")
        )
        .filter(F.col("n_matches") > 0)
    )


def append_index_delta(
    delta_index: DataFrame, path: str, batch_id: int
) -> None:
    """Merge-on-read index maintenance (the engine's frontier-delta
    pattern, engine.py COMPACT_EVERY): append a NEW doc batch's index as
    its own parquet directory instead of rewriting the base — O(batch)
    per commit, never O(corpus). Query-side no merge is needed at all:
    search_topk explodes postings and re-aggregates per doc, and df is
    already a SUM over rows, so unioned delta rows are exactly as correct
    as physically-merged ones (doc sets across deltas are disjoint by the
    merge_index contract). compact_index bounds the delta count on
    cadence.

    Layout: ``{path}/base`` (write_index-partitioned, geometry-committed)
    + ``{path}/deltas/delta-*`` — the base must NOT sit at the layout
    root because parquet overwrite truncates its whole target dir."""
    delta_index.select("term", "block", "df_block", "postings").write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "deltas", f"delta-{batch_id:010d}"))


def load_index_view(spark: SparkSession, path: str) -> DataFrame:
    """The merge-on-read view: base index (if compacted/committed)
    unioned with every delta directory. Rows are (term, block, df_block,
    postings); the same (term, block) may appear once per delta — valid
    as-is for search_topk/phrase_search, physically folded by
    compact_index."""
    import glob as _glob

    parts = []
    base_dir = os.path.join(path, "base")
    if os.path.exists(os.path.join(base_dir, _GEOMETRY_FILE)):
        base, _ = load_index(spark, base_dir)
        parts.append(
            base.select("term", "block", "df_block", "postings")
        )
    for d in sorted(_glob.glob(os.path.join(path, "deltas", "delta-*"))):
        parts.append(spark.read.parquet(d))
    if not parts:
        raise ValueError(f"no index base or deltas at {path}")
    return reduce(lambda a, b: a.unionByName(b), parts)


def compact_index(
    spark: SparkSession, path: str, n_term_buckets: int = 64
) -> int:
    """Fold every delta into the partitioned base (ONE (term, block)
    shuffle over base+deltas) and remove the consumed delta dirs; returns
    the number of deltas folded. The merged frame is materialized
    (localCheckpoint) BEFORE write_index overwrites the files it was read
    from; the geometry commit stays last, so a crash mid-compaction is
    caught by load_index. Deltas are removed only after the base commit —
    a crash between the two leaves duplicate postings visible, so the
    stream owner should re-run compact_index (idempotent for search
    correctness only after the rerun completes; fingerprint-level
    exactness is restored by the rerun's rewrite)."""
    import glob as _glob
    import shutil as _shutil

    deltas = sorted(_glob.glob(os.path.join(path, "deltas", "delta-*")))
    view = load_index_view(spark, path)
    merged = view.groupBy("term", "block").agg(
        F.sum("df_block").cast("bigint").alias("df_block"),
        F.array_sort(F.flatten(F.collect_list("postings"))).alias(
            "postings"
        ),
    )
    merged = merged.localCheckpoint()
    merged.count()
    # the base lives in its own subdir: parquet overwrite TRUNCATES the
    # whole target dir, so writing at the layout root would destroy the
    # very deltas being folded (and any appended concurrently)
    write_index(
        merged, os.path.join(path, "base"), n_term_buckets=n_term_buckets
    )
    for d in deltas:
        _shutil.rmtree(d, ignore_errors=True)
    return len(deltas)


def stream_index_updates(
    docs_stream: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_doc_blocks: int = 64,
    compact_every: int = 8,
):
    """Keep the inverted index current off a document STREAM: each
    micro-batch indexes only its own docs (two bounded shuffles) and
    appends a merge-on-read delta; every ``compact_every`` batches the
    deltas fold into the partitioned base. Searches against
    load_index_view see every committed batch. Returns the
    StreamingQuery (caller awaits/stops)."""

    state = {"since_compact": 0}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = build_inverted_index(
            batch_df, id_col=id_col, text_col=text_col,
            n_doc_blocks=n_doc_blocks,
        )
        append_index_delta(delta, path, batch_id)
        state["since_compact"] += 1
        if state["since_compact"] >= compact_every:
            compact_index(batch_df.sparkSession, path)
            state["since_compact"] = 0

    return (
        docs_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
