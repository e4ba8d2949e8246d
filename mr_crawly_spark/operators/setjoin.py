"""Exact set-similarity join via prefix filtering — All-Pairs (Bayardo,
Ma & Srikant, WWW'07) with PPJoin's size filter (Xiao et al. WWW'08).

The repo's MinHash/SimHash/embedding LSH paths are PROBABILISTIC: they
can miss true near-duplicate pairs (bounded, tested recall). This
operator is the COMPLETE twin: every pair with Jaccard(tokens(a),
tokens(b)) >= t is guaranteed in the output, with its exact score —
the verification-grade dedup pass you run where a silent miss is not
acceptable (benchmark decontamination, licensing audits).

Prefix-filter lemma: order every document's distinct tokens by a global
canonical order (ascending corpus frequency, ties by token — rarest
first); if Jaccard(A, B) >= t then A and B must share at least one
token in their first |X| - ceil(t * |X|) + 1 tokens. So candidate pairs
come from an EQUI-join on prefix tokens only — never an all-pairs
product — and rarest-first ordering makes those join keys the LEAST
skewed tokens in the corpus. The size filter (t * |A| <= |B| and
t * |B| <= |A|) prunes survivors before exact verification via
array_intersect on the full sorted arrays.

Plan shape at 100 TB: one agg for the token-frequency table, one
equi-join to attach frequencies (token dictionary stays distributed —
never broadcast or collected), one groupBy to rebuild sorted token
arrays, one explode bounded at prefix length (<= (1-t)|d| + 1 tokens
per doc), one equi-join on prefix token + pair dedup, one semi-join
back for verification arrays. Every shuffle key is a token or doc id;
no driver residency anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mr_crawly_spark import sizing


def _sorted_token_arrays(
    docs: DataFrame, id_col: str, text_col: str, shingle: int = 1
) -> DataFrame:
    """(id, toks, size): distinct whitespace tokens (or word ``shingle``-gram
    shingles for shingle > 1) per doc, sorted rarest-first by (global
    frequency, token) — the canonical order the prefix lemma needs. Empty
    docs drop out (no tokens, no pairs)."""
    from mr_crawly_spark.functions.text import shingles

    raw = (
        shingles(F.col(text_col), shingle)
        if shingle > 1
        else F.split(F.trim(F.col(text_col)), r"\s+")
    )
    tok = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(raw)).alias("_tok"),
    ).filter(F.length("_tok") > 0)
    freq = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    return (
        tok.join(freq, "_tok")
        .groupBy("_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_df", "_tok"))),
                lambda s: s["_tok"],
            ).alias("_toks")
        )
        .select("_id", "_toks", F.size("_toks").alias("_sz"))
    )


def similarity_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle: int = 1,
) -> DataFrame:
    """All pairs (id_a < id_b) with token-set Jaccard >= threshold,
    with the exact score: (id_a, id_b, jaccard) — jaccard rounded to
    4 dp. COMPLETE by the prefix-filter lemma; exact by construction
    (no hashing anywhere).

    ``shingle`` > 1 compares word n-gram shingle SETS instead of unigram
    token sets. On a small-vocabulary corpus unigram prefix filtering is
    degenerate — every prefix token has corpus-scale document frequency,
    so the candidate equi-join approaches all-pairs (measured 111 s vs
    2 s at sf0.1 on the 31-word synthetic vocab). Shingling restores the
    selectivity the lemma's cost model assumes (vocab grows ~|V|^n), and
    is the semantically right unit for text near-dup anyway."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if shingle < 1:
        raise ValueError(f"shingle must be >= 1, got {shingle}")
    t = float(threshold)
    # consumed three times (prefix explode, ta, tb verification sides):
    # the lazy checkpoint runs the tokenize+shingle+dedup+sort once
    # instead of once per consumer
    base = _sorted_token_arrays(docs, id_col, text_col, shingle).localCheckpoint(
        eager=False
    )
    # prefix length |X| - ceil(t|X|) + 1; slice is 1-indexed
    plen = F.col("_sz") - F.ceil(F.lit(t) * F.col("_sz")).cast("int") + 1
    prefixes = base.select(
        "_id",
        "_sz",
        F.explode(F.slice("_toks", 1, plen)).alias("_ptok"),
    )
    a = prefixes.select(
        F.col("_id").alias("id_a"),
        F.col("_sz").alias("_sza"),
        "_ptok",
    )
    b = prefixes.select(
        F.col("_id").alias("id_b"),
        F.col("_sz").alias("_szb"),
        "_ptok",
    )
    cand = (
        a.join(b, "_ptok")
        .filter(F.col("id_a") < F.col("id_b"))
        # PPJoin size filter: Jaccard >= t forces t|A| <= |B| (and sym.)
        .filter(
            (F.lit(t) * F.col("_sza") <= F.col("_szb"))
            & (F.lit(t) * F.col("_szb") <= F.col("_sza"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ta = base.select(
        F.col("_id").alias("id_a"), F.col("_toks").alias("_ta"),
        F.col("_sz").alias("_na"),
    )
    tb = base.select(
        F.col("_id").alias("id_b"), F.col("_toks").alias("_tb"),
        F.col("_sz").alias("_nb"),
    )
    inter = F.size(F.array_intersect("_ta", "_tb"))
    jac = inter.cast("double") / (
        F.col("_na") + F.col("_nb") - inter
    ).cast("double")
    # pin the verification width: the per-pair array_intersect is the
    # expensive row work here, but its shuffle BYTES are small, so AQE's
    # byte-wise coalescing funnels the whole verification onto one task
    # (measured: a single 2.3s task closing an otherwise-parallel query).
    # Explicit-width repartitions on the candidate side are exempt from
    # coalescing and carry only (id_a, id_b) pairs; the width is the
    # session's shuffle-partition setting, i.e. cluster-adaptive.
    n_parts = sizing.shuffle_width(docs.sparkSession)
    return (
        cand.repartition(n_parts, "id_a")
        .join(ta, "id_a")
        .repartition(n_parts, "id_b")
        .join(tb, "id_b")
        # threshold on the UNROUNDED score (rounding first would admit
        # pairs up to 5e-5 below t); report the 4-dp value
        .filter(jac >= t)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )
