"""Outlink extraction over span documents (SURVEY.md A1/A2/P2/F1/D1/A4).

The reference parses raw HTML per row with BeautifulSoup (parser.py:44-51);
our documents are already span arrays (input_hint), so extraction is:

1. JVM-side: ``F.filter(spans, kind='link')`` + ``explode`` — whole-stage
   codegen, no Python;
2. the only Python in the path is the RFC-3986 canonicalizer, an
   Arrow-batched pandas UDF (urljoin semantics are the contract); the
   caller sets the width of its Python stage (``width``), because every
   Python task pays a fixed start-up cost whatever its row count;
3. same-domain filter (parser.py:56) as a plain column equality;
4. in-page set dedup (parser.py:45) as dropDuplicates;
5. self-link quirk A4 (parser.py:58): the source URL joins the page's link
   set iff at least one same-domain link was found.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mr_crawly_spark.functions.colcache import session_cached
from mr_crawly_spark.functions.urls import canonicalize_udf, url_host_col


def _outlink_cols() -> dict:
    """Static expression trees for extract_outlinks — built once per
    session (colcache): the extraction runs every crawl round, and its
    ~40 Column constructions were pure py4j latency in the round floor."""
    return {
        "explode": [
            F.col("url").alias("source_url"),
            F.col("host"),
            F.explode(
                F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("link"))
            ).alias("span"),
        ],
        "href": [F.col("source_url"), F.col("host"), F.col("span.text").alias("href")],
        "href_ok": F.col("href").isNotNull() & (F.length("href") > 0),
        "canon": canonicalize_udf(F.col("source_url"), F.col("href")),
        "canon_ok": F.col("linked_url").isNotNull(),
        "same_domain": url_host_col(F.col("linked_url")) == F.col("host"),
        # A4 fan-out: each (source, linked) row emits itself AND the
        # (source, source) self-link candidate via one explode — the
        # obvious unionByName(same_domain.select(...)) executes the whole
        # subtree (spans explode + canonicalize UDF) once PER BRANCH, so
        # every page's links crossed the Python boundary twice per round
        "self_fanout": [
            F.col("source_url"),
            F.explode(
                F.array(F.col("linked_url"), F.col("source_url"))
            ).alias("linked_url"),
        ],
    }


def extract_outlinks(fetched: DataFrame, width: int | None = None) -> DataFrame:
    """(url, host, spans) -> distinct (source_url, linked_url) pairs.

    ``linked_url`` is canonical; includes the A4 self-link rows. ``width``
    (None = inherit the upstream width) is the partition count of the
    canonicalizer's Python stage: the href rows are repartitioned to it
    just before the UDF.
    """
    c = session_cached(fetched.sparkSession, "parse.outlinks", _outlink_cols)
    hrefs = (
        fetched.select(*c["explode"]).select(*c["href"]).filter(c["href_ok"])
    )
    if width is not None:
        # round-robin, not coalesce: coalesce is narrow, so it would also
        # run every operator back to the previous shuffle (the fetch's
        # streamed corpus scan, say) in `width` tasks; this exchange only
        # moves the small href rows
        hrefs = hrefs.repartition(width)
    canon = hrefs.withColumn("linked_url", c["canon"]).filter(c["canon_ok"])
    same_domain = canon.filter(c["same_domain"]).select("source_url", "linked_url")
    # A4: add (source, source) for every source that produced >= 1 link.
    # Emitting one self-link candidate PER pair (not per source) lets the
    # final dedup absorb them in the SAME shuffle — one exchange for dedup
    # + self-links instead of the naive dedup -> distinct -> union -> dedup
    # chain (3 extra exchanges per round in the crawl hot loop).
    with_self = same_domain.select(*c["self_fanout"])
    return with_self.dropDuplicates(["source_url", "linked_url"])


def spans_in_order(fetched: DataFrame) -> DataFrame:
    """Golden span sequences: (doc_id, order, kind, text, media_ref), ordered
    by offset via JVM-side array_sort — the input_hint per-row invariant."""
    sorted_spans = fetched.select(
        F.col("url").alias("doc_id"),
        F.posexplode(
            F.array_sort(
                F.col("spans"),
                lambda a, b: F.when(a["offset"] < b["offset"], -1)
                .when(a["offset"] > b["offset"], 1)
                .otherwise(0),
            )
        ).alias("order", "span"),
    )
    return sorted_spans.select(
        "doc_id",
        F.col("order").cast("int").alias("order"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
    )
