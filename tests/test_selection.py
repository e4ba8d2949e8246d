"""Data-selection operators (selection.py: DSIR, hashed classifier) and
the semantic/e2e dedup compositions (similarity.semdedup,
dedup.neardup_dedup): semantic correctness on planted fixtures plus the
repo-wide determinism contract (identical output at any partitioning)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mr_crawly_spark.operators.dedup import neardup_dedup
from mr_crawly_spark.operators.selection import (
    deterministic_weights,
    dsir_scores,
    dsir_weights,
    hashed_classifier_scores,
)
from mr_crawly_spark.operators.similarity import semdedup


@pytest.fixture(scope="module")
def docs(spark):
    """60 docs in two topical populations: doc_id % 3 == 0 talk about
    quantum chemistry, the rest about football — distinct bigram mass."""
    rows = []
    for i in range(60):
        if i % 3 == 0:
            text = f"quantum chemistry of molecular orbitals sample {i}"
        else:
            text = f"football match report goals and corners game {i}"
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dsir_target_docs_score_higher(spark, docs):
    target = docs.filter(F.col("doc_id") % 3 == 0)
    scored = dsir_scores(docs, target, n_buckets=512, ngram=2)
    rows = {r["doc_id"]: r["dsir_score"] for r in scored.collect()}
    in_t = [v for k, v in rows.items() if k % 3 == 0]
    out_t = [v for k, v in rows.items() if k % 3 != 0]
    # every target-domain doc must outscore every off-domain doc: their
    # bigrams carry all the target mass and little raw mass
    assert min(in_t) > max(out_t)


def test_dsir_weights_bounded_rows(spark, docs):
    target = docs.limit(5)
    w = dsir_weights(docs, target, n_buckets=128, ngram=2)
    assert w.count() <= 128
    assert w.columns == ["bucket", "w"]


def test_dsir_partition_invariance(spark, docs):
    target = docs.filter(F.col("doc_id") % 3 == 0)
    a = sorted(dsir_scores(docs, target, n_buckets=256).collect())
    b = sorted(
        dsir_scores(docs.repartition(13), target.coalesce(1), n_buckets=256)
        .collect()
    )
    assert a == b


def test_classifier_exact_scores(spark):
    """Hand-checkable: weights put +1 on 'good' tokens, -1 on 'bad'; OOV
    tokens contribute 0. clf_score is the exact logit sum."""
    from mr_crawly_spark.operators.selection import feature_bucket

    d = spark.createDataFrame(
        [(1, "good good novel"), (2, "bad bad bad good"), (3, "novel words")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame(
        [("good", 1.0), ("bad", -1.0)], "tok string, w double"
    )
    n_buckets = 4096
    # the hashing trick admits collisions by design; the exact-score claim
    # below needs the 4 test tokens in distinct buckets — assert that
    all_toks = spark.createDataFrame(
        [("good",), ("bad",), ("novel",), ("words",)], "tok string"
    ).select(feature_bucket(F.col("tok"), n_buckets).alias("b"))
    assert all_toks.distinct().count() == 4
    weights = vocab.select(
        feature_bucket(F.col("tok"), n_buckets).alias("bucket"), "w"
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["clf_score"], r["clf_label"])
        for r in hashed_classifier_scores(d, weights, n_buckets).collect()
    }
    assert out[1] == (3, 2.0, True)
    assert out[2] == (4, -2.0, False)
    assert out[3] == (2, 0.0, False)


def test_classifier_deterministic_weights_partition_invariance(spark, docs):
    w = deterministic_weights(spark, 256, salt="t")
    a = sorted(hashed_classifier_scores(docs, w, 256).collect())
    b = sorted(
        hashed_classifier_scores(docs.repartition(17), w, 256).collect()
    )
    assert a == b


@pytest.fixture(scope="module")
def embeddings(spark):
    """30 deterministic 8-dim vectors + exact twins of every 5th (id+1000):
    twins are cosine-1 duplicates that semdedup MUST drop. Components are
    hash-scattered (no smooth structure — a sin(w*i) family puts vectors
    ~2pi/w apart at cosine ~1 and plants unintended near-dups)."""
    rows = []
    for i in range(30):
        v = [((i * 31 + j * 17 + (i * j) % 13) % 97) / 97.0 - 0.5 for j in range(8)]
        rows.append((i, v))
        if i % 5 == 0:
            rows.append((i + 1000, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semdedup_drops_planted_twins(spark, embeddings):
    out = semdedup(embeddings, n_clusters=4, threshold=0.999)
    rows = {r["vec_id"]: (r["cluster_id"], r["kept"]) for r in out.collect()}
    assert len(rows) == embeddings.count()  # every input annotated
    for i in range(0, 30, 5):
        orig_cluster, orig_kept = rows[i]
        twin_cluster, twin_kept = rows[i + 1000]
        assert twin_cluster == orig_cluster  # identical vector, same cell
        assert not twin_kept  # lower-id original wins
        assert orig_kept  # distinct scattered vectors never reach 0.999


def test_semdedup_partition_invariance(spark, embeddings):
    a = sorted(semdedup(embeddings, n_clusters=4, threshold=0.999).collect())
    b = sorted(
        semdedup(
            embeddings.repartition(11), n_clusters=4, threshold=0.999
        ).collect()
    )
    assert a == b


def test_neardup_dedup_e2e(spark, docs):
    """Planted verbatim copies collapse into their original's cluster;
    exactly the min id of each cluster is kept; filter(kept) strips every
    planted copy."""
    planted = docs.filter(F.col("doc_id") % 6 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000)
    )
    both = docs.unionByName(planted)
    out = neardup_dedup(both, n_hashes=8, bands=4, shingle_n=3)
    rows = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["kept"])
        for r in out.collect()
    }
    assert len(rows) == both.count()
    for i in range(0, 60, 6):
        ci, si, ki = rows[i]
        cj, sj, kj = rows[i + 10_000]
        assert ci == cj and si == sj >= 2
        assert not kj  # the copy is never the keeper
    # keeper rule: kept iff doc_id == cluster_id (min label)
    for d, (c, _s, k) in rows.items():
        assert k == (d == c)
    kept_ids = {d for d, (_c, _s, k) in rows.items() if k}
    assert all(d < 10_000 for d in kept_ids)


def test_paragraph_dedup_strips_boilerplate(spark):
    from mr_crawly_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "unique one\n\nSUBSCRIBE NOW"),
        (2, "unique two\n\nSUBSCRIBE NOW"),
        (3, "unique three\n\nSUBSCRIBE NOW\n\ntail three"),
        (4, "standalone"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["text_dedup"], r["n_paras"], r["n_kept"])
        for r in paragraph_dedup(d).collect()
    }
    # boilerplate survives only in doc 1 (smallest (doc_id, pos))
    assert out[1] == ("unique one\n\nSUBSCRIBE NOW", 2, 2)
    assert out[2] == ("unique two", 2, 1)
    assert out[3] == ("unique three\n\ntail three", 3, 2)
    assert out[4] == ("standalone", 1, 1)


def test_paragraph_dedup_fully_claimed_doc_empties(spark):
    from mr_crawly_spark.operators.dedup import paragraph_dedup

    d = spark.createDataFrame(
        [(1, "same"), (2, "same")], "doc_id long, text string"
    )
    out = {r["doc_id"]: (r["text_dedup"], r["n_kept"])
           for r in paragraph_dedup(d).collect()}
    assert out[1] == ("same", 1)
    assert out[2] == ("", 0)  # annotated, not silently dropped


def test_paragraph_dedup_partition_invariant(spark, docs):
    from mr_crawly_spark.operators.dedup import paragraph_dedup

    import pyspark.sql.functions as FF

    d = docs.select(
        "doc_id",
        FF.concat(FF.col("text"), FF.lit("\n\nshared footer")).alias("text"),
    )
    a = sorted(paragraph_dedup(d).collect())
    b = sorted(paragraph_dedup(d.repartition(9)).collect())
    assert a == b


def test_corpus_diff_statuses(spark):
    from mr_crawly_spark.operators.curation import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "delta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "  ALPHA   beta "),  # fingerprint-equal: unchanged
         (2, "gamma prime"),       # changed
         (4, "epsilon")],          # added
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_winnow_shared_passage_guarantee(spark):
    """Winnowing's contract: two docs sharing a passage of >= window +
    kgram - 1 tokens share at least one fingerprint VALUE; disjoint texts
    share none."""
    from mr_crawly_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    d = spark.createDataFrame(
        [
            (1, f"one two {shared} three"),
            (2, f"{shared} nine ten eleven"),
            (3, "completely different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(d, kgram=4, window=4).collect()
    fps = {}
    for r in rows:
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2]  # shared passage -> shared fingerprint
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_winnow_density_and_short_docs(spark):
    from mr_crawly_spark.operators.dedup import winnow_fingerprints

    d = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(100))), (2, "too short")],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(d, kgram=4, window=4).collect()
    n1 = sum(1 for r in rows if r["doc_id"] == 1)
    # 97 k-grams, 94 windows; winnowing keeps ~2/(w+1) of hashes
    assert 10 <= n1 <= 60
    assert not any(r["doc_id"] == 2 for r in rows)  # < kgram tokens: none
    # positions are valid k-gram indices
    assert all(0 <= r["pos"] <= 96 for r in rows if r["doc_id"] == 1)


def test_binary_dedup_keeper(spark):
    from mr_crawly_spark.operators.multimodal import binary_dedup

    d = spark.createDataFrame(
        [("a", bytearray(b"\x00\x01")), ("b", bytearray(b"\x00\x01")),
         ("c", bytearray(b"\x02"))],
        "media_id string, payload binary",
    )
    out = {r["media_id"]: (r["keeper_id"], r["kept"])
           for r in binary_dedup(d).collect()}
    assert out == {"a": ("a", True), "b": ("a", False), "c": ("c", True)}


def test_remove_duplicated_spans_cuts_cross_doc_copies(spark):
    from mr_crawly_spark.operators.dedup import remove_duplicated_spans

    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"  # 10 tokens, > span_tokens
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"uno dos tres {shared} cuatro"),
            (3, "lone wolf text with no copies at all here"),
            (4, shared),  # nothing but the shared passage
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(docs, span_tokens=8).collect()
    }
    assert len(out) == 4
    # keeper (min doc_id) keeps the passage verbatim
    assert out[1]["clean_text"] == f"alpha beta {shared} gamma delta"
    assert out[1]["n_removed"] == 0
    # non-keepers lose exactly the shared tokens, context survives
    assert out[2]["clean_text"] == "uno dos tres cuatro"
    assert out[2]["n_removed"] == 10 and out[2]["n_tokens"] == 14
    assert out[3]["n_removed"] == 0
    # fully-claimed doc comes back empty, not missing
    assert out[4]["clean_text"] == "" and out[4]["n_removed"] == 10


def test_remove_duplicated_spans_short_spans_survive(spark):
    from mr_crawly_spark.operators.dedup import remove_duplicated_spans

    shared7 = "t1 t2 t3 t4 t5 t6 t7"  # 7 tokens < span_tokens=8
    docs = spark.createDataFrame(
        [(1, f"a {shared7} b"), (2, f"c {shared7} d")],
        "doc_id long, text string",
    )
    out = remove_duplicated_spans(docs, span_tokens=8).collect()
    assert all(r["n_removed"] == 0 for r in out)
    # within-doc repeats are untouched too (cross-doc only)
    rep = spark.createDataFrame(
        [(1, "x1 x2 x3 x4 x5 x6 x7 x8 y x1 x2 x3 x4 x5 x6 x7 x8")],
        "doc_id long, text string",
    )
    r = remove_duplicated_spans(rep, span_tokens=8).collect()[0]
    assert r["n_removed"] == 0


def test_remove_duplicated_spans_partition_invariant(spark):
    from mr_crawly_spark.operators.dedup import remove_duplicated_spans

    shared = "p1 p2 p3 p4 p5 p6 p7 p8 p9"
    rows = [
        (i, f"doc {i} body w{i} v{i} " + (shared if i % 3 == 0 else f"u{i}"))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        remove_duplicated_spans(docs.repartition(1), span_tokens=8).collect()
    )
    b = sorted(
        remove_duplicated_spans(docs.repartition(13), span_tokens=8).collect()
    )
    assert a == b
    keeper = min(i for i in range(40) if i % 3 == 0)
    got = {r["doc_id"]: r["n_removed"] for r in a}
    assert got[keeper] == 0
    assert all(got[i] == 9 for i in range(40) if i % 3 == 0 and i != keeper)


def _cdc_py_reference(text, window=8, avg_size=64):
    """Pure-python replay of cdc_chunks' cut-point rule."""
    import hashlib

    n = len(text)
    bpos = [
        i
        for i in range(window, n)
        if int(hashlib.md5(text[i - window:i].encode()).hexdigest()[:15], 16)
        % avg_size
        == 0
    ]
    bounds = [0] + bpos + [n]
    return [
        (k, bounds[k + 1] - bounds[k],
         hashlib.md5(text[bounds[k]:bounds[k + 1]].encode()).hexdigest())
        for k in range(len(bounds) - 1)
    ]


def test_cdc_chunks_match_python_reference(spark):
    from mr_crawly_spark.operators.dedup import cdc_chunks

    text = " ".join(f"w{i % 97}x{i % 13}" for i in range(120))
    docs = spark.createDataFrame(
        [(1, text), (2, "")], "doc_id long, text string"
    )
    rows = sorted(
        (r["chunk_idx"], r["chunk_len"], r["chunk_md5"])
        for r in cdc_chunks(docs).collect()
        if r["doc_id"] == 1
    )
    assert rows == _cdc_py_reference(text)
    assert sum(r[1] for r in rows) == len(text)
    # empty payload -> no rows at all
    assert not [r for r in cdc_chunks(docs).collect() if r["doc_id"] == 2]


def test_cdc_chunks_realign_after_insertion(spark):
    """The content-defined property: a prefix insertion shifts every
    fixed-size block but chunks re-align at the first cut point after the
    edit — the two payloads share all downstream chunk digests."""
    from mr_crawly_spark.operators.dedup import cdc_chunks

    base = " ".join(f"tok{i * 7 % 311}y{i % 23}" for i in range(150))
    docs = spark.createDataFrame(
        [(1, base), (2, "ENTIRELY NEW PREAMBLE CONTENT " + base)],
        "doc_id long, text string",
    )
    out = cdc_chunks(docs).collect()
    a = {r["chunk_md5"] for r in out if r["doc_id"] == 1}
    b = {r["chunk_md5"] for r in out if r["doc_id"] == 2}
    shared = len(a & b)
    # everything after the first post-edit boundary is shared: expect all
    # but a couple of head chunks in common
    assert shared >= len(a) - 3 and len(a) >= 4


def test_cdc_dedup_ratio_counts_identical_payloads_once(spark):
    from mr_crawly_spark.operators.dedup import cdc_chunks, cdc_dedup_ratio

    text = " ".join(f"z{i % 53}q{i % 17}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    r = cdc_dedup_ratio(cdc_chunks(docs)).collect()[0]
    assert r["total_bytes"] == 2 * len(text)
    assert r["unique_bytes"] == len(text)
    assert abs(r["dedup_ratio"] - 0.5) < 1e-9


# ---- Lloyd's k-means (similarity.kmeans) -------------------------------- #


@pytest.fixture(scope="module")
def direction_clusters(spark):
    """3 planted direction cones in 8-dim: members of a cone are the base
    direction plus small deterministic jitter (cosine >= ~0.99 within a
    cone, ~0 across cones — the bases are axis-disjoint), so argmax-cosine
    k-means with k=3 must recover the planting exactly."""
    bases = {
        0: [1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        1: [0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0],
        2: [0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 0.0, 0.0],
    }
    rows = []
    for i in range(30):
        g = i % 3
        v = [
            b + (((i * 7 + j * 3) % 5) - 2) * 0.02 for j, b in enumerate(bases[g])
        ]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_recovers_planted_direction_clusters(spark, direction_clusters):
    from mr_crawly_spark.operators.similarity import kmeans

    assigned, cents = kmeans(direction_clusters, k=3, n_iter=3)
    rows = {r["vec_id"]: r["_list_id"] for r in assigned.collect()}
    assert len(rows) == 30
    groups = [{rows[i] for i in range(g, 30, 3)} for g in range(3)]
    for g in groups:
        assert len(g) == 1  # every cone lands in exactly one cluster
    labels = {next(iter(g)) for g in groups}
    assert len(labels) == 3  # and the cones stay apart
    assert len(cents) == 3 and all(len(c) == 8 for c in cents)


def test_kmeans_partition_invariance(spark, direction_clusters):
    """Decimal per-dim sums + 6dp boundary rounding make the centroid
    trajectory exact: repartitioning the input cannot change assignments."""
    from mr_crawly_spark.operators.similarity import kmeans

    a, ca = kmeans(direction_clusters, k=3, n_iter=2)
    b, cb = kmeans(direction_clusters.repartition(11), k=3, n_iter=2)
    assert ca == cb
    assert sorted(map(tuple, a.select("vec_id", "_list_id").collect())) == sorted(
        map(tuple, b.select("vec_id", "_list_id").collect())
    )


def test_kmeans_centroid_update_matches_numpy(spark):
    """One Lloyd iteration on a 2-cluster toy: the updated centroid must be
    the per-dim mean (rounded 6dp) of the vectors assigned to it."""
    import numpy as np

    from mr_crawly_spark.operators.similarity import ivf_centroids, kmeans

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [0.1, 0.9]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    _assigned, cents = kmeans(df, k=2, n_iter=1)
    init = ivf_centroids(df, 2)
    # seeds split one per cone here (md5 order) — each updated centroid is
    # the mean of its cone regardless of which seed drew which cone
    means = {
        tuple(round(x, 6) for x in np.mean([rows[0][1], rows[1][1]], axis=0)),
        tuple(round(x, 6) for x in np.mean([rows[2][1], rows[3][1]], axis=0)),
    }
    got = {tuple(c) for c in cents}
    assert got == means, (init, cents)


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """All-identical input with k=3: min-index ties send every vector to
    cluster 0; clusters 1 and 2 never receive members, so their centroids
    must survive the update untouched (the NOT-IN branch in the oracle)."""
    from mr_crawly_spark.operators.similarity import kmeans

    df = spark.createDataFrame(
        [(i, [0.5, 0.5, 0.5]) for i in range(9)],
        "vec_id long, embedding array<float>",
    )
    assigned, cents = kmeans(df, k=3, n_iter=2)
    assert {r["_list_id"] for r in assigned.collect()} == {0}
    assert len(cents) == 3
    assert cents[1] == cents[2] == [0.5, 0.5, 0.5]


def test_kmeans_more_clusters_than_vectors_collapses_k(spark):
    """k=8 on 3 vectors must not IndexError: every vector seeds its own
    cluster and the trajectory proceeds with k = n."""
    from mr_crawly_spark.operators.similarity import kmeans

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    assigned, cents = kmeans(df, k=8, n_iter=2)
    assert len(cents) == 3
    assert assigned.count() == 3
