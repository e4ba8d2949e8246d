"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(seed, size)``. The engine only ever
sees the generated inputs, through the same public constructors
``main.py`` uses (``Corpus`` -> ``corpus_to_spark``, DataFrames, parquet
tables).
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass

import numpy as np

from mr_crawly_spark.datagen import Corpus, generate_corpus

# ---------------------------------------------------------------- sizes ---


@dataclass(frozen=True)
class CrawlSize:
    n_hosts: int
    base_pages: int
    hot_factor: int
    first_leg_rounds: int   # leg 1 stops here (max_rounds)
    total_rounds: int       # leg 2 resumes in a fresh engine up to here


@dataclass(frozen=True)
class TablesSize:
    n_customers: int
    n_orders: int
    n_lineitems: int
    n_parts: int
    n_suppliers: int
    n_documents: int
    min_passes: int = 6   # timed passes, more until --seconds have passed


SIZES = {
    "bench": {
        # the bench.py crawl_e2e corpus shape: ~16 pages per round
        "crawl": CrawlSize(n_hosts=40, base_pages=16, hot_factor=4,
                           first_leg_rounds=2, total_rounds=3),
        # a sixth of TESTDATA sf0.1 for the fact tables
        "tables": TablesSize(n_customers=2_500, n_orders=25_000,
                             n_lineitems=100_000, n_parts=4_000,
                             n_suppliers=200, n_documents=2_000),
    },
    # for the benchmark's own tests: every path, seconds per workload
    "tiny": {
        "crawl": CrawlSize(n_hosts=4, base_pages=6, hot_factor=2,
                           first_leg_rounds=2, total_rounds=4),
        "tables": TablesSize(n_customers=300, n_orders=3_000,
                             n_lineitems=12_000, n_parts=400,
                             n_suppliers=40, n_documents=300, min_passes=2),
    },
}


def seed_int(seed: int, salt: str) -> int:
    """Stable 60-bit integer of (seed, salt); no process hash salt."""
    return int(hashlib.md5(f"{salt}:{seed}".encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------- crawl ---

_HOST_RE = re.compile(r"\bsite(\d+)\.test\b")


def seeded_corpus(seed: int, size: CrawlSize) -> Corpus:
    """``generate_corpus`` output with seed-salted host names.

    Every host gets the same prefix, so host sort order (which drives the
    in-round processing order) and the link graph are unchanged, while
    URLs, url hashes and the transient-failure pattern (md5 of the URL)
    change with the seed."""
    base = generate_corpus(n_hosts=size.n_hosts, base_pages=size.base_pages,
                           hot_factor=size.hot_factor, n_seeds=size.n_hosts)
    tag = f"s{seed_int(seed, 'hosts') % 46656:03x}"
    sub = lambda s: s if s is None else _HOST_RE.sub(rf"{tag}-site\1.test", s)  # noqa: E731

    def rename(row: dict) -> dict:
        out = {}
        for k, v in row.items():
            if isinstance(v, str):
                out[k] = sub(v)
            elif isinstance(v, list):
                out[k] = [rename(x) if isinstance(x, dict) else sub(x) for x in v]
            else:
                out[k] = v
        return out

    return Corpus(
        documents=[rename(d) for d in base.documents],
        robots=[rename(r) for r in base.robots],
        sitemaps_raw=[rename(s) for s in base.sitemaps_raw],
        seeds=[rename(s) for s in base.seeds],
        hosts=[sub(h) for h in base.hosts],
    )


# --------------------------------------------------------------- tables ---

TABLE_NAMES = ("customer", "orders", "lineitem", "documents")
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_WORDS = np.array(
    ("a the key agg row scan slow fast table value part hash merge batch "
     "spark line sort window order data column join small customer query "
     "big stream group filter vector").split()
)
_LANGS = np.array(["en", "en", "en", "es", "zh", "de", "fr"])


def generate_tables(seed: int, size: TablesSize) -> dict:
    """TPC-H-ish ``customer``/``orders``/``lineitem`` plus ``documents``
    with the column names and types of the fixture tables, as pyarrow
    tables. About 1% of documents are verbatim copies of another, so exact
    dedup has groups to find."""
    import pyarrow as pa

    rng = np.random.default_rng(seed_int(seed, "tables"))
    ts = lambda days: pa.array(  # noqa: E731
        (np.datetime64("1992-01-01") + days.astype("timedelta64[D]")).astype("datetime64[us]")
    )
    nc, no, nl = size.n_customers, size.n_orders, size.n_lineitems
    custkey = np.arange(nc, dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": _SEGMENTS[rng.integers(0, len(_SEGMENTS), nc)],
    })
    orderkey = np.arange(no, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": orderkey,
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, no), 2),
        "o_orderdate": ts(rng.integers(0, 2400, no)),
        "o_orderpriority": _PRIORITIES[rng.integers(0, len(_PRIORITIES), no)],
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, size.n_parts, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, size.n_suppliers, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": ts(rng.integers(0, 2500, nl)),
    })
    nd = size.n_documents
    n_words = rng.integers(8, 96, nd)
    words = _WORDS[rng.integers(0, len(_WORDS), int(n_words.sum()))]
    cuts = np.cumsum(n_words)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    for i in np.flatnonzero(rng.random(nd) < 0.01):
        texts[i] = texts[int(rng.integers(0, nd))]
    documents = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.integers(0, len(_LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem,
            "documents": documents}


def write_tables(tables: dict, out_dir: str) -> None:
    """One single-row-group parquet file per table, as in TESTDATA.md."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
