"""URL canonicalization + hashing (SURVEY.md §2.2 P1-P5).

The reference absolutizes hrefs with ``urljoin`` (parser.py:51) and keys its
seen-set on raw URL strings (manager.py:61). The north_rule upgrades this to
RFC-3986 canonicalization + 64-bit hashing:

- absolutize against the source page (urljoin — includes dot-segment removal)
- lowercase scheme and host
- strip default ports (:80 http, :443 https)
- strip fragments
- normalize percent-encoding (decode unreserved chars, uppercase hex)
- empty path -> "/"

The scalar function is shared with the sequential oracle (oracle/crawler.py)
so "same canonical form" is definitional; golden-pair unit tests in
tests/test_urls.py pin the actual behavior. On the cluster the work runs as a
vectorized Arrow pandas UDF (no per-row Python in the plan), and hashing uses
the built-in ``xxhash64`` (JVM-side, whole-stage codegen).
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_DEFAULT_PORTS = {"http": "80", "https": "443"}
# RFC 3986 unreserved: ALPHA / DIGIT / "-" / "." / "_" / "~"
_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = re.compile(r"%([0-9a-fA-F]{2})")


def _normalize_percent(s: str) -> str:
    """Decode percent-escapes of unreserved chars; uppercase the rest."""

    def repl(m: re.Match[str]) -> str:
        ch = chr(int(m.group(1), 16))
        return ch if ch in _UNRESERVED else "%" + m.group(1).upper()

    return _PCT_RE.sub(repl, s)


# Fast-path character gate: printable ASCII minus space, ';' (urlparse
# params semantics), '[', '\\', ']' (IPv6 / oddball netlocs). Anything
# outside falls back to the urllib-exact slow path, so the fast resolver
# never has to model WHATWG control-char stripping, params splitting or
# bracketed-host validation.
_FAST_SAFE = re.compile(r"[!-:<-Z^-~]*\Z")


def canonicalize_url(base: str | None, href: str | None) -> str | None:
    """RFC-3986 canonical form of ``href`` resolved against ``base``.

    Returns None for empty/unsupported (non-http[s]) results — callers filter
    nulls, matching the reference's href-present filter (parser.py:48).

    Hot path of the whole engine (~10^10 calls at crawl scale): a
    hand-rolled resolver (replicating CPython urllib.parse.urljoin /
    urlsplit bit-for-bit for the shapes it accepts — see
    tests/test_urls_property.py differential suite) handles the common
    clean-ASCII case at ~4x the urllib path's speed; anything unusual
    (userinfo/ports/IPv6 netlocs, params ';', control chars, non-http
    schemes, uppercase schemes, query/fragment-bearing bases) falls back
    to :func:`_canonicalize_url_urllib`, the original urllib-built form.
    Golden pairs in tests/test_urls.py pin the behavior of both paths.
    """
    if href is None:
        return None
    href = href.strip()
    if not href:
        return None
    out = _canonicalize_fast(base, href)
    if out is not _FALLBACK:
        return out
    return _canonicalize_url_urllib(base, href)


_FALLBACK = object()


def _canonicalize_fast(base: str | None, href: str):
    """Canonicalize the easy shapes without urllib; ``_FALLBACK`` when the
    inputs need the full urllib semantics. Exactness contract: for every
    input it does NOT return ``_FALLBACK`` on, the result equals
    ``_canonicalize_url_urllib(base, href)``."""
    if not _FAST_SAFE.fullmatch(href):
        return _FALLBACK
    if href.startswith("https://"):
        scheme, rest = "https", href[8:]
    elif href.startswith("http://"):
        scheme, rest = "http", href[7:]
    else:
        # ---- relative reference: resolve against a clean base ----------
        if not base:
            return _FALLBACK  # absolute-only path with no base
        if href.startswith("//"):
            return _FALLBACK  # network-path reference
        if base.startswith("https://"):
            scheme, brest = "https", base[8:]
        elif base.startswith("http://"):
            scheme, brest = "http", base[7:]
        else:
            return _FALLBACK
        if not _FAST_SAFE.fullmatch(base):
            return _FALLBACK
        i = brest.find("/")
        if i <= 0:
            return _FALLBACK  # base without a path (or empty netloc)
        netloc = brest[:i]
        bpath = brest[i:]
        if "@" in netloc or ":" in netloc:
            return _FALLBACK  # userinfo/port: urlsplit property semantics
        if "?" in bpath or "#" in bpath:
            return _FALLBACK  # base query/fragment participate in urljoin
        h = href
        j = h.find("#")
        if j >= 0:
            h = h[:j]  # canonical output drops the fragment anyway
        q = h.find("?")
        if q >= 0:
            hpath, query = h[:q], h[q + 1 :]
        else:
            hpath, query = h, ""
        k = hpath.find(":")
        if k >= 0 and (k < hpath.find("/") or "/" not in hpath):
            return _FALLBACK  # scheme-shaped prefix ("mailto:", "p:x")
        if not hpath:
            # query-only / fragment-only href: urljoin keeps base path
            # verbatim (no dot resolution on this branch)
            path = bpath
        else:
            # CPython urllib.parse.urljoin, verbatim semantics
            if hpath.startswith("/"):
                segments = hpath.split("/")
            else:
                base_parts = bpath.split("/")
                if base_parts[-1] != "":
                    del base_parts[-1]
                segments = base_parts + hpath.split("/")
                segments[1:-1] = [s for s in segments[1:-1] if s]
            resolved: list[str] = []
            for seg in segments:
                if seg == "..":
                    if resolved:
                        resolved.pop()
                elif seg == ".":
                    continue
                else:
                    resolved.append(seg)
            if segments[-1] in (".", ".."):
                resolved.append("")
            path = "/".join(resolved) or "/"
        if "%" in path:
            path = _normalize_percent(path)
        if "%" in query:
            query = _normalize_percent(query)
        if not path.startswith("/"):
            path = "/" + path  # urlunsplit prepends when netloc is set
        out = scheme + "://" + netloc.lower() + path
        return out + "?" + query if query else out

    # ---- absolute http(s) href: parse without urlsplit ------------------
    nl_end = len(rest)
    for ch in "/?#":
        p = rest.find(ch)
        if 0 <= p < nl_end:
            nl_end = p
    netloc = rest[:nl_end]
    if not netloc or "@" in netloc:
        return _FALLBACK
    ci = netloc.find(":")
    if ci >= 0:
        # explicit port: replicate urlsplit's .port validation + the
        # default-port strip (int() collapses leading zeros exactly like
        # the slow path's str(parts.port))
        host, port_str = netloc[:ci], netloc[ci + 1 :]
        if not host or not port_str.isdigit():
            return _FALLBACK  # empty/odd ports, second ':' (isdigit False)
        port = int(port_str)
        if port > 65535:
            return _FALLBACK  # slow path raises -> None
        host = host.lower()
        default = "443" if scheme == "https" else "80"
        netloc = host if str(port) == default else f"{host}:{port}"
    else:
        netloc = netloc.lower()
    tail = rest[nl_end:]
    j = tail.find("#")
    if j >= 0:
        tail = tail[:j]
    q = tail.find("?")
    if q >= 0:
        path, query = tail[:q], tail[q + 1 :]
    else:
        path, query = tail, ""
    if "%" in path:
        path = _normalize_percent(path)
    if "%" in query:
        query = _normalize_percent(query)
    out = scheme + "://" + netloc.lower() + (path or "/")
    return out + "?" + query if query else out


def _canonicalize_url_urllib(base: str | None, href: str) -> str | None:
    """The original urllib-built canonicalizer (slow path + semantics
    reference for the differential tests). ``href`` is already stripped
    and non-empty."""
    try:
        if href.startswith(("http://", "https://")) or not base:
            absolute = href
        else:
            # inside the try: urljoin itself urlsplits and raises on
            # malformed bracket netlocs ("//[x" → Invalid IPv6 URL) — a
            # crawler meets those, and a crash would kill the whole batch
            absolute = urljoin(base, href)
        parts = urlsplit(absolute)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    raw_netloc = parts.netloc
    if "@" not in raw_netloc and ":" not in raw_netloc:
        host = raw_netloc.lower()
        port = None
    else:
        try:
            host = (parts.hostname or "").lower()
            port = parts.port
        except ValueError:
            return None
    if not host:
        return None
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = parts.path
    if "%" in path:
        path = _normalize_percent(path)
    path = path or "/"
    query = parts.query
    if "%" in query:
        query = _normalize_percent(query)
    # fragment dropped (urlunsplit with "")
    return urlunsplit((scheme, netloc, path, query, ""))


def canonicalize_pairs(bases: pd.Series, hrefs: pd.Series) -> pd.Series:
    """Vectorized core: canonicalize href[i] against base[i]."""
    return pd.Series(
        [canonicalize_url(b, h) for b, h in zip(bases, hrefs)], dtype="object"
    )


@pandas_udf(StringType())
def _canonicalize_udf_det(bases: pd.Series, hrefs: pd.Series) -> pd.Series:
    """Arrow-batched scalar pandas UDF: (base, href) -> canonical url or null.

    Replaces the per-row ``urljoin`` at parser.py:51. String work must run in
    Python (urllib semantics are the contract); Arrow batching keeps the
    transfer columnar — ~10-100x over row-at-a-time UDFs. The per-row work
    is ~7.6 us per href; what dominates a small crawl round is the fixed
    cost of each Python task, ~0.2 worker CPU-s whatever its row count
    (4 CPUs, CPython 3.11; an identity pandas UDF costs the same). About
    80% of it is pyspark's per-task ``setup_spark_files``, whose
    ``importlib.invalidate_caches()`` makes every cached zipimporter
    re-read the pyspark.zip directory. So callers size the UDF's stage
    from their row bound (sizing.python_width) instead of letting it
    inherit the upstream shuffle width.
    """
    return canonicalize_pairs(bases, hrefs)


# Exported as NON-DETERMINISTIC (it is pure — this is an optimizer fence,
# not a semantics change). Spark rejects it in a join condition
# (INVALID_NON_DETERMINISTIC_EXPRESSIONS) and in other operators that need
# deterministic input; a groupBy key still works only because the analyzer
# first pulls it into a Project. Use _canonicalize_udf_det, the
# deterministic form of the same UDF, there. Every consumer filters the
# UDF's output (isNotNull, same-domain), and Catalyst pushes such filters
# BELOW the projection by re-evaluating the UDF inside the filter — the
# measured plans carried 4 ArrowEvalPython nodes on the frontier candidate
# path and 6 on extract_outlinks, i.e. the whole corpus crossed the Python
# boundary up to 6x per crawl round. asNondeterministic() forbids the
# duplication (one ArrowEvalPython per plan); the blocked
# filter-pushdown-past-the-UDF is worthless here anyway (the filters all
# depend on the UDF's own output).
canonicalize_udf = _canonicalize_udf_det.asNondeterministic()


def url_hash_col(url: Column) -> Column:
    """64-bit seen-set key: built-in xxhash64 — JVM-side, codegen-friendly (P3)."""
    return F.xxhash64(url)


def url_host_col(url: Column) -> Column:
    """Host of a canonical URL via built-in parse_url (P1) — stays JVM-side."""
    return F.lower(F.parse_url(url, F.lit("HOST")))


def url_path_col(url: Column) -> Column:
    """Path component (for robots prefix matching)."""
    return F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("/"))


# ---- URL quality / spam features (training-data pipeline brief) -------- #
# All plain string functions shared with DuckDB (no parse_url — the oracle
# must recompute these on the same strings), so every feature is codegen'd
# JVM work and has an exact SQL twin. A crawl frontier at 10^10 URLs gates
# on these BEFORE fetching: features are scan-only (zero shuffles).

URL_SPAM_TOKENS = ["casino", "viagra", "free-money", "xxx-"]


def url_len_col(url: Column) -> Column:
    return F.length(url).cast("bigint")


def url_digit_ratio_col(url: Column) -> Column:
    """Digits / total chars — high ratios flag machine-generated URLs."""
    n_digits = F.length(F.regexp_replace(url, r"[^0-9]", ""))
    return F.round(n_digits / F.greatest(F.length(url), F.lit(1)), 4)


def url_depth_col(url: Column) -> Column:
    """Path depth = '/' count minus the scheme's two — deep paths correlate
    with calendar/faceted-navigation traps."""
    return (
        F.length(url) - F.length(F.replace(url, F.lit("/"), F.lit(""))) - 2
    ).cast("bigint")


def url_param_count_col(url: Column) -> Column:
    """Query-parameter count ('?' then 1 + '&' count); 0 when no query.
    The query string is everything after the FIRST '?' (RFC 3986 — a
    second '?' is part of the query value; substring_index(…, -1) would
    take the text after the LAST one and undercount tracking/redirect
    URLs, diverging from the oracle's split_part(url, '?', 2))."""
    q = F.substring(url, F.instr(url, "?") + 1, F.length(url))
    return (
        F.when(F.instr(url, "?") > 0, F.size(F.split(q, "&")))
        .otherwise(F.lit(0))
        .cast("bigint")
    )


def url_spam_flag_col(url: Column) -> Column:
    """Any spam token present (case-insensitive)."""
    hit = None
    for tok in URL_SPAM_TOKENS:
        c = F.contains(F.lower(url), F.lit(tok))
        hit = c if hit is None else (hit | c)
    return hit


def url_quality_col(url: Column) -> Column:
    """Composite in [0,1]: each risk factor multiplies a penalty — the
    frontier keeps url_quality >= threshold (cheap pre-fetch gate)."""
    q = F.lit(1.0)
    q = q * F.when(url_len_col(url) > 120, F.lit(0.5)).otherwise(F.lit(1.0))
    q = q * F.when(url_digit_ratio_col(url) > 0.3, F.lit(0.6)).otherwise(
        F.lit(1.0)
    )
    q = q * F.when(url_depth_col(url) > 6, F.lit(0.7)).otherwise(F.lit(1.0))
    q = q * F.when(url_param_count_col(url) > 3, F.lit(0.7)).otherwise(
        F.lit(1.0)
    )
    q = q * F.when(url_spam_flag_col(url), F.lit(0.1)).otherwise(F.lit(1.0))
    return F.round(q, 4)
