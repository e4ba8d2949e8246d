"""TOML config + logging setup (reference config/configuration.py:1-85 and
config/handlers.py:1-52 — TOML-driven config and a console log handler).

Everything is stdlib (tomllib, logging); a config file is optional — CLI
flags and CrawlConfig defaults always work without one.

Example crawl.toml:

    [crawl]
    max_pages = 100
    max_rounds = 50
    use_freshness = true
    checkpoint_interval = 4

    [logging]
    level = "INFO"

The [crawl] keys are exactly CrawlConfig's fields. The PageRank slice
ordering and the crawl-trap gate have no key: a caller arms them with
CrawlEngine.refresh_pagerank() / refresh_trap_stats().
"""

from __future__ import annotations

import dataclasses
import logging
import sys
import tomllib

from mr_crawly_spark.engine import CrawlConfig

_FIELDS = {f.name for f in dataclasses.fields(CrawlConfig)}


def config_from_toml(path: str, warehouse: str, **overrides) -> CrawlConfig:
    """CrawlConfig from the [crawl] table of a TOML file; unknown keys are
    rejected loudly (silent typos in politeness knobs are crawl bans)."""
    with open(path, "rb") as f:
        doc = tomllib.load(f)
    crawl = doc.get("crawl", {})
    unknown = set(crawl) - _FIELDS
    if unknown:
        raise ValueError(f"unknown [crawl] keys in {path}: {sorted(unknown)}")
    kwargs = {**crawl, **{k: v for k, v in overrides.items() if v is not None}}
    return CrawlConfig(warehouse=warehouse, **kwargs)


def logging_level_from_toml(path: str) -> str:
    with open(path, "rb") as f:
        doc = tomllib.load(f)
    return doc.get("logging", {}).get("level", "INFO")


def _make_console_handler() -> logging.Handler:
    """The reference ships a Rich-based console handler
    (config/handlers.py:1-52); use rich.logging.RichHandler when the
    library is importable (markup timestamps, level colors, tracebacks),
    else fall back to a plain stderr formatter. The sandbox has no rich —
    the fallback is the tested path; the rich branch is exercised wherever
    the dependency exists (it is optional, never required)."""
    try:
        from rich.logging import RichHandler  # optional dependency

        return RichHandler(rich_tracebacks=True, show_path=False)
    except ImportError:
        h = logging.StreamHandler(sys.stderr)
        h.setFormatter(
            logging.Formatter(
                "%(asctime)s %(levelname)-7s %(name)s: %(message)s",
                datefmt="%H:%M:%S",
            )
        )
        return h


def setup_logging(level: str = "INFO") -> None:
    """Console handler for the engine's loggers (round metrics, flushes,
    warnings) — Rich when available, stdlib otherwise."""
    logger = logging.getLogger("mr_crawly_spark")
    logger.setLevel(level.upper())
    if not logger.handlers:
        logger.addHandler(_make_console_handler())
    logger.propagate = False
