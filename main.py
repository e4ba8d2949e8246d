"""spark-submit entry point (SURVEY.md §3.1).

    spark-submit --py-files <zip> main.py --hosts 8 --base-pages 40 \
        --max-pages 100 --warehouse /tmp/crawl_wh [--resume]
    spark-submit --py-files <zip> main.py https://site1.test/ \
        --warehouse /tmp/crawl_wh --max-pages 10 --delay 30

Mirrors the reference CLI (main.py:28-46: positional url, --max-pages,
--num_workers, --retries, --debug; README.md:45 --delay) with the
queue/worker knobs replaced by Spark-native ones (parallelism comes from
the cluster). ``--retries`` maps to CrawlConfig.max_retries and
``--delay`` to CrawlConfig.default_delay; the sequential oracle takes the
same values so the golden suite stays in lockstep at any setting.
"""

from __future__ import annotations

import argparse
import json

from mr_crawly_spark.datagen import corpus_to_spark, generate_corpus
from mr_crawly_spark.engine import CrawlConfig, CrawlEngine
from mr_crawly_spark.session import get_spark
from mr_crawly_spark.sources.corpus import CorpusFetcher


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="mr-crawly-spark crawl driver")
    p.add_argument("url", nargs="?", default=None,
                   help="single seed URL (reference CLI `main.py <url>`, "
                        "reference main.py:29): crawl just this seed's "
                        "host; overrides --seeds/--seeds-file")
    p.add_argument("--hosts", type=int, default=8)
    p.add_argument("--base-pages", type=int, default=40)
    p.add_argument("--hot-factor", type=int, default=6)
    p.add_argument("--seeds", type=int, default=None, help="number of seed hosts")
    p.add_argument("--seeds-file", default=None,
                   help="external seed list: url-per-line .txt, the "
                        "reference's seed_urls sqlite .db, or parquet "
                        "(overrides --seeds)")
    p.add_argument("--config", default=None, help="TOML config ([crawl]/[logging])")
    p.add_argument("--log-level", default=None)
    # crawl knobs default to None so the TOML/CLI merge can tell "explicitly
    # passed" from "unset" — an explicit value ALWAYS wins over the config
    # file, including explicit defaults and --no-use-freshness (ADVICE r2)
    p.add_argument("--max-pages", type=int, default=None)
    p.add_argument("--max-rounds", type=int, default=None)
    p.add_argument("--retries", type=int, default=None,
                   help="max fetch attempts per URL (reference main.py --retries)")
    p.add_argument("--delay", type=float, default=None,
                   help="default crawl delay in seconds for hosts without a "
                        "robots Crawl-delay (reference README --delay, "
                        "default 10.0); sets the per-round host budget "
                        "clamp(ROUND_SECONDS/delay)")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--corpus-path", default=None,
                   help="bucketed parquet corpus (else generate in-memory)")
    p.add_argument("--salt-partitions", type=int, default=None)
    p.add_argument("--use-freshness", action=argparse.BooleanOptionalAction,
                   default=None,
                   help="measured recrawl scheduling: schedule_recrawl "
                        "orders and paces re-fetches by observed change "
                        "rates instead of sitemap changefreq claims")
    p.add_argument("--archive-dedup", action=argparse.BooleanOptionalAction,
                   default=None,
                   help="content-addressed archive: recrawls re-store only "
                        "CHANGED content; every LIVE visit logs a tiny row "
                        "in the visits table. NOTE: with the default page "
                        "cache on (and --use-freshness off) recrawls are "
                        "served from cache, so no live fetches happen and "
                        "the visits log / change capture stay empty — pair "
                        "with --use-freshness, or set use_page_cache=false "
                        "in the [crawl] TOML config (ADVICE r5)")
    p.add_argument("--adaptive-politeness", action=argparse.BooleanOptionalAction,
                   default=None,
                   help="AIMD per-host throttling off observed transient-"
                        "failure rates: a failing host's budget halves, "
                        "healthy rounds recover it (never starved below 1)")
    p.add_argument("--debug", action="store_true",
                   help="DEBUG logging (reference main.py --debug)")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--force-reset", action="store_true",
                   help="allow a fresh bootstrap to clear a non-empty warehouse")
    p.add_argument("--master", default=None)
    p.add_argument("--num-workers", type=int, default=None,
                   help="reference main.py --num_workers parity: local "
                        "parallelism (local[N]) when --master is not given; "
                        "on a cluster, executor count comes from spark-submit")
    return p


def resolve_config(args: argparse.Namespace) -> CrawlConfig:
    """Merge precedence: explicit CLI > TOML > CrawlConfig defaults. Every
    crawl knob defaults to None in argparse, so "explicitly passed" is
    distinguishable from "unset" — --no-use-freshness really disables a
    TOML-enabled freshness scheduler, and passing a value equal to the
    dataclass default still overrides the config file (ADVICE r2)."""
    from mr_crawly_spark.config import config_from_toml

    overrides = dict(
        max_pages=args.max_pages,
        max_rounds=args.max_rounds,
        max_retries=args.retries,
        default_delay=args.delay,
        salt_partitions=args.salt_partitions,
        use_freshness=args.use_freshness,
        archive_dedup=args.archive_dedup,
        use_adaptive_politeness=args.adaptive_politeness,
        force_reset=args.force_reset or None,
    )
    if args.config:
        return config_from_toml(args.config, args.warehouse, **overrides)
    return CrawlConfig(
        warehouse=args.warehouse,
        **{k: v for k, v in overrides.items() if v is not None},
    )


def main(argv: list[str] | None = None) -> int:
    from mr_crawly_spark.config import (
        config_from_toml,
        logging_level_from_toml,
        setup_logging,
    )

    args = build_parser().parse_args(argv)
    level = (
        "DEBUG"
        if args.debug
        else args.log_level
        or (logging_level_from_toml(args.config) if args.config else "INFO")
    )
    setup_logging(level)
    master = args.master or (
        f"local[{args.num_workers}]" if args.num_workers else None
    )
    spark = get_spark(master=master)
    corpus = generate_corpus(
        n_hosts=args.hosts, base_pages=args.base_pages,
        hot_factor=args.hot_factor, n_seeds=args.seeds,
    )
    docs, robots, sitemaps, seeds = corpus_to_spark(spark, corpus)
    if args.url:
        # reference CLI parity: `main.py <url>` crawls that one seed (the
        # reference's positional url, main.py:29) — the generated corpus
        # still provides the fetchable documents/robots/sitemaps
        from mr_crawly_spark.sources.seeds import seeds_from_urls

        seeds = seeds_from_urls(spark, [args.url])
    elif args.seeds_file:
        from mr_crawly_spark.sources.seeds import load_seeds

        seeds = load_seeds(spark, args.seeds_file)
    fetcher = (
        CorpusFetcher(spark, path=args.corpus_path)
        if args.corpus_path
        else CorpusFetcher(spark, documents=docs)
    )
    cfg = resolve_config(args)
    engine = CrawlEngine(spark, fetcher, robots, sitemaps, seeds, cfg)
    history = engine.run(fresh=not args.resume)
    print(json.dumps({
        "rounds": engine.round,
        "visited": engine.visited_count,
        "history": history,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
