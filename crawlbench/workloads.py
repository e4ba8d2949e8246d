"""The benchmark workloads.

Each workload sets up its inputs, checks its answers outside the timed
window, and measures whole operations: a fixed minimum, then more until
``ctx.seconds`` have passed. A traced run measures two phases on the same
inputs, untraced then traced. The per-layer numbers come from the traced
phase, and the tracing overhead is its end-to-end result against the
untraced phase. The JVM warms up through both, so the overhead reads low.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

from crawlbench import checks, inputs
from crawlbench.hostinfo import cpu_between, cpu_sample, tree_peak_rss_mb
from crawlbench.spec import END_TO_END, PER_LAYER, QUERIES
from crawlbench.trace import EventLog, Tracer, flush_event_log


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    size: str = "bench"
    work_dir: str = "."
    event_dir: str | None = None   # set when the session logs events
    get_spark_s: float = 0.0


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)   # (value, unit) by name
    layers: dict = field(default_factory=dict)
    tracer: Tracer | None = None   # the traced phase's spans

    def check(self, problems: list[str]) -> None:
        """One answer check: a non-empty problem list is one failure."""
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    def error(self, what: str) -> None:
        """An attempted operation raised: count the failure, keep the
        traceback."""
        self.failed += 1
        self.problems.append(f"{what}: {traceback.format_exc(limit=3)}")
        traceback.print_exc(file=sys.stderr)


CPU_PARTS = ("driver", "jvm", "workers", "jit")   # of hostinfo.cpu_between


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _until(seconds: float, min_reps: int):
    """Yield rep numbers until ``seconds`` have passed and at least
    ``min_reps`` reps ran: whole operations only, never a cut one."""
    deadline = time.perf_counter() + seconds
    i = 0
    while i < min_reps or time.perf_counter() < deadline:
        yield i
        i += 1


def _timed_reps(fn, reps: int = 3):
    """Run fn ``reps`` times; (last result, median seconds)."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return out, median(times)


def _setup(ctx: Ctx, res: Result, generate_s: float, to_spark_s: float,
           oracle_s: float) -> dict:
    """Called when set-up ends. setup_s is the CPU time the process tree
    has used so far: interpreter start, session start, input generation
    (three times over), handing inputs to Spark and the reference answers.
    The wall time of each part is printed with the details."""
    parts = {"get_spark_s": ctx.get_spark_s, "generate_s": generate_s,
             "to_spark_s": to_spark_s, "oracle_s": oracle_s}
    res.detail.update({f"setup.{k}": (v, "s") for k, v in parts.items()})
    res.detail["setup_wall_s"] = (sum(parts.values()), "s")
    return {"datagen.generate_s": generate_s, "datagen.to_spark_s": to_spark_s,
            "setup_s": cpu_between(None, cpu_sample())["total"]}


def _phases(ctx: Ctx):
    """(phase name, traced?) in run order."""
    if not ctx.trace:
        return [("untraced", False)]
    return [("untraced", False), ("traced", True)]


def _spark_totals(ev: EventLog, t0: float, t1: float) -> dict:
    return {f"spark.{k}": v for k, v in ev.totals(ev.jobs_between(t0, t1)).items()}


def _event_log(ctx: Ctx) -> EventLog:
    flush_event_log(ctx.spark)
    return EventLog.from_dir(ctx.event_dir)


# ================================================================ crawl ===

# (module attribute or class method, span name): the operator calls of a
# round. They only build plans; execution happens in the round's actions.
PLAN_SPANS = (
    ("engine", "select_slice", "frontier.select_slice"),
    ("engine", "new_frontier_entries", "frontier.new_frontier_entries"),
    ("engine", "robots_gate", "politeness.robots_gate"),
    ("fetcher", "fetch", "corpus.fetch"),
    ("engine", "extract_outlinks", "parse.extract_outlinks"),
    ("seen", "filter_unseen", "seen.filter_unseen"),
)
OTHER_SPANS = (
    ("engine", "host_budgets", "politeness.host_budgets"),
    ("engine", "expand_sitemaps", "sitemap.expand_sitemaps"),
    ("catalog", "load_merge", "catalog.load_merge"),
    ("catalog", "load", "catalog.load"),
    ("catalog", "rollback_to", "catalog.rollback_to"),
)


def _commit_info(span, manifest, _args) -> None:
    d = manifest["data_dir"]
    span.info = {
        "table": manifest["table"],
        "rows": manifest["n_rows"],
        "files": manifest["n_files"],
        "bytes": sum(os.path.getsize(os.path.join(d, p["file"]))
                     for p in manifest["partitions"]),
    }


def _install_crawl_spans(tracer: Tracer, spark, full: bool) -> None:
    """Engine spans always (the end-to-end metrics need them); operator,
    catalog and py4j tracing only in a traced phase."""
    import mr_crawly_spark.engine as engine_mod
    from mr_crawly_spark.operators import seen as seen_mod
    from mr_crawly_spark.plans.catalog import SnapshotCatalog
    from mr_crawly_spark.sources.corpus import CorpusFetcher

    E = engine_mod.CrawlEngine
    tracer.wrap(E, "bootstrap", "engine.bootstrap")
    tracer.wrap(E, "run_round", "engine.run_round", round_of=lambda eng: eng.round + 1,
                cpu=True)
    tracer.wrap(E, "flush", "engine.flush")
    tracer.wrap(E, "resume", "engine.resume")
    if not full:
        return
    owners = {"engine": engine_mod, "fetcher": CorpusFetcher, "seen": seen_mod,
              "catalog": SnapshotCatalog}
    for owner, attr, name in PLAN_SPANS + OTHER_SPANS:
        tracer.wrap(owners[owner], attr, name)
    tracer.wrap(SnapshotCatalog, "commit", "catalog.commit", on_result=_commit_info)
    tracer.wrap(SnapshotCatalog, "commit_pylist", "catalog.commit", on_result=_commit_info)
    tracer.count_py4j(spark)


def _crawl_once(ctx: Ctx, frames, size: inputs.CrawlSize, tracer: Tracer) -> dict:
    """Leg 1 crawls to ``first_leg_rounds``; a fresh engine on the same
    warehouse then resumes and crawls to ``total_rounds``."""
    from mr_crawly_spark.engine import CrawlConfig, CrawlEngine
    from mr_crawly_spark.sources.corpus import CorpusFetcher

    spark = ctx.spark
    docs, robots, sitemaps, seeds = frames
    wh = tempfile.mkdtemp(prefix="crawl_", dir=ctx.work_dir)

    def engine(max_rounds: int) -> CrawlEngine:
        return CrawlEngine(spark, CorpusFetcher(spark, documents=docs), robots,
                           sitemaps, seeds, CrawlConfig(warehouse=wh, max_rounds=max_rounds))

    first = engine(size.first_leg_rounds)
    # the crawl_e2e shuffle width: a round's state is tiny
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tracer.span("crawl", cpu=True) as crawl:
            with tracer.span("crawl.leg1"):
                first.run()
            with tracer.span("crawl.leg2"):
                second = engine(size.total_rounds)
                with tracer.span("crawl.resume_run") as resume_run:
                    second.run(fresh=False)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    rounds = tracer.named("engine.run_round")
    flushes = tracer.named("engine.flush")
    by_id = {s.id: s for s in tracer.spans}
    flush_rounds = [by_id[f.parent] for f in flushes
                    if f.parent is not None and by_id[f.parent].name == "engine.run_round"]
    final_flushes = [f for f in flushes if f.parent is None
                     or by_id[f.parent].name != "engine.run_round"]
    resumed = [r for r in rounds if r.start >= resume_run.start]
    boot = tracer.named("engine.bootstrap")
    return {
        "engine": second, "t0": crawl.start, "t1": crawl.end, "cpu": crawl.cpu,
        "pages": second.visited_count,
        "rounds": [r.duration for r in rounds],
        "round_cpu": [r.cpu for r in rounds],
        "flush_rounds": [r.duration for r in flush_rounds + final_flushes],
        "bootstrap_s": boot[0].duration if boot else 0.0,
        "resume_s": (resumed[0].end - resume_run.start) if resumed else resume_run.duration,
        "ops": len(rounds) + len(flushes) + 1,   # rounds, flushes, the resume
    }


def _crawl_layers(tracer: Tracer, ev: EventLog, run: dict) -> dict:
    rounds = tracer.named("engine.run_round")
    plan_names = {n for _, _, n in PLAN_SPANS}
    per = []
    for r in rounds:
        jobs = ev.jobs_between(r.start, r.end)
        busy = ev.busy(jobs, r.start, r.end)
        plan = sum(s.duration for s in tracer.subtree(r) if s.name in plan_names)
        tasks = ev.tasks_of(jobs)
        per.append({
            "jobs": len(jobs), "stages": len(ev.stages_of(jobs)),
            "tasks": len(tasks),
            "python_s": sum(t.python_s for t in tasks),
            "python_bytes": sum(t.python_bytes for t in tasks),
            "broadcast": sum(j.broadcast for j in jobs),
            "busy": busy, "plan": plan, "gap": r.duration - busy - plan,
            "py4j": r.py4j_calls, "self": tracer.self_time(r),
        })
    avg = lambda k: mean(p[k] for p in per)  # noqa: E731
    span_mean = lambda n: mean(s.duration for s in tracer.named(n))  # noqa: E731
    jobs_in = lambda n: sum(len(ev.jobs_between(s.start, s.end))  # noqa: E731
                            for s in tracer.named(n))
    commits = tracer.named("catalog.commit")
    written = sum(c.info.get("bytes", 0) for c in commits)
    links = sum(c.info.get("rows", 0) for c in commits if c.info.get("table") == "links")
    pages = max(run["pages"], 1)
    n_rounds = max(len(rounds), 1)
    return {
        "engine.jobs_per_round": avg("jobs"),
        "engine.stages_per_round": avg("stages"),
        "engine.tasks_per_round": avg("tasks"),
        "engine.broadcast_jobs_per_round": avg("broadcast"),
        "engine.job_busy_s_per_round": avg("busy"),
        "engine.plan_build_s_per_round": avg("plan"),
        "engine.driver_gap_s_per_round": avg("gap"),
        "engine.py4j_calls_per_round": avg("py4j"),
        "engine.round_self_s": avg("self"),
        "frontier.select_slice_build_s": span_mean("frontier.select_slice"),
        "frontier.new_entries_build_s": span_mean("frontier.new_frontier_entries"),
        "politeness.robots_gate_build_s": span_mean("politeness.robots_gate"),
        "politeness.host_budgets_jobs": float(jobs_in("politeness.host_budgets")),
        "corpus.fetch_build_s": span_mean("corpus.fetch"),
        "corpus.fetch_jobs_per_round": jobs_in("corpus.fetch") / n_rounds,
        "parse.extract_outlinks_build_s": span_mean("parse.extract_outlinks"),
        "parse.links_per_page": links / pages,
        # the canonicalizer is the engine's only Python UDF
        "urls.canonicalize_exec_s_per_round": avg("python_s"),
        "urls.canonicalize_bytes_per_round": avg("python_bytes"),
        "seen.filter_unseen_build_s": span_mean("seen.filter_unseen"),
        "sitemap.expand_build_s": span_mean("sitemap.expand_sitemaps"),
        "sitemap.bootstrap_jobs": float(jobs_in("engine.bootstrap")),
        "catalog.commits": float(len(commits)),
        "catalog.commit_s": sum(c.duration for c in commits),
        "catalog.bytes_written": float(written),
        "catalog.files_written": float(sum(c.info.get("files", 0) for c in commits)),
        "catalog.bytes_per_page": written / pages,
        "catalog.load_merge_s": sum(s.duration for s in tracer.named("catalog.load_merge")),
        "catalog.rollback_s": sum(s.duration for s in tracer.named("catalog.rollback_to")),
        **_spark_totals(ev, run["t0"], run["t1"]),
    }


def _round_cpu(run: dict, part: str) -> float:
    """One part's CPU seconds per round, over every round."""
    return mean(c[part] for c in run["round_cpu"])


def crawl_rounds(ctx: Ctx, res: Result) -> dict:
    from mr_crawly_spark.datagen import corpus_to_spark
    from oracle.crawler import OracleCrawler

    size = inputs.SIZES[ctx.size]["crawl"]
    corpus, gen_s = _timed_reps(lambda: inputs.seeded_corpus(ctx.seed, size))
    t0 = time.perf_counter()
    oracle = OracleCrawler(corpus, max_rounds=size.total_rounds).run()
    oracle_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    frames = corpus_to_spark(ctx.spark, corpus)
    to_spark_s = time.perf_counter() - t0
    # no warm-up: a crawl that warms the JVM up costs as much as the
    # measured one, so the first crawl runs on a cold JVM. Its first round
    # is left out of the per-round wall times; bootstrap_s carries the
    # warm-up.
    setup = _setup(ctx, res, gen_s, to_spark_s, oracle_s)

    runs = {}
    for phase, traced in _phases(ctx):
        tracer = Tracer()
        _install_crawl_spans(tracer, ctx.spark, full=traced)
        try:
            run = _crawl_once(ctx, frames, size, tracer)
        except Exception:
            res.attempted += 1
            res.error(f"crawl ({phase})")
            return setup
        finally:
            tracer.restore()
        res.attempted += run["ops"]
        try:
            res.check(checks.check_crawl(*checks.crawl_answer(run["engine"]), oracle))
        except Exception:
            res.error(f"crawl ({phase}) answer check")
        run["tracer"] = tracer
        runs[phase] = run

    base = runs["untraced"]
    wall = base["t1"] - base["t0"]
    rounds = base["rounds"]
    out = dict(setup)
    out["cpu_s_per_op"] = _round_cpu(base, "work")
    out["cpu_s_per_item"] = base["cpu"]["work"] / max(base["pages"], 1)
    out["engine.bootstrap_s"] = base["bootstrap_s"]
    out["engine.resume_s"] = base["resume_s"]
    out["engine.flush_round_s_p50"] = median(base["flush_rounds"])
    res.detail.update({
        "crawl_cpu_s": (base["cpu"]["work"], "s"),
        "crawl_jit_cpu_s": (base["cpu"]["jit"], "s"),
        "round_cpu_s_each": ([c["work"] for c in base["round_cpu"]], "s"),
        "round_jit_cpu_s_each": ([c["jit"] for c in base["round_cpu"]], "s"),
        "crawl_pages_per_s": (base["pages"] / wall, "pages/s"),
        "round_s_p50": (median(rounds[1:]), "s"),
        "round_s_max": (max(rounds[1:], default=0.0), "s"),
        "round_samples": (len(rounds[1:]), "count"),
        "round_s_each": (rounds, "s"),
        "flush_round_s_p50": (out["engine.flush_round_s_p50"], "s"),
        "bootstrap_s": (base["bootstrap_s"], "s"),
        "resume_s": (base["resume_s"], "s"),
        "pages": (base["pages"], "count"),
    })
    if ctx.trace:
        t = runs["traced"]
        out.update(_crawl_layers(t["tracer"], _event_log(ctx), t))
        out.update({f"cpu.{p}_s_per_op": _round_cpu(t, p) for p in CPU_PARTS})
        out["trace.overhead_frac"] = _round_cpu(t, "work") / out["cpu_s_per_op"] - 1.0
        out["trace.spans"] = float(len(t["tracer"].spans))
        res.tracer = t["tracer"]
    return out


# ============================================================== queries ===


def _load_table_partitions(loaded: list) -> float:
    """Partition count of each table a query loaded: the loader's
    repartition width if it added one, else the scan's split count."""
    import re

    widths = []
    for (spark, sf_dir, name), df in loaded:
        path = os.path.join(sf_dir, f"{name}.parquet")
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        m = re.search(r"Repartition (\d+)", plan)
        widths.append(int(m.group(1)) if m else spark.read.parquet(path).rdd.getNumPartitions())
    return mean(widths)


def _query_passes(ctx: Ctx, qfns: dict, tables_dir: str, tracer: Tracer,
                  res: Result, seconds: float, min_passes: int) -> list[dict]:
    """Passes over every query; the spans of each pass by query name."""
    passes = []
    for _ in _until(seconds, min_passes):
        spans = {}
        for q in QUERIES:
            res.attempted += 1
            with tracer.span(f"query.{q}", cpu=True) as spans[q]:
                force(qfns[q](ctx.spark, tables_dir))
        passes.append(spans)
    return passes


def _cpu_per_query(passes: list[dict], part: str = "work") -> float:
    """One part's CPU seconds per query, over every query of ``passes``."""
    spans = [s for p in passes for s in p.values()]
    return sum(s.cpu[part] for s in spans) / max(len(spans), 1)


def _cpu_geomean(passes: list[dict]) -> float:
    """Geometric mean over queries of each one's mean CPU seconds."""
    return geomean(mean(p[q].cpu["work"] for p in passes if q in p) for q in QUERIES)


def sf_queries(ctx: Ctx, res: Result) -> dict:
    import duckdb

    import __spark_entry__ as entry

    size = inputs.SIZES[ctx.size]["tables"]
    tables, gen_s = _timed_reps(lambda: inputs.generate_tables(ctx.seed, size))
    tables_dir = os.path.join(ctx.work_dir, "tables")
    t0 = time.perf_counter()
    inputs.write_tables(tables, tables_dir)
    to_spark_s = time.perf_counter() - t0

    qfns, sqls = entry.queries(), entry.oracle_sql()
    t0 = time.perf_counter()
    con = duckdb.connect()
    try:
        con.execute("SET temp_directory = '%s'" % os.path.join(ctx.work_dir, "duckdb"))
        for t in inputs.TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{tables_dir}/{t}.parquet')")
        want = {}
        for q in QUERIES:
            r = con.execute(sqls[q])
            want[q] = ([d[0] for d in r.description], r.fetchall())
    finally:
        con.close()
    oracle_s = time.perf_counter() - t0

    out = _setup(ctx, res, gen_s, to_spark_s, oracle_s)

    # the first pass collects every result and checks it; it runs on a
    # cold JVM, so its wall times are left out of the timed passes
    checked, cold = {}, Tracer()
    for q in QUERIES:
        res.attempted += 1
        try:
            with cold.span(f"query.{q}", cpu=True) as checked[q]:
                sdf = qfns[q](ctx.spark, tables_dir)
                got = (sdf.columns, [tuple(r) for r in sdf.collect()])
        except Exception:
            res.error(f"query {q} check pass")
            continue
        res.check(checks.check_rows(q, *got, *want[q]))
    res.detail["check_pass_s"] = (sum(s.duration for s in checked.values()), "s")

    passes = {}
    for phase, traced in _phases(ctx):
        tracer, loaded = Tracer(), []
        if traced:
            tracer.wrap(entry, "load_table", "tables.load_table",
                        on_result=lambda _s, df, args: loaded.append((args, df)))
            tracer.count_py4j(ctx.spark)
        try:
            t0 = time.time()
            passes[phase] = _query_passes(ctx, qfns, tables_dir, tracer, res,
                                          ctx.seconds, size.min_passes)
            t1 = time.time()
        except Exception:
            res.error(f"queries ({phase})")
            return out
        finally:
            tracer.restore()
        if traced:
            out["tables.load_table_s"] = mean(s.duration for s in tracer.named("tables.load_table"))
            out["tables.partitions"] = _load_table_partitions(loaded)
            out.update(_spark_totals(_event_log(ctx), t0, t1))
            out["trace.spans"] = float(len(tracer.spans))
            res.tracer = tracer

    base = passes["untraced"]
    per_query = {q: median(p[q].duration for p in base) for q in QUERIES}
    totals = [sum(s.duration for s in p.values()) for p in base]
    # the CPU figures count the checked pass too: from a cold start the
    # time code runs before it is compiled adds up to about the same in
    # every run, while a later window gets a timing-dependent share of it
    every = [checked] + base
    out["cpu_s_per_op"] = _cpu_geomean(every)
    out["cpu_s_per_item"] = _cpu_per_query(every)
    out.update({f"query.{q}_s": v for q, v in per_query.items()})
    res.detail.update({
        "queries_total_s": (median(totals), "s"),
        "queries_geomean_s": (geomean(per_query.values()), "s"),
        "query_passes": (len(totals), "count"),
        "query_pass_s_each": (totals, "s"),
        "query_pass_cpu_s_each": ([sum(s.cpu["work"] for s in p.values())
                                   for p in every], "s"),
        "query_pass_jit_cpu_s_each": ([sum(s.cpu["jit"] for s in p.values())
                                       for p in every], "s"),
        **{f"query.{q}_s": (v, "s") for q, v in per_query.items()},
    })
    if ctx.trace:
        traced = passes["traced"]
        out.update({f"cpu.{p}_s_per_op": _cpu_per_query(traced, p) for p in CPU_PARTS})
        out["trace.overhead_frac"] = _cpu_per_query(traced) / _cpu_per_query(base) - 1.0
    return out


# ============================================================== driver ===

WORKLOADS = {
    "crawl_rounds": crawl_rounds,
    "sf_queries": sf_queries,
}


def run_workload(name: str, ctx: Ctx) -> Result:
    """Run one workload; ``res.e2e`` and ``res.layers`` hold every metric
    of spec.END_TO_END and spec.PER_LAYER (0 where a layer did no work)."""
    res = Result()
    try:
        values = WORKLOADS[name](ctx, res)
    except Exception:  # setup failed: nothing below can be measured
        res.attempted += 1
        res.error(f"{name} setup")
        values = {}
    rss = tree_peak_rss_mb()
    values["peak_rss_mb"] = rss["total"]
    res.detail.update({f"peak_rss.{k}_mb": (v, "MB") for k, v in rss.items()})
    values["session.get_spark_s"] = ctx.get_spark_s
    res.e2e = {k: float(values.get(k, 0.0)) for k in END_TO_END}
    res.layers = {k: float(values.get(k, 0.0)) for k in PER_LAYER}
    return res
