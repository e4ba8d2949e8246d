"""The benchmark's own tests, at tiny input sizes.

    python -m pytest crawlbench/tests -q

They share one local Spark session with the event log on, and call the
workloads in-process; one test drives the command line end to end.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from crawlbench import checks, workloads  # noqa: E402
from crawlbench.run import session_conf  # noqa: E402
from crawlbench.spec import END_TO_END, PER_LAYER  # noqa: E402


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    from mr_crawly_spark.session import get_spark

    work = str(tmp_path_factory.mktemp("crawlbench"))
    events = os.path.join(work, "events")
    os.makedirs(events)
    spark = get_spark(app_name="crawlbench-tests", master="local[2]",
                      extra_conf=session_conf(work, events))
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, work, events
    spark.stop()


def _ctx(session, trace=False):
    spark, work, events = session
    return workloads.Ctx(spark=spark, seed=3, seconds=0.1, trace=trace, size="tiny",
                         work_dir=work, event_dir=events)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_runs_and_reports_every_metric(session, name):
    res = workloads.run_workload(name, _ctx(session))
    assert res.failed == 0, res.problems
    assert res.attempted > 0
    assert set(res.e2e) == set(END_TO_END)
    assert all(v > 0 for v in res.e2e.values()), res.e2e
    assert set(res.layers) == set(PER_LAYER)


def test_dropped_url_is_a_failed_operation(session, monkeypatch):
    answer = checks.crawl_answer

    def drop_one(engine):
        order, seen = answer(engine)
        return order[:-1], seen

    monkeypatch.setattr(checks, "crawl_answer", drop_one)
    res = workloads.run_workload("crawl_rounds", _ctx(session))
    assert res.failed == 1
    assert "crawl order" in res.problems[0]


def test_perturbed_query_row_is_a_failed_operation(session, monkeypatch):
    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    perturbed = dict(sqls, seen_antijoin=f"SELECT * FROM ({sqls['seen_antijoin']}) OFFSET 1")
    monkeypatch.setattr(entry, "oracle_sql", lambda: perturbed)
    res = workloads.run_workload("sf_queries", _ctx(session))
    assert res.failed == 1
    assert res.problems[0].startswith("seen_antijoin")


def test_check_functions_flag_wrong_answers():
    class Oracle:
        crawl_order = ["https://a.test/", "https://a.test/p/1"]
        seen = {"https://a.test/", "https://a.test/p/1"}

    assert checks.check_crawl(list(Oracle.crawl_order), set(Oracle.seen), Oracle) == []
    assert checks.check_crawl(Oracle.crawl_order[:1], set(Oracle.seen), Oracle)
    assert checks.check_crawl(list(Oracle.crawl_order), {"https://a.test/"}, Oracle)
    rows = [(1, "x", 0.5), (2, "y", 0.25)]
    assert checks.check_rows("q", ["a", "b", "c"], rows, ["c", "b", "a"],
                             [(0.5, "x", 1), (0.25, "y", 2)]) == []
    assert checks.check_rows("q", ["a", "b", "c"], rows, ["a", "b", "c"],
                             [(1, "x", 0.5), (2, "y", 0.26)])


def test_traced_round_self_times_add_up_to_round_wall_time(session):
    res = workloads.run_workload("crawl_rounds", _ctx(session, trace=True))
    assert res.failed == 0, res.problems
    tracer = res.tracer
    rounds = tracer.named("engine.run_round")
    assert rounds
    for r in rounds:
        tree = tracer.subtree(r)
        assert {s.round_id for s in tree} == {r.round_id}
        assert sum(tracer.self_time(s) for s in tree) == pytest.approx(r.duration, abs=1e-6)
    assert res.layers["engine.jobs_per_round"] > 0
    assert res.layers["engine.py4j_calls_per_round"] > 0
    assert res.layers["catalog.commits"] > 0
    assert res.layers["urls.canonicalize_exec_s_per_round"] > 0


def test_command_line_prints_the_result_last(tmp_path):
    out = subprocess.run(
        [sys.executable, "crawlbench/run.py", "--workload", "sf_queries", "--seed", "5",
         "--seconds", "0.1", "--trace", "0", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    assert {k: v["unit"] for k, v in last["metrics"].items()} == END_TO_END


def test_command_line_refuses_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "crawlbench"), tmp_path / "crawlbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "crawlbench/run.py", "--workload", "crawl_rounds", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
