"""Event-log parser on a small recorded log (two job groups on local[2]:
a mapInPandas -> parquet write, then a groupBy collect).

    python -m pytest perfbench/test_eventlog.py -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata",
                   "eventlog_two_rounds.jsonl")
ROUND0 = (1792209399900, 1792209405000)


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(LOG)


def test_jobs_keyed_by_group_and_call_site(log):
    assert {j["group"] for j in log.jobs.values()} == {"round-00000", "round-00001"}
    sites = eventlog.by_call_site(log, ["round-00000", "round-00001"])
    assert sites["org.apache.spark.sql.DataFrameWriter.parquet"]["jobs"] == 2
    assert sites["org.apache.spark.sql.classic.Dataset.collectToPython"]["jobs"] == 2
    assert sites["org.apache.spark.sql.DataFrameWriter.parquet"]["task_s"] == pytest.approx(
        (204 + 204 + 3228 + 3234 + 364 + 383) / 1e3)


def test_round_metrics_find_the_fetch_write_stage(log):
    m = eventlog.round_metrics(log, {"round-00000": ROUND0})
    assert m["spark.jobs_per_round"] == 2
    assert m["spark.stages_per_round"] == 2  # stage 1 ran no task
    assert m["spark.tasks"] == 6
    assert m["spark.shuffle_write_mb"] == pytest.approx(20000 / eventlog.MB)
    # stage 2 returns rows from Python and writes parquet
    assert m["fetch.stage_task_s"] == pytest.approx(7.209)
    assert m["fetch.python_out_mb"] == pytest.approx(4 * 4224 / eventlog.MB)
    assert m["fetch.stage_written_mb"] == pytest.approx(11219 / eventlog.MB)
    assert m["spark.fetch_task_skew"] == pytest.approx(3234 / ((383 + 3228) / 2))
    # tasks cover 364 ms (stage 0) + 3798 ms (stage 2) of the 5100 ms round
    assert m["spark.no_task_frac"] == pytest.approx(1 - 4162 / 5100)


def test_round_without_fetch_stage(log):
    m = eventlog.round_metrics(log, {"round-00001": (1792209406000, 1792209407000)})
    assert m["fetch.stage_task_s"] == 0
    assert m["spark.fetch_task_skew"] == 0
    assert m["spark.tasks"] == 3


def test_covered_ms_merges_and_clips():
    assert eventlog._covered_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert eventlog._covered_ms([(0, 10), (5, 20)], 8, 12) == 4
    assert eventlog._covered_ms([], 0, 10) == 0
