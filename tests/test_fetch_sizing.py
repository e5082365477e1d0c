"""The fetch stage runs the fewest Python tasks that cover a round's rows:
one task per FETCH_ROWS_PER_TASK pending rows, capped at 4 x shuffle
partitions. Output does not depend on the task count (the simulator-
parity suites and test_partition_count_invariance pin that)."""

from pyspark import TaskContext

from weaver_spark.engine import FETCH_ROWS_PER_TASK, CrawlEngine, fetch_task_count
from weaver_spark.webgen import make_web


def test_task_count_rule():
    r = FETCH_ROWS_PER_TASK
    for p in (1, 4, 8, 200):
        cap = 4 * p
        for n in (cap * r, cap * r + 1, 10 * cap * r):
            assert fetch_task_count(n, p) == cap
        assert fetch_task_count(0, p) == 1
        assert fetch_task_count(r, p) == 1
        assert fetch_task_count(r + 1, p) == min(2, cap)
        assert fetch_task_count(3 * r - 1, p) == min(3, cap)


def test_small_round_fetch_stage_tasks(spark, tmp_path):
    sc = spark.sparkContext
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    web = make_web(seed=7, n_hosts=4, n_seed_roots=3, depth=2)
    eng = CrawlEngine(spark, str(tmp_path), mode="scale", host_budget=2)
    eng.set_web(web)
    n_pending = eng.seed_urls(web.seeds)

    # tag the fetch tasks with their stage id (every task of the stage
    # runs the fetch function; one stage runs it per round)
    calls, stage_sum = sc.accumulator(0), sc.accumulator(0)
    fetch_fn = eng._fetch_fn

    def tagged(batches):
        calls.add(1)
        stage_sum.add(TaskContext.get().stageId())
        yield from fetch_fn(batches)

    eng._fetch_fn = tagged
    group = "fetch-sizing-round-0"
    sc.setJobGroup(group, group)
    try:
        assert eng.run_round() is not None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert calls.value >= 1 and stage_sum.value % calls.value == 0
    stage_id = stage_sum.value // calls.value

    tracker = sc.statusTracker()
    round_stages = {
        s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds
    }
    assert stage_id in round_stages
    n_tasks = tracker.getStageInfo(stage_id).numTasks
    assert n_tasks == calls.value == fetch_task_count(n_pending, p)
    assert n_tasks <= p


def test_page_source_reinstalls_synthetic_fetch(spark, tmp_path):
    # a page source always pairs with the synthetic fetch, whose links
    # arrive canonical; the HTTP fetcher drops the page source
    eng = CrawlEngine(spark, str(tmp_path), mode="scale", seed=42)
    eng.set_http_fetcher(max_concurrency=2)
    assert eng.web_pages is None
    eng.set_web(make_web(seed=42, n_hosts=2, n_seed_roots=1, depth=1))
    assert eng._fetch_fn.__qualname__.startswith("make_synthetic_fetch_fn")
