#!/usr/bin/env python3
"""weaver_spark benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload flat_fetch --seed 1 --seconds 10 --trace 0

Run from the repository root. The load is a closed loop with one
client: a pass (scrap -> gather, see ``crawl.py``) starts only
after the previous one finished, and a round only after the previous
round. Passes repeat until ``--seconds`` of passes have run (at least
one). Spark runs on ``local[nproc]`` in this process, sized to the
machine (``session_settings``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
pass with the engine's stage marks, the Spark event log and the layer
spans on, then the curation chain over the gathered rows and the
standalone layer probes (``probes.py``), and prints the per-layer
metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Details (settings,
per-round samples, gate notes) go to ``.perfbench_work/<run>/result.json``
and the traced run's spans to ``.perfbench_work/<run>/spans.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 3
DEFAULT_GC = "-XX:+UseG1GC -XX:G1HeapRegionSize=32m -XX:+ParallelRefProcEnabled"


def _meminfo_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def session_settings(work: str, trace: bool) -> tuple[dict, dict, dict]:
    """(environment for the program's own session knobs, extra Spark
    conf, machine facts). Heap is a fifth of RAM (1-4 GB), off-heap a
    sixteenth (256 MB-2 GB); every file Spark or Python writes stays
    under ``work``."""
    nproc = len(os.sched_getaffinity(0))
    ram = _meminfo_mb()
    heap = max(1024, min(4096, ram // 5))
    offheap = max(256, min(2048, ram // 16))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}m",
        "SPARK_GRAFT_OFFHEAP": f"{offheap}m",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_GC_OPTS": f"{DEFAULT_GC} -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "TMPDIR": tmp,
        # the fetch UDF runs in Python workers, which import weaver_spark
        "PYTHONPATH": os.pathsep.join(
            p for p in (os.getcwd(), HERE, os.environ.get("PYTHONPATH")) if p),
        "WEAVER_TIMING": "1" if trace else "0",
    }
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse")}
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{logs}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return env, conf, {"nproc": nproc, "ram_mb": ram}


def _proc_tree_hwm_mb(root_pid: int) -> float:
    """Sum of VmHWM over ``root_pid`` and all its descendants (the JVM,
    the PySpark daemon and its Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - must not leave the JVM behind
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "weaver_spark", "engine.py")):
        print("perfbench: weaver_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    from crawl import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(root, ".perfbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env, conf, settings = session_settings(work, trace)
    os.environ.update(env)
    cpu0 = _cpu_times()

    result = run_workload(WORKLOADS[args.workload], args, work, conf, trace, run_id)

    cpu1 = _cpu_times()
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    settings.update({k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                                         "SPARK_GRAFT_OFFHEAP")})
    settings["steal_frac"] = delta[7] / max(sum(delta), 1) if len(delta) > 7 else 0.0
    result["settings"] = settings
    result["summary"]["steal_frac"] = round(settings["steal_frac"], 4)
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    for wh in ("wh", "eventlog"):
        shutil.rmtree(os.path.join(work, wh), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)

    print(f"# {run_id} " + " ".join(f"{k}={v}" for k, v in result["summary"].items()))
    if result["notes"]:
        print("# gate failures: " + "; ".join(result["notes"]))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }))
    return 0


def run_workload(wl, args, work: str, conf: dict, trace: bool, run_id: str) -> dict:
    import crawl

    t_setup = time.perf_counter()
    from weaver_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{run_id}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup
    ops = crawl.Ops()
    tracer = probe_counter = None
    try:
        # inputs: generated SETUP_REPEATS times, median reported
        gen = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            web = wl.make_web(args.seed)
            pages = crawl.web_df(spark, web)
            gen.append(time.perf_counter() - t)
            if len(gen) < SETUP_REPEATS:
                pages.unpersist()
        t = time.perf_counter()
        crawl.warm_up(spark)
        setup_s = session_s + statistics.median(gen) + time.perf_counter() - t
        if trace:
            from layers import ProbeCounter
            from spans import Tracer, install_layer_spans

            tracer = Tracer(run_id)
            install_layer_spans(tracer)
            probe_counter = ProbeCounter(spark, tracer)

        passes = []
        t_loop = time.perf_counter()
        while not passes or time.perf_counter() - t_loop < args.seconds:
            if trace:  # the traced run traces exactly one pass
                with tracer.span(wl.name), tracer.span("run"):
                    passes.append(one_pass(spark, wl, web, pages, work, 0, ops, tracer))
                break
            passes.append(one_pass(spark, wl, web, pages, work, len(passes), ops, None))
        crawl.parity(passes[0]["eng"], wl, web, ops)
        if trace:
            metrics, summary, extra = traced_metrics(
                spark, wl, web, args.seed, work, passes[-1], tracer, probe_counter, ops)
        else:
            metrics, summary, extra = summarize(passes, setup_s)
        summary["peak_rss_mb"] = round(_proc_tree_hwm_mb(_jvm_pid()), 1)
    finally:
        if tracer is not None:
            tracer.uninstall()
        _stop(spark)
    if trace:
        extra["spark"] = spark_metrics(work, passes[-1], metrics, summary)
        tracer.write(os.path.join(work, "spans.json"))
    summary["failed_ops_ratio"] = ops.failed / max(ops.attempted, 1)
    return {"attempted": ops.attempted, "failed": ops.failed, "notes": ops.notes,
            "metrics": metrics, "summary": summary, "extra": extra}


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def one_pass(spark, wl, web, pages, work, n, ops, tracer) -> dict:
    """scrap -> gather on a fresh warehouse; gates afterwards."""
    import crawl

    wh = os.path.join(work, "wh", f"p{n}")
    eng = crawl.new_engine(spark, wl, wh, web, pages)
    crawl_s, rounds = crawl.scrap(spark, eng, web.web.seeds, f"p{n}", tracer)
    ops.attempted += len(rounds) + 1
    crawl.check_crawl(spark, eng, web, rounds, wl, ops)
    # the traced run reports no gather_s, so it does not time gather
    gather = crawl.gather_walls(eng) if tracer is None else []
    crawl.check_gather(eng, web, ops)
    return {"eng": eng, "warehouse": wh, "crawl_s": crawl_s, "rounds": rounds,
            "gather_walls": gather}


def summarize(passes, setup_s: float):
    urls = sum(sum(r["batch"] for r in p["rounds"]) for p in passes)
    crawl_s = sum(p["crawl_s"] for p in passes)
    rounds = [r["wall"] for p in passes for r in p["rounds"]]
    values = {
        "crawl_urls_per_s": (urls / crawl_s, "urls/s"),
        "gather_s": (statistics.median(w for p in passes for w in p["gather_walls"]), "s"),
        "setup_s": (setup_s, "s"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    summary = {k: round(v, 4) for k, (v, _u) in values.items()}
    summary.update(round_p50_s=round(statistics.median(rounds), 4), passes=len(passes),
                   rounds=len(rounds), urls=urls)
    extra = {"round_walls": rounds, "crawl_s": [p["crawl_s"] for p in passes],
             "gather_walls": [p["gather_walls"] for p in passes]}
    return metrics, summary, extra


def traced_metrics(spark, wl, web, seed, work, p, tracer, probe_counter, ops):
    import crawl
    import probes
    from layers import engine_metrics, warehouse_metrics

    eng, rounds = p["eng"], p["rounds"]
    m, worst_gap = engine_metrics(eng, rounds)
    m["engine.round_p50_s"] = statistics.median(r["wall"] for r in rounds)
    fetched = sum(r["batch"] for r in rounds)
    payload = sum(r["payload_rows"] for r in rounds)
    m.update({"fetch.rows": fetched, "fetch.payload_rows": payload,
              "fetch.useful_ratio": payload / max(fetched, 1)})
    m.update(warehouse_metrics(spark, eng, p["warehouse"], tracer, probe_counter))
    # the curation chain runs in the traced run only (see crawl.curate)
    curate_s, steps, out = crawl.curate(spark, eng, tracer)
    ops.attempted += 1
    crawl.check_curate(web, out, ops)
    planted = [(crawl.image_num(a), crawl.image_num(b)) for a, b in web.expected.planted]
    m.update({
        "dedup.phash_hamming_s": steps["dedup.phash_hamming"],
        "dedup.ngram_jaccard_s": steps["dedup.ngram_jaccard"],
        "dedup.resolve_s": steps["dedup.resolve"],
        "dedup.pairs_per_doc": (out["phash_pairs"] + out["ngram_pairs"]) / max(out["curated"], 1),
        "dedup.planted_recall": sum(
            (min(a, b), max(a, b)) in out["ngram"] for a, b in planted) / max(len(planted), 1),
        "dedup.buckets_dropped": phash_buckets_dropped(eng),
        "curation.chain_s": curate_s,
        "curation.curate_s": steps["curation.curate"],
        "curation.plan_shards_s": steps["curation.plan_shards"],
        "curation.kept_frac": out["kept"] / max(out["curated"], 1),
    })
    with tracer.span("probe.kernel"):
        m.update(probes.kernel_split(seed))
    with tracer.span("probe.antijoins"):
        aj, ok = probes.antijoins(spark, work)
    m.update(aj)
    ops.attempted += 1
    ops.gate(ok, "anti-join probe: exact/bloom/cuckoo disagree")
    with tracer.span("probe.registry"):
        qt, status = probes.registry(spark, os.getcwd(), os.path.join(work, "sf"), seed)
    m.update(qt)
    ops.attempted += len(qt)
    for name in status["failed"]:
        ops.gate(False, f"oracle mismatch: {name}")
    summary = {"engine_marks_worst_gap": round(worst_gap, 4),
               "queries_checked": status["checked"],
               "queries_unchecked": len(status["unchecked"]),
               "queries_left_out": len(status["left_out"]),
               "traced_crawl_s": round(p["crawl_s"], 3),
               "missing_entry_points": len(tracer.missing)}
    extra = {"round_walls": [r["wall"] for r in rounds],
             "timing_log": getattr(eng, "timing_log", []),
             "unchecked_queries": status["unchecked"], "left_out_queries": status["left_out"],
             "missing": tracer.missing}
    return m, summary, extra


def phash_buckets_dropped(eng, max_hamming: int = 6, max_bucket: int = 500) -> int:
    """Band buckets over ``max_bucket`` under dedup_phash_hamming's
    banding (64 bits in ``max_hamming + 1`` bands)."""
    from pyspark.sql import functions as F

    from weaver_spark.operators.dedup import overcap_buckets

    width = 64 // (max_hamming + 1)
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright("phash", b * width).bitwiseAND(F.lit((1 << width) - 1)).alias("bkey"))
        for b in range(max_hamming + 1)])
    buckets = eng.gather().select("image_id", F.explode(bands).alias("bb")).select(
        "image_id", "bb.band", "bb.bkey")
    return overcap_buckets(buckets, max_bucket).count()


def spark_metrics(work: str, p: dict, metrics: dict, summary: dict) -> dict:
    """Fold the event-log metrics of the traced pass's rounds into
    ``metrics`` (after Spark stopped, so the log is complete)."""
    import eventlog

    logs = os.path.join(work, "eventlog")
    files = [os.path.join(logs, f) for f in os.listdir(logs)]
    log = eventlog.parse(max(files, key=os.path.getsize))
    groups = {r["group"]: r["ms"] for r in p["rounds"]}
    metrics.update(eventlog.round_metrics(log, groups))
    summary["fetch_stage_task_s"] = round(metrics["fetch.stage_task_s"], 3)
    per_metric = {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()}
    metrics.clear()
    metrics.update(per_metric)
    return eventlog.by_call_site(log, groups)


_UNITS = {"spark.jobs_per_round": "jobs/round", "spark.stages_per_round": "stages/round",
          "spark.tasks": "tasks", "engine.rounds": "rounds", "engine.batch_rows_p50": "rows",
          "catalog.frontier_files": "files", "dedup.pairs_per_doc": "pairs/doc",
          "dedup.buckets_dropped": "buckets"}


def _unit(name: str) -> str:
    if name in _UNITS:
        return _UNITS[name]
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    if name.endswith(("_ratio", "_frac", "_fpr", "_recall", "_amp", "_skew")):
        return "ratio"
    return "rows" if name.endswith(("rows", "probes", "positives")) else "count"


if __name__ == "__main__":
    sys.exit(main())
