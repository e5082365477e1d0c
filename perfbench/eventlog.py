"""Spark event log -> per-layer ``spark.*`` and ``fetch.stage_*`` metrics.

The benchmark enables the event log only in the traced run (one
uncompressed, non-rolling JSON-lines file) and sets one job group per
``run_round`` call. Jobs are keyed by that group and by their call site:
the first frame of the SQL execution's call stack (for example
``DataFrameWriter.parquet``), or the stage name when the execution is
not a SQL one.

The fetch-write stage is the one stage of a round whose tasks both
return rows from Python workers and write output bytes: the
``mapInPandas`` fetch UDF feeding the stage parquet write.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class StageStats:
    stage_id: int
    group: str | None = None
    task_ms: list[int] = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    bytes_written: int = 0
    python_in: int = 0
    python_out: int = 0
    intervals: list[tuple[int, int]] = field(default_factory=list)

    @property
    def is_fetch_write(self) -> bool:
        return self.python_out > 0 and self.bytes_written > 0


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)  # job id -> group, call site
    stages: dict[int, StageStats] = field(default_factory=dict)

    def stages_of(self, group: str) -> list[StageStats]:
        return [s for s in self.stages.values() if s.group == group]

    def jobs_of(self, group: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] == group]


def _sql_metric(accums: list[dict], name: str) -> int:
    for a in accums:
        if a.get("Name") == name:
            return int(a.get("Update") or 0)
    return 0


def parse(path: str) -> EventLog:
    log = EventLog()
    sql_site: dict[str, str] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith("SQLExecutionStart"):
                first = (e.get("details") or "").split("\n", 1)[0]
                sql_site[str(e["executionId"])] = first.split("(", 1)[0]
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                infos = e.get("Stage Infos") or []
                site = sql_site.get(props.get("spark.sql.execution.id") or "")
                if not site:
                    site = infos[-1]["Stage Name"] if infos else ""
                group = props.get("spark.jobGroup.id")
                log.jobs[e["Job ID"]] = {"group": group, "call_site": site,
                                         "stages": list(e["Stage IDs"])}
                for info in infos:
                    log.stages.setdefault(info["Stage ID"], StageStats(info["Stage ID"])).group = group
            elif kind == "SparkListenerTaskEnd":
                info, tm = e["Task Info"], e.get("Task Metrics")
                if tm is None:
                    continue
                st = log.stages.setdefault(e["Stage ID"], StageStats(e["Stage ID"]))
                st.task_ms.append(int(tm["Executor Run Time"]))
                st.cpu_ns += int(tm["Executor CPU Time"])
                st.gc_ms += int(tm["JVM GC Time"])
                sr = tm["Shuffle Read Metrics"]
                st.shuffle_read += int(sr["Remote Bytes Read"]) + int(sr["Local Bytes Read"])
                st.shuffle_write += int(tm["Shuffle Write Metrics"]["Shuffle Bytes Written"])
                st.spill += int(tm["Memory Bytes Spilled"]) + int(tm["Disk Bytes Spilled"])
                st.bytes_written += int(tm["Output Metrics"]["Bytes Written"])
                acc = info.get("Accumulables") or []
                st.python_in += _sql_metric(acc, "data sent to Python workers")
                st.python_out += _sql_metric(acc, "data returned from Python workers")
                st.intervals.append((int(info["Launch Time"]), int(info["Finish Time"])))
    return log


def _covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def round_metrics(log: EventLog, rounds: dict[str, tuple[int, int]]) -> dict[str, float]:
    """Metrics over the job groups in ``rounds`` (group -> (start_ms,
    end_ms) of that ``run_round`` call, wall clock)."""
    n = max(len(rounds), 1)
    stages = [s for g in rounds for s in log.stages_of(g)]
    jobs = sum(len(log.jobs_of(g)) for g in rounds)
    wall = sum(hi - lo for lo, hi in rounds.values())
    covered = sum(
        _covered_ms([iv for s in log.stages_of(g) for iv in s.intervals], lo, hi)
        for g, (lo, hi) in rounds.items()
    )
    fetch = [s for s in stages if s.is_fetch_write]
    fetch_ms = [t for s in fetch for t in s.task_ms]
    skews = [
        max(s.task_ms) / max(statistics.median(s.task_ms), 1)
        for s in fetch if s.task_ms
    ]
    return {
        "spark.jobs_per_round": jobs / n,
        "spark.stages_per_round": len([s for s in stages if s.task_ms]) / n,
        "spark.tasks": sum(len(s.task_ms) for s in stages),
        "spark.task_run_s": sum(sum(s.task_ms) for s in stages) / 1e3,
        "spark.task_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "spark.gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "spark.shuffle_write_mb": sum(s.shuffle_write for s in stages) / MB,
        "spark.shuffle_read_mb": sum(s.shuffle_read for s in stages) / MB,
        "spark.spill_mb": sum(s.spill for s in stages) / MB,
        "spark.no_task_frac": (1 - covered / wall) if wall else 0.0,
        "spark.fetch_task_skew": statistics.median(skews) if skews else 0.0,
        "fetch.stage_task_s": sum(fetch_ms) / 1e3,
        "fetch.python_in_mb": sum(s.python_in for s in fetch) / MB,
        "fetch.python_out_mb": sum(s.python_out for s in fetch) / MB,
        "fetch.stage_written_mb": sum(s.bytes_written for s in fetch) / MB,
    }


def by_call_site(log: EventLog, groups) -> dict[str, dict[str, float]]:
    """Task time and job count per call site over ``groups``."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"jobs": 0, "task_s": 0.0})
    for g in groups:
        for job in log.jobs_of(g):
            out[job["call_site"]]["jobs"] += 1
            for sid in job["stages"]:
                st = log.stages.get(sid)
                if st is not None:
                    out[job["call_site"]]["task_s"] += sum(st.task_ms) / 1e3
    return dict(out)
