"""Per-layer metrics of a traced crawl pass.

Sources: the engine's ``WEAVER_TIMING=1`` stage marks (``timing_log``),
the benchmark's spans (``spans.py``), the Spark event log
(``eventlog.py``), counting wrappers around the seen filters' probe
UDFs, and read-only queries over the warehouse after the pass.
"""

import os
import statistics

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

# engine metric -> the timing_log labels it sums
STAGE_MARKS = {
    "engine.head_s": ("head_carry", "head_agg", "reclaim"),
    "engine.schedule_s": ("schedule",),
    "engine.robots_s": ("robots", "robots_fetch"),
    "engine.fetch_stage_s": ("fetch_stage",),
    "engine.images_adopt_s": ("images_adopt",),
    "engine.stats_agg_s": ("stats_agg", "metrics_append"),
    "engine.dense_seq_s": ("dense_seq",),
    "engine.frontier_append_s": ("frontier_append",),
    "engine.lineage_append_s": ("lineage_append",),
    "engine.compact_s": ("compact",),
}


def engine_metrics(eng, rounds) -> tuple[dict[str, float], float]:
    """Stage-mark totals over the pass, and the worst share of a round's
    wall that its marks leave unaccounted."""
    marks = dict(getattr(eng, "timing_log", []))
    out = {k: 0.0 for k in STAGE_MARKS}
    fixed, worst_gap = 0.0, 0.0
    for st in rounds:
        m = marks.get(st["round"], [])
        for metric, labels in STAGE_MARKS.items():
            out[metric] += sum(v for k, v in m if k in labels)
        fixed += st["wall"] - sum(v for k, v in m if k == "fetch_stage")
        # marks are rounded to 10 ms each
        gap = abs(st["wall"] - sum(v for _k, v in m)) - 0.01 * len(m)
        worst_gap = max(worst_gap, gap / st["wall"])
    out["engine.rounds"] = len(rounds)
    out["engine.round_fixed_s"] = fixed
    out["engine.batch_rows_p50"] = statistics.median([r["batch"] for r in rounds])
    # rows left pending by the scheduler: pending after the round minus
    # what the round itself enqueued (-1: the engine keeps no carry)
    out["ranking.deferred_rows"] = sum(
        r["pending_after"] - r["links"] - r["retried"] for r in rounds
    ) if all(r["pending_after"] is not None for r in rounds) else -1
    return out, worst_gap


class ProbeCounter:
    """Counts rows and positives through every seen-filter probe UDF the
    engine builds (``might_contain_udf``), via Spark accumulators. A row
    is counted each time Spark evaluates the probe on it."""

    def __init__(self, spark, tracer):
        import weaver_spark.operators.cuckoo as cuckoo
        import weaver_spark.operators.seen as seen

        self.rows = spark.sparkContext.accumulator(0)
        self.positives = spark.sparkContext.accumulator(0)
        rows, positives = self.rows, self.positives
        for cls in (cuckoo.CuckooSeenSet, seen.BloomSeenSet):
            orig = vars(cls).get("might_contain_udf")
            if orig is None:
                tracer.missing.append(f"{cls.__name__}.might_contain_udf")
                continue

            def counting(self_, spark_, _orig=orig):
                inner = _orig(self_, spark_).func

                @F.pandas_udf(BooleanType())
                def probe(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
                    hit = inner(h1s, h2s)
                    rows.add(len(hit))
                    positives.add(int(hit.sum()))
                    return hit

                return probe

            tracer.replace(cls, "might_contain_udf", counting)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _subdirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def warehouse_metrics(spark, eng, warehouse: str, tracer, probes: ProbeCounter) -> dict[str, float]:
    from weaver_spark.operators.cuckoo import CuckooSeenSet
    from weaver_spark.operators.seen import BloomSeenSet

    from probes import realized_fpr

    out: dict[str, float] = {}
    # seen layer
    out["seen.probes"] = probes.rows.value
    out["seen.filter_positives"] = probes.positives.value
    for tag, attr in (("insert", "insert_df"), ("save", "save"), ("build", "build")):
        out[f"seen.{tag}_s"] = sum(tracer.total(f"seen.{f}.{attr}") for f in ("cuckoo", "bloom"))
    out["seen.realized_fpr"], out["seen.filter_mb"] = 0.0, 0.0
    for d, cls in ((getattr(eng, "_cuckoo_dir", ""), CuckooSeenSet),
                   (getattr(eng, "_bloom_dir", ""), BloomSeenSet)):
        loaded = cls.load(d) if os.path.isdir(d) else None
        if loaded is not None:
            out["seen.realized_fpr"] = realized_fpr(spark, loaded[0])
            out["seen.filter_mb"] = _dir_bytes(d) / 2**20

    # ranking / robots
    state = eng.frontier.latest_state(spark)
    out["robots.blocked_rows"] = state.where(F.col("status") == "blocked").count()
    out["ranking.dense_seq_s"] = tracer.total("ranking.dense_seq_numeric")

    # catalog layer
    for attr in ("append", "append_rows", "adopt", "compact"):
        out[f"catalog.{attr}_s"] = tracer.total(f"catalog.{attr}")
    out["catalog.plan_s"] = tracer.total("catalog.read") + tracer.total("catalog.latest_state")
    out["catalog.frontier_files"] = sum(
        sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
        for _cid, files, _meta in eng.frontier.live_commits() for p in files
        if os.path.isdir(p)
    )
    payload = eng.gather().agg(F.sum(F.length("bytes"))).collect()[0][0] or 1
    out["catalog.write_amp"] = _dir_bytes(warehouse) / payload
    return out
