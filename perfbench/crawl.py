"""The crawl workloads: scrap a seeded web to a drained frontier, then
gather and curate what was stored.

One *pass* is the paper's two public operations on a fresh warehouse:
``seed_urls`` + ``run_round`` until the frontier drains (``scrap``),
then ``gather`` materialized through the noop sink. The traced run adds
the curation chain over the gathered image+caption rows (``curate``).
Operations are counted for ``failed_ops_ratio``: each round, each
gather and each curate call is one operation; an operation fails if it
raises or fails a correctness gate. Gates run outside the timed region.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

import webs
from weaver_spark.engine import CrawlEngine
from weaver_spark.schemas import WEB_PAGES_SCHEMA

GATHER_WARM = 4  # gather's first calls still get faster (JIT), so these are not timed
GATHER_REPEATS = 9
SHARD_BUDGET = 1 << 20


@dataclass
class Workload:
    name: str
    make_web: object  # seed -> webs.Web
    engine_kwargs: dict
    host_budget: int | None = None


WORKLOADS = {
    # reproduction mode, exact seen anti-join: fetch/decode UDF, stage
    # write and adopt carry the work; scheduler and filters are bypassed
    "flat_fetch": Workload(
        "flat_fetch",
        lambda s: webs.flat_web(s, n_roots=16, leaves_per_root=160),
        {"mode": "reproduction"},
    ),
    # scale mode, depth priority, robots disallow rules, cuckoo seen
    # filter, periodic compaction, and a host budget that binds on the
    # mega-host in round 1 (40 h0 seed leaves > 32) while the deferred
    # rows still fit round 2 (8 + 20 <= 32): two small rounds, so
    # per-round fixed work dominates
    "deep_sched": Workload(
        "deep_sched",
        lambda s: webs.sched_web(s, n_roots=2, leaves_per_root=20, seed_leaves=80),
        {"mode": "scale", "priority_mode": "depth", "seen_filter": "cuckoo",
         "compact_every": 2},
        host_budget=32,
    ),
}


@dataclass
class Ops:
    """Operations attempted and failed (raised or failed a gate)."""

    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def gate(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.notes.append(what)


def web_df(spark, web: webs.Web):
    # through pandas, so the rows cross to the JVM as Arrow batches
    pdf = pd.DataFrame(webs.page_rows(web.web), columns=WEB_PAGES_SCHEMA.fieldNames())
    df = spark.createDataFrame(pdf, WEB_PAGES_SCHEMA).persist()
    df.count()
    return df


def new_engine(spark, wl: Workload, warehouse: str, web: webs.Web, pages) -> CrawlEngine:
    eng = CrawlEngine(spark, warehouse, host_budget=wl.host_budget, seed=web.web.seed,
                      **wl.engine_kwargs)
    eng.set_web_df(pages)
    if web.robots_rows is not None:
        eng.set_robots(web.robots_rows)
    return eng


def scrap(spark, eng: CrawlEngine, seeds: list[str], tag: str, tracer=None):
    """Crawl to a drained frontier. Returns (wall_s, per-round stats with
    wall-clock bounds). One job group per ``run_round`` call."""
    sc = spark.sparkContext
    rounds = []
    t0 = time.perf_counter()
    eng.seed_urls(seeds)
    while True:
        group = f"{tag}-r{len(rounds):03d}"
        sc.setJobGroup(group, group)
        lo, t = time.time(), time.perf_counter()
        if tracer is not None:
            with tracer.span("round"):
                st = eng.run_round()
        else:
            st = eng.run_round()
        if st is None:
            break
        # the engine's carried pending count (private; None if absent)
        carry = getattr(eng, "_carry", None)
        st.update(group=group, wall=time.perf_counter() - t,
                  ms=(int(lo * 1e3), int(time.time() * 1e3)),
                  pending_after=carry[1] if carry else None)
        rounds.append(st)
    wall = time.perf_counter() - t0
    sc.setJobGroup("after", "after")
    return wall, rounds


def gather_walls(eng: CrawlEngine) -> list[float]:
    """``GATHER_REPEATS`` timed gathers after ``GATHER_WARM`` untimed ones."""
    for _ in range(GATHER_WARM):
        eng.gather().write.format("noop").mode("overwrite").save()
    walls = []
    for _ in range(GATHER_REPEATS):
        t0 = time.perf_counter()
        eng.gather().write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return walls


def curate(spark, eng: CrawlEngine, tracer=None) -> tuple[float, dict, dict]:
    """curate_image_captions -> dedup_phash_hamming -> dedup_ngram_jaccard
    -> dedup_resolve -> plan_shards/shard_manifest, each step
    materialized. Returns (wall_s, per-step seconds, outputs)."""
    from weaver_spark.operators.curation import (
        curate_image_captions,
        plan_shards,
        shard_manifest,
    )
    from weaver_spark.operators.dedup import (
        dedup_ngram_jaccard,
        dedup_phash_hamming,
        dedup_resolve,
    )

    steps, pinned, out = {}, [], {}
    t_all = time.perf_counter()

    def step(name, build):
        t = time.perf_counter()
        if tracer is not None:
            with tracer.span(name):
                df, n = build()
        else:
            df, n = build()
        steps[name] = time.perf_counter() - t
        return df, n

    def pin(df):
        df = df.persist()
        pinned.append(df)
        return df, df.count()

    # the dedup operators take numeric ids: the generator's img_<n> suffix
    rows = eng.gather().select(
        F.substring_index("image_id", "_", -1).cast("long").alias("image_id"),
        "w", "h", "caption", "phash", F.length("bytes").cast("long").alias("nbytes"))
    cur, out["curated"] = step("curation.curate", lambda: pin(curate_image_captions(rows)))
    ph, out["phash_pairs"] = step(
        "dedup.phash_hamming", lambda: pin(dedup_phash_hamming(cur, "image_id")))
    ng, out["ngram_pairs"] = step(
        "dedup.ngram_jaccard", lambda: pin(dedup_ngram_jaccard(cur, "image_id", "caption")))
    pairs = ph.select("id_a", "id_b").unionByName(ng.select("id_a", "id_b"))
    res, out["resolved"] = step("dedup.resolve", lambda: pin(dedup_resolve(pairs)))

    def plan():
        losers = res.where(F.col("doc_id") != F.col("canonical_id")).select(
            F.col("doc_id").alias("image_id"))
        kept = cur.join(losers, "image_id", "left_anti")
        man = shard_manifest(plan_shards(kept, "image_id", "nbytes", SHARD_BUDGET),
                             "image_id", "nbytes").collect()
        return man, sum(r["n_rows"] for r in man)

    out["manifest"], out["kept"] = step("curation.plan_shards", plan)
    wall = time.perf_counter() - t_all
    out["ngram"] = {(r["id_a"], r["id_b"]) for r in ng.collect()}
    out["clusters"] = {r["doc_id"]: r["canonical_id"] for r in res.collect()}
    for df in pinned:
        df.unpersist()
    return wall, steps, out


def image_num(image_id: str) -> int:
    return int(image_id.rsplit("_", 1)[1])


def check_crawl(spark, eng: CrawlEngine, web: webs.Web, rounds, wl: Workload, ops: Ops) -> None:
    """Invariants against the generator (outside the timed region)."""
    exp = web.expected
    ops.gate(sum(r["batch"] for r in rounds) == exp.fetched,
             f"fetched {sum(r['batch'] for r in rounds)} != {exp.fetched}")
    state = eng.frontier.latest_state(spark)
    by_status = {r["status"]: r["n"] for r in state.groupBy("status").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    ops.gate(by_status.get("pending", 0) == 0, "frontier not drained")
    ops.gate(by_status.get("blocked", 0) == exp.blocked,
             f"blocked {by_status.get('blocked', 0)} != {exp.blocked}")
    if wl.host_budget is not None:
        worst = state.where(F.col("status").isin("done", "failed")).groupBy(
            "round", "host").count().agg(F.max("count")).collect()[0][0]
        ops.gate(worst <= wl.host_budget, f"per-host batch {worst} > budget")


def check_gather(eng: CrawlEngine, web: webs.Web, ops: Ops) -> None:
    ids = [r["image_id"] for r in eng.gather().select("image_id").collect()]
    ops.gate(len(ids) == len(set(ids)) and set(ids) == web.expected.stored_ids,
                    f"gather: {len(ids)} rows, {len(set(ids))} distinct, "
                    f"{len(web.expected.stored_ids)} expected")


def check_curate(web: webs.Web, out: dict, ops: Ops) -> None:
    planted = [(image_num(a), image_num(b)) for a, b in web.expected.planted]
    found = sum(
        1 for a, b in planted
        if (min(a, b), max(a, b)) in out["ngram"]
        and a in out["clusters"] and out["clusters"][a] == out["clusters"].get(b)
    )
    ok = bool(planted) and found == len(planted)
    ok = ok and out["kept"] == out["curated"] - sum(
        1 for k, c in out["clusters"].items() if k != c)
    ops.gate(ok, f"curate: {found}/{len(planted)} planted pairs, kept {out['kept']}")


def _warm_worker(batches):
    from weaver_spark.operators.fetch import make_synthetic_fetch_fn  # noqa: F401
    from weaver_spark.webgen import gen_payload

    for pdf in batches:
        yield pdf.assign(n=[len(gen_payload(f"img_{i:08d}")[0]) for i in pdf["id"]])


def warm_up(spark) -> None:
    """Start the Python workers (one task per core) and import the fetch
    kernel in each, so the timed crawl does not pay worker start-up."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 4 * n, 1, n).mapInPandas(_warm_worker, "id long, n long").collect()


def parity(eng: CrawlEngine, wl: Workload, web: webs.Web, ops: Ops) -> None:
    """Compare the drained crawl with ``sim.simulate_crawl`` on the same
    web: crawl order and stored-key set."""
    import weaver_spark.sim as sim_mod
    from weaver_spark.functions.urls import canonicalize_series
    from weaver_spark.operators.robots import sim_robots_config

    # the simulator canonicalizes one URL per call; answer it from one
    # vectorized pass of the same function over every spelling in the web
    raw = list(web.web.seeds) + [u for p in web.web.pages.values() for u in p.get("links") or ()]
    canon = dict(zip(raw, canonicalize_series(pd.Series(raw))))
    orig = sim_mod.canonicalize_url
    sim_mod.canonicalize_url = lambda u: canon[u] if u in canon else orig(u)
    try:
        sim = sim_mod.simulate_crawl(
            web.web,
            host_budget=wl.host_budget,
            robots=sim_robots_config(web.robots_rows) if web.robots_rows else None,
            priority_mode=wl.engine_kwargs.get("priority_mode", "kind"),
        )
    finally:
        sim_mod.canonicalize_url = orig
    order = [r["url"] for r in eng.crawl_order().collect()]
    stored = {r["image_id"] for r in eng.gather().select("image_id").collect()}
    ops.gate(order == sim.crawl_order, "simulator parity: crawl order")
    ops.gate(stored == sim.seen_set, "simulator parity: stored keys")
