"""In-memory spans recorded from outside the program.

A span is (name, start, end, parent, run id). Spans stay in memory and
are written once, when the run ends. Layer calls are wrapped by patching
the public entry points the engine calls, at the place the engine looks
them up; ``uninstall`` restores every original.

Lazy entry points (the anti-joins, ``budget_rank``, ``apply_robots``)
only build a query plan when called; their spans carry ``lazy: true``
and measure plan-build time, not execution. Executor-side cost of that
work shows up in the Spark event log instead (``eventlog.py``).
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.missing: list[str] = []

    @contextmanager
    def span(self, name: str, lazy: bool = False):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None}
        if lazy:
            rec["lazy"] = True
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, owner, attr: str, name: str, lazy: bool = False) -> None:
        """Replace ``owner.attr`` (a class or module attribute) by a
        spanned version of itself. An entry point the program no longer
        has is recorded in ``missing``."""
        orig = vars(owner).get(attr)
        if orig is None:
            self.missing.append(name)
            return
        is_static = isinstance(orig, staticmethod)
        fn = orig.__func__ if is_static else orig

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, lazy=lazy):
                return fn(*args, **kwargs)

        self.replace(owner, attr, staticmethod(traced) if is_static else traced)

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until ``uninstall``."""
        self._patched.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- summaries ----------------------------------------------------------

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per-name self time: duration minus the union of child spans
        (children of one span never overlap: the driver is one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            d = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f)


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap the layer entry points the engine calls (see module doc)."""
    import weaver_spark.engine as engine
    import weaver_spark.operators.cuckoo as cuckoo
    import weaver_spark.operators.seen as seen
    from weaver_spark.catalog import DeltaTable

    for attr in ("append", "append_rows", "adopt", "compact", "read", "latest_state"):
        tracer.wrap(DeltaTable, attr, f"catalog.{attr}", lazy=attr in ("read", "latest_state"))
    for cls, tag in ((cuckoo.CuckooSeenSet, "cuckoo"), (seen.BloomSeenSet, "bloom")):
        for attr in ("insert_df", "save", "load", "build"):
            tracer.wrap(cls, attr, f"seen.{tag}.{attr}")
    # engine.py binds these names at import: patch them there
    tracer.wrap(engine, "dense_seq_numeric", "ranking.dense_seq_numeric")
    tracer.wrap(engine, "budget_rank", "ranking.budget_rank", lazy=True)
    tracer.wrap(engine, "apply_robots", "robots.apply_robots", lazy=True)
    tracer.wrap(engine, "antijoin_exact", "seen.antijoin_exact", lazy=True)
    tracer.wrap(engine, "antijoin_bloom", "seen.antijoin_bloom", lazy=True)
    # run_round imports antijoin_cuckoo from its module at call time
    tracer.wrap(cuckoo, "antijoin_cuckoo", "seen.antijoin_cuckoo", lazy=True)
