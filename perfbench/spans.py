"""Layer-attributed tracing for the perfbench traced run.

Spans are recorded from the benchmark's side only: ``install`` wraps the
public functions of each package layer (the module attributes and every
``sc_crawler_spark`` module global bound to them), so each call opens a
span named after its layer. Spark work is attributed afterwards: every
job goes to the innermost span open at its submission time, and the
job's stages carry the task time and byte counts read from the JVM
status store. The workloads submit work from one thread at a time (the
streaming ``foreachBatch`` callbacks run while the caller blocks in
``awaitTermination``), which is what makes attribution by submission
window sound.

Spans stay in memory and are written once, by ``Tracer.dump``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from contextlib import contextmanager

LAYERS = ["session", "cli", "sources", "operators", "queries", "workloads",
          "sinks", "streaming"]
LAYER_METRICS = [("calls", "count"), ("self_s", "s"), ("jobs", "count"),
                 ("task_s", "s"), ("input_bytes", "B"),
                 ("shuffle_bytes", "B"), ("spill_bytes", "B"),
                 ("output_bytes", "B")]

_PKG = "sc_crawler_spark"


def _public(module: str, prefixes: tuple[str, ...] = ()) -> list[tuple]:
    mod = importlib.import_module(module)
    return [(mod, name) for name, obj in sorted(vars(mod).items())
            if inspect.isfunction(obj) and obj.__module__ == module
            and not name.startswith("_")
            and (not prefixes or name.startswith(prefixes))]


def _named(module: str, *names: str) -> list[tuple]:
    mod = importlib.import_module(module)
    return [(mod, n) for n in names]


def layer_targets() -> dict[str, list[tuple]]:
    """(module, function name) pairs wrapped per layer. ``session``,
    ``streaming`` and the registry query builders are entered by the
    workloads themselves, around their direct calls."""
    return {
        "cli": [t for t in _public(f"{_PKG}.cli")
                if t[1].startswith("cmd_") or t[1] == "table_digest"],
        "sources": [t for m in ("aws", "catalog", "azure", "inspector")
                    for t in _public(f"{_PKG}.sources.{m}",
                                     ("standardize_", "read_"))],
        "operators": (
            _named(f"{_PKG}.operators.upsert", "merge_upsert", "scd2_append")
            + _named(f"{_PKG}.operators.sync", "hash_diff")
            + _named(f"{_PKG}.operators.validate", "validate_items")
            + _named(f"{_PKG}.operators.windows", "keep_last_dedup")
            + _public(f"{_PKG}.operators.dedup")
            + _public(f"{_PKG}.operators.graph")),
        "queries": _named(f"{_PKG}.queries.curation",
                          "emit_training_corpus", "dsir_log_ratios"),
        "workloads": _named(f"{_PKG}.workloads", "workload_score_rows"),
        "sinks": (_named(f"{_PKG}.sinks.snapshot", "write_snapshot")
                  + _public(f"{_PKG}.sinks.index_store")
                  + _public(f"{_PKG}.sinks.postings_store")),
    }


class Tracer:
    """Span recorder; ``enabled=False`` makes every span a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self._stack: list[int] = []
        self._step: str | None = None
        self._seen_jobs: set[int] = set()
        self._spark = None
        self.own_s = 0.0  # time spent in tracer bookkeeping

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "layer": layer, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "step": self._step, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.own_s += time.perf_counter() - t_in
        try:
            yield
        finally:
            t_out = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            if layer == "cli" or rec["parent"] is None:
                self.harvest()
            self.own_s += time.perf_counter() - t_out

    @contextmanager
    def step(self, name: str):
        """A benchmark step: the unit the end-to-end timings are made of."""
        prev, self._step = self._step, name
        try:
            with self.span("bench", name):
                yield
        finally:
            self._step = prev

    def install(self) -> None:
        """Wrap every layer target so each call records a span."""
        if not self.enabled:
            return
        for layer, targets in layer_targets().items():
            for mod, name in targets:
                fn = getattr(mod, name)
                wrapped = self._wrap(layer, name, fn)
                for m in list(sys.modules.values()):
                    if (getattr(m, "__name__", "").startswith(_PKG)
                            and vars(m).get(name) is fn):
                        setattr(m, name, wrapped)

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)
        return wrapper

    # -- Spark jobs ---------------------------------------------------------

    def attach(self, spark) -> None:
        self._spark = spark

    def harvest(self) -> None:
        """Read jobs submitted since the last harvest (and their stages)
        from the status store, before its retention limit drops them."""
        if self._spark is None:
            return
        sc = self._spark.sparkContext
        store = sc._jsc.sc().statusStore()
        for job_id in sc.statusTracker().getJobIdsForGroup(None):
            if job_id in self._seen_jobs:
                continue
            try:
                jd = store.job(job_id)
            except Exception:  # evicted or not yet registered
                continue
            if str(jd.status().toString()) == "RUNNING":
                continue  # harvest once it has finished
            self._seen_jobs.add(job_id)
            sub = jd.submissionTime()
            job = {"job": job_id,
                   "submitted": (sub.get().getTime() / 1000.0
                                 if sub.isDefined() else None),
                   "task_s": 0.0, "input_bytes": 0, "shuffle_bytes": 0,
                   "spill_bytes": 0, "output_bytes": 0, "output_rows": 0}
            ids = jd.stageIds()
            for i in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(i))
                except Exception:  # skipped stage: never ran
                    continue
                job["task_s"] += st.executorRunTime() / 1000.0
                job["input_bytes"] += st.inputBytes()
                job["shuffle_bytes"] += st.shuffleWriteBytes()
                job["spill_bytes"] += st.diskBytesSpilled()
                job["output_bytes"] += st.outputBytes()
                job["output_rows"] += st.outputRecords()
            self.jobs.append(job)

    # -- results ------------------------------------------------------------

    def _owner(self, t: float | None) -> dict | None:
        """Innermost span open at wall time ``t``."""
        best = None
        if t is None:
            return None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def layer_metrics(self) -> dict[str, float]:
        """``<layer>.<metric>`` for every layer; zero where unused."""
        out = {f"{layer}.{m}": 0.0 for layer in LAYERS
               for m, _unit in LAYER_METRICS}
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = (child_s.get(s["parent"], 0.0)
                                        + s["end"] - s["start"])
        for s in self.spans:
            if s["layer"] not in LAYERS:
                continue
            out[f"{s['layer']}.calls"] += 1
            out[f"{s['layer']}.self_s"] += (s["end"] - s["start"]
                                            - child_s.get(s["id"], 0.0))
        for job in self.jobs:
            owner = self._owner(job["submitted"])
            job["span"] = owner["id"] if owner else None
            if owner is None or owner["layer"] not in LAYERS:
                continue
            layer = owner["layer"]
            out[f"{layer}.jobs"] += 1
            for m in ("task_s", "input_bytes", "shuffle_bytes",
                      "spill_bytes", "output_bytes"):
                out[f"{layer}.{m}"] += job[m]
        return out

    def rows_written(self, layer: str = "sinks",
                     steps: set[str] | None = None) -> int:
        """Output rows of the jobs attributed to ``layer``'s spans (jobs
        must have been attributed by ``layer_metrics`` first)."""
        by_id = {s["id"]: s for s in self.spans}
        n = 0
        for job in self.jobs:
            s = by_id.get(job.get("span"))
            if s and s["layer"] == layer and (steps is None
                                              or s["step"] in steps):
                n += job["output_rows"]
        return n

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "jobs": self.jobs}, fh)
