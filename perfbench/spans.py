"""Tracing from outside the package: spans at the public boundaries and
Spark's own task metrics attributed to them.

`Tracer.install()` wraps `plans.checkpoint.run_stage` (and the copy
`plans.recrawl` bound at import) plus the operator entry points, each in
a span that records name, start, end and parent and tags the jobs it
launches with `setJobGroup(<span id>)`.  After the session stops, the
event log (enabled only in traced runs) is read back and every task is
charged to the span whose job group launched it.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import statistics
import time
from contextlib import contextmanager

from sandbox import cpu_s, tree

#: spans that own Spark work -> (layer, time metric or None).  Keys are
#: run_stage stage names, plus two spans outside any stage: the `redact`
#: iteration (its write runs anonymize_documents) and append_snapshot
#: (the delta summary it collects after its last stage)
OWNERS = {
    "01_mentions": ("detection", "detection.s"),
    "mentions": ("detection", "detection.s"),
    "02_triples": ("triples", "triples.s"),
    "triples": ("triples", "triples.s"),
    "03_match_edges": ("linking", "linking.s"),
    "04_canonical": ("components", "components.s"),
    "04b_canon_mentions": ("graph", "graph.canon_join_s"),
    "05_nodes": ("graph", "graph.nodes_s"),
    "06_edges": ("graph", "graph.edges_s"),
    "07_salience": ("graph_algs", "graph_algs.salience_s"),
    "signatures": ("urls", "urls.signature_s"),
    "delta": ("urls", "urls.delta_s"),
    "ownership": ("recrawl", "recrawl.ownership_s"),
    "redact": ("detection", "detection.s"),
    "append_snapshot": ("recrawl", None),
}
LAYERS = ("detection", "triples", "linking", "components", "graph",
          "graph_algs", "urls", "recrawl")

#: (module, attribute) pairs wrapped in a span while tracing
_OPERATORS = [
    ("redactify_spark.plans.checkpoint", "kg_pipeline"),
    ("redactify_spark.plans.recrawl", "append_snapshot"),
    ("redactify_spark.operators.detection", "detect_mentions"),
    ("redactify_spark.operators.detection", "anonymize_documents"),
    ("redactify_spark.operators.triples", "all_triples"),
    ("redactify_spark.operators.linking", "match_edges"),
    ("redactify_spark.operators.components", "canonical_map"),
    ("redactify_spark.operators.components", "connected_components"),
    ("redactify_spark.operators.graph", "build_nodes_from_canon"),
    ("redactify_spark.operators.graph", "build_edges_from_canon"),
    ("redactify_spark.operators.graph_algs", "pagerank"),
    ("redactify_spark.operators.urls", "snapshot_signature"),
    ("redactify_spark.operators.urls", "delta_from_signatures"),
]
_STAGE_BINDINGS = ("redactify_spark.plans.checkpoint",
                   "redactify_spark.plans.recrawl")


class Tracer:
    def __init__(self, spark, jvm_pid: int):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.iteration: int | None = None

    def _python_cpu(self) -> float:
        """CPU of the Python worker processes under the JVM."""
        return cpu_s([p for p in tree(self.jvm_pid) if p != self.jvm_pid])

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": f"span-{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "iteration": self.iteration,
               "start": time.perf_counter() - self.t0, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        py0 = self._python_cpu()
        try:
            yield rec
        finally:
            rec["python_cpu_s"] = self._python_cpu() - py0
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    @contextmanager
    def install(self):
        """Wrap the package's public boundaries for the duration."""
        saved = []

        def patch(mod, attr, wrapper):
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, wrapper)

        run_stage = importlib.import_module(_STAGE_BINDINGS[0]).run_stage

        @functools.wraps(run_stage)
        def traced_stage(spark, root, stage, builder, *a, **kw):
            with self.span(f"stage:{stage}", stage=stage):
                return run_stage(spark, root, stage, builder, *a, **kw)

        for name in _STAGE_BINDINGS:
            patch(importlib.import_module(name), "run_stage", traced_stage)
        for name, attr in _OPERATORS:
            mod = importlib.import_module(name)
            patch(mod, attr, self._wrap(attr, getattr(mod, attr)))
        try:
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def _wrap(self, name, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


def owner_key(span: dict) -> str:
    """A stage span is keyed by its stage, any other span by its name."""
    return span.get("stage", span["name"])


def span_layer(spans_by_id: dict, span: dict) -> tuple[str | None, str | None]:
    """(layer, owning span id): the nearest of the span and its ancestors
    that is in OWNERS."""
    s = span
    while s is not None:
        if owner_key(s) in OWNERS:
            return OWNERS[owner_key(s)][0], s["id"]
        s = spans_by_id.get(s["parent"])
    return None, None


def read_event_log(log_dir: str) -> tuple[dict, list[dict]]:
    """(job id -> {"group", "stages"}, task-end records) from the one
    application log under `log_dir`."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    jobs, tasks = {}, []
    with open(path) as f:
        for line in f:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {})
                    .get("spark.jobGroup.id"),
                    "stages": ev["Stage IDs"]}
            elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                tasks.append({
                    "stage": ev["Stage ID"],
                    "failed": bool(info.get("Failed")
                                   or ev["Task End Reason"]["Reason"]
                                   != "Success"),
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "spill": (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0)})
    return jobs, tasks


def attribute(spans: list[dict], jobs: dict, tasks: list[dict]) -> dict:
    """Per traced iteration: Spark jobs and tasks charged to layers.

    Returns {iteration: {"jobs": {owning span id: n}, "layers": {layer:
    {"tasks", "failed", "cpu_s", "gc_s", "spill", "shuffle_write",
    "stage_task_ms": {spark stage: [ms]}}}}}."""
    by_id = {s["id"]: s for s in spans}
    stage_job = {}
    for jid in sorted(jobs):
        for st in jobs[jid]["stages"]:
            stage_job.setdefault(st, jid)
    out: dict = {}

    def bucket(jid):
        span = by_id.get(jobs[jid]["group"])
        if span is None or span["iteration"] is None:
            return None
        layer, owner = span_layer(by_id, span)
        if layer is None:
            return None
        it = out.setdefault(span["iteration"], {"jobs": {}, "layers": {}})
        return it, layer, owner

    for jid in jobs:
        b = bucket(jid)
        if b:
            it, layer, owner = b
            it["jobs"][owner] = it["jobs"].get(owner, 0) + 1
    for t in tasks:
        jid = stage_job.get(t["stage"])
        b = bucket(jid) if jid is not None else None
        if not b:
            continue
        it, layer, owner = b
        agg = it["layers"].setdefault(layer, {
            "tasks": 0, "failed": 0, "cpu_s": 0.0, "gc_s": 0.0,
            "spill": 0, "shuffle_write": 0, "stage_task_ms": {}})
        agg["tasks"] += 1
        agg["failed"] += t["failed"]
        agg["cpu_s"] += t["cpu_s"]
        agg["gc_s"] += t["gc_s"]
        agg["spill"] += t["spill"]
        agg["shuffle_write"] += t["shuffle_write"]
        agg["stage_task_ms"].setdefault(t["stage"], []).append(t["ms"])
    return out


def task_skew(stage_task_ms: dict) -> float:
    """Largest max/median task time over Spark stages with >= 2 tasks."""
    worst = 1.0
    for ms in stage_task_ms.values():
        if len(ms) >= 2:
            worst = max(worst, max(ms) / max(statistics.median(ms), 1))
    return worst
