"""Per-layer metrics of a traced run.

Times come from the spans, Spark work (jobs, tasks, CPU, GC, spill,
shuffle) from the event log charged to spans by job group, rows from the
stage manifests, and the kernel rates from an in-process probe over the
workload's own texts.  Every value is the median over the run's traced
iterations.  A layer a workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics
import time

from spans import LAYERS, OWNERS, attribute, owner_key, read_event_log, \
    span_layer, task_skew

#: name -> unit of every per-layer metric, in report order
UNITS = {
    "session.start_s": "s", "session.python_warm_s": "s",
    "session.warmup_s": "s",
    "kernel.docs_per_s": "docs/s", "kernel.mentions_per_doc": "count",
    "anonymize.docs_per_s": "docs/s",
    "detection.s": "s", "detection.task_cpu_s": "s",
    "detection.rows_out": "count", "detection.udf_overhead_ratio": "ratio",
    "triples.s": "s", "triples.rows_out": "count",
    "triples.shuffle_write_bytes": "bytes",
    "linking.s": "s", "linking.candidate_pairs": "count",
    "linking.edges": "count", "linking.yield": "ratio",
    "linking.wide_buckets_dropped": "count",
    "linking.shuffle_write_bytes": "bytes",
    "components.s": "s", "components.jobs": "count",
    "components.rows_out": "count",
    "graph.canon_join_s": "s", "graph.nodes_s": "s", "graph.edges_s": "s",
    "graph.task_skew": "ratio",
    "graph_algs.salience_s": "s", "graph_algs.jobs": "count",
    "urls.signature_s": "s", "urls.delta_s": "s",
    "recrawl.ownership_s": "s", "recrawl.detected_fraction": "ratio",
    "checkpoint.stages": "count", "checkpoint.files_written": "count",
    "checkpoint.bytes_written": "bytes",
    **{f"{layer}.{m}": u for layer in LAYERS
       for m, u in (("gc_s", "s"), ("spill_bytes", "bytes"))},
    "spark.tasks": "count", "spark.failed_tasks": "count",
    "failed_op_fraction": "ratio", "trace.overhead_s": "s",
}


def kernel_probe(texts: list[str]) -> dict:
    """detect_batch and anonymize_text in this process, on one core."""
    from redactify_spark.detect import anonymize, kernel
    t = time.perf_counter()
    found = kernel.detect_batch(texts)
    detect_s = time.perf_counter() - t
    t = time.perf_counter()
    for text, ms in zip(texts, found):
        anonymize.anonymize_text(text, ms, "pseudonymize", True)
    anon_s = time.perf_counter() - t
    return {"kernel.docs_per_s": len(texts) / detect_s,
            "kernel.mentions_per_doc": sum(map(len, found)) / len(texts),
            "anonymize.docs_per_s": len(texts) / anon_s}


def _iteration(spans: list[dict], by_id: dict, charged: dict,
               info: dict) -> dict:
    out = dict.fromkeys(UNITS, 0.0)
    stage_spans = [s for s in spans if "stage" in s]
    for s in spans:
        metric = OWNERS.get(owner_key(s), (None, None))[1]
        if metric:
            out[metric] += s["end"] - s["start"]
    out["checkpoint.stages"] = len(stage_spans)
    out["checkpoint.files_written"] = info["files"]
    out["checkpoint.bytes_written"] = info["stored"]

    layers = charged.get("layers", {})
    jobs = charged.get("jobs", {})
    for layer, agg in layers.items():
        out[f"{layer}.gc_s"] = agg["gc_s"]
        out[f"{layer}.spill_bytes"] = agg["spill"]
        out["spark.tasks"] += agg["tasks"]
        out["spark.failed_tasks"] += agg["failed"]
    for layer in ("triples", "linking"):
        out[f"{layer}.shuffle_write_bytes"] = (
            layers.get(layer, {}).get("shuffle_write", 0))
    out["graph.task_skew"] = task_skew(
        layers.get("graph", {}).get("stage_task_ms", {}))
    for s in stage_spans:
        if s["stage"] == "04_canonical":
            out["components.jobs"] += jobs.get(s["id"], 0)
        elif s["stage"] == "07_salience":
            out["graph_algs.jobs"] += jobs.get(s["id"], 0)
    # detection CPU: JVM task CPU plus the Python workers' CPU over the
    # spans that own detection work
    py = sum(s["python_cpu_s"] for s in spans
             if span_layer(by_id, s) == ("detection", s["id"]))
    out["detection.task_cpu_s"] = (
        layers.get("detection", {}).get("cpu_s", 0.0) + py)
    return out


def per_layer(tracer, wl, iters: list[dict], counts: dict, log_dir: str,
              start_s: float, python_warm_s: float, warmup_s: float,
              failed_fraction: float) -> dict:
    jobs, tasks = read_event_log(log_dir)
    charged = attribute(tracer.spans, jobs, tasks)
    by_id = {s["id"]: s for s in tracer.spans}
    rows = []
    for info in iters:
        if info["traced"]:
            spans = [s for s in tracer.spans if s["iteration"] == info["i"]]
            rows.append(_iteration(spans, by_id,
                                   charged.get(info["i"], {}), info))
    out = {k: statistics.median(r[k] for r in rows) for k in UNITS}
    out.update(kernel_probe(wl.kernel_sample()))
    detected = counts.pop("detected_docs")
    out.update(counts)
    out["detection.udf_overhead_ratio"] = (
        out["detection.task_cpu_s"]
        / (detected / out["kernel.docs_per_s"]))
    out["session.start_s"] = start_s
    out["session.python_warm_s"] = python_warm_s
    out["session.warmup_s"] = warmup_s
    out["failed_op_fraction"] = failed_fraction
    walls = {t: [it["wall"] for it in iters if it["traced"] == t]
             for t in (False, True)}
    out["trace.overhead_s"] = (statistics.median(walls[True])
                               - statistics.median(walls[False]))
    return {k: {"value": v, "unit": UNITS[k]} for k, v in out.items()}
