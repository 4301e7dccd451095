"""Benchmark of record for redactify_spark.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Runs one workload (`kg_build`, `redact`, `recrawl`, or `all`) as a closed
loop -- one client, one job at a time -- on an explicit `local[k]` Spark
master, checks the outputs, and prints one JSON object as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}.  `--trace 0`
reports the end-to-end metrics; `--trace 1` reports the per-layer
metrics from a run with spans and Spark's event log.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "pages_per_s": "pages/s",
              "cpu_s_per_kpage": "s/kpage", "peak_rss_mb": "MiB",
              "stored_bytes_per_input_byte": "ratio"}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def first_detection(spark, wl) -> None:
    from redactify_spark.operators.detection import detect_mentions
    detect_mentions(spark.read.parquet(wl.sample_path),
                    id_col=wl.id_col).collect()


def timed_loop(wl, sess, seconds: float, tracer) -> tuple[list, int, int]:
    """Closed loop of timed iterations until `seconds` of timed work is
    done.  A traced run alternates untraced and traced iterations.
    Returns (successful iteration records, attempted, failed)."""
    from sandbox import cpu_s, tree

    min_iterations = 2 if tracer else 1
    iters, attempted, failed, timed, i = [], 0, 0, 0.0, 0
    while i < min_iterations or timed < seconds:
        root = wl.before(i)
        sess.clear()
        traced = tracer is not None and i % 2 == 1
        if tracer:
            tracer.iteration = i if traced else None
        c0 = cpu_s(tree(sess.jvm_pid))
        t = time.perf_counter()
        attempted += 1
        try:
            with tracer.install() if traced else nullcontext():
                with tracer.span(wl.name) if traced else nullcontext():
                    info = wl.run(sess.spark, root)
        except Exception:
            traceback.print_exc()
            failed += 1
            timed += time.perf_counter() - t
            i += 1
            if failed > min_iterations:
                break
            continue
        wall = time.perf_counter() - t
        cpu = cpu_s(tree(sess.jvm_pid)) - c0
        timed += wall
        wl.after(root, info)
        files, stored = wl.written(root)
        info.update(i=i, root=root, wall=wall, cpu=cpu, traced=traced,
                    files=files, stored=stored)
        iters.append(info)
        _log(f"{wl.name}: iteration {i} {wall:.2f}s"
             + (" (traced)" if traced else ""))
        i += 1
    return iters, attempted, failed


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 work: str) -> dict:
    from sandbox import Session, configure_env, peak_rss_mb, \
        reset_peak_rss, tree
    from workloads import WORKLOADS

    configure_env(work)
    wl = WORKLOADS[name](seed, work)
    t = time.perf_counter()
    wl.prepare()
    _log(f"{name}: inputs written in {time.perf_counter() - t:.1f}s")
    event_log = os.path.join(work, "eventlog") if trace else None

    sess = None
    try:
        # set-up: session build, the first detection job and the
        # untimed warm-up run
        sess = Session(work, event_log)
        t = time.perf_counter()
        first_detection(sess.spark, wl)
        python_warm_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up(sess.spark)
        warmup_s = time.perf_counter() - t
        setup_s = sess.start_s + python_warm_s + warmup_s
        _log(f"{name}: set-up {setup_s:.2f}s (session {sess.start_s:.2f}s, "
             f"first detection {python_warm_s:.2f}s, warm-up "
             f"{warmup_s:.2f}s)")
        reset_peak_rss(tree(sess.jvm_pid))

        tracer = None
        if trace:
            from spans import Tracer
            tracer = Tracer(sess.spark, sess.jvm_pid)
        iters, attempted, failed = timed_loop(wl, sess, seconds, tracer)
        rss = peak_rss_mb(tree(sess.jvm_pid))
        traced = [it for it in iters if it["traced"]]
        if not iters or (trace and not traced):
            raise RuntimeError(f"{name}: no timed iteration succeeded")

        t = time.perf_counter()
        errors = wl.check(sess.spark, iters[-1]["root"])
        _log(f"{name}: output check {time.perf_counter() - t:.1f}s")
        attempted += 1
        failed += bool(errors)
        for e in errors:
            _log("CHECK FAILED: " + e)
        if trace:
            counts = wl.layer_counts(sess.spark, traced[-1]["root"],
                                     traced[-1])
    finally:
        if sess:
            sess.close()

    if not trace:
        med = statistics.median
        metrics = {
            "setup_s": setup_s,
            "pages_per_s": med([it["pages"] / it["wall"] for it in iters]),
            "cpu_s_per_kpage": med([it["cpu"] / it["pages"] * 1000
                                    for it in iters]),
            "peak_rss_mb": rss,
            "stored_bytes_per_input_byte": med(
                [it["stored"] / it["input_bytes"] for it in iters]),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in metrics.items()}
    else:
        from layers import per_layer
        metrics = per_layer(tracer, wl, iters, counts, event_log,
                            start_s=sess.start_s,
                            python_warm_s=python_warm_s, warmup_s=warmup_s,
                            failed_fraction=failed / attempted)
        tracer.write(os.path.join(ROOT, ".perfbench", "traces",
                                  f"{name}-seed{seed}.json"),
                     {"workload": name, "seed": seed, "metrics": metrics})
    return {"correct": not errors and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def run_all(args) -> int:
    """Every workload in its own process; metrics prefixed by workload."""
    from workloads import WORKLOADS
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if not lines:
            _log(f"{name}: no result (exit {proc.returncode})")
            return 1
        res = json.loads(lines[-1])
        print(json.dumps({"workload": name, **res}), flush=True)
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        out["metrics"].update({f"{name}.{k}": v
                               for k, v in res["metrics"].items()})
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all",
                    choices=["all", "kg_build", "redact", "recrawl"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "redactify_spark")):
        _log(f"no redactify_spark package next to {HERE}; run from a "
             "checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    try:
        result = run_workload(args.workload, args.seed, args.seconds,
                              bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
