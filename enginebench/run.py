"""Run one workload of the engine benchmark and print its result line.

    python3 enginebench/run.py --workload news_search --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.bench_work/`` (cached), the engine runs on ``local[<cores>]``, and the
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer metrics, spans and counts going to
``.bench_work/traces/``). The line before it carries the host witnesses,
the latency tail and, for a traced run after an untraced run of the same
seed, the tracing overhead per end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

END_TO_END = {"latency_p50_s": "s", "requests_per_s": "1/s", "setup_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "engine.index_build_s": "s", "engine.build_s": "s",
    "engine.build_jobs": "count", "spark.plan_s": "s", "spark.exec_s": "s",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.input_rows_per_op": "count",
    "spark.shuffle_bytes_per_op": "B", "spark.spill_bytes_per_op": "B",
    "spark.gc_s_per_op": "s", "spark.cpu_s_per_op": "s",
    "streaming.dedup_s": "s", "streaming.dedup_batch_s": "s",
    "streaming.dedup_overhead_s": "s", "streaming.index_s": "s",
    "streaming.index_batch_s": "s", "streaming.batches_per_drop": "count",
    "dedup.accept_ratio": "ratio", "search.load_s": "s", "search.probe_s": "s",
    "storage.index_files": "count", "storage.index_bytes": "B",
    "storage.sig_bytes": "B", "storage.accepted_bytes": "B",
    "storage.bytes_per_doc": "B", "ingest.docs_per_s": "docs/s",
    "client.gap_s": "s", "client.latency_tail_s": "s",
    "client.ops": "count", "host.steal_pct": "%", "host.probe_before_s": "s",
    "host.probe_after_s": "s", "host.other_busy_cores": "cores", "host.peak_rss_mb": "MB",
    "traced.latency_p50_s": "s", "traced.requests_per_s": "1/s",
    "traced.setup_s": "s",
}


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tr, out, base: dict) -> dict:
    """Per-layer values from the trace: counts are means over the ops the
    seed fixes (so they repeat exactly), times are medians per window op."""
    from enginebench.stats import median, tail

    w, c = out.window_ops, out.count_ops
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(base)
    m.update(out.layer)
    m["engine.index_build_s"] = median(tr.durations("engine.index_build"))
    for name in ("engine.build", "spark.plan", "spark.exec", "search.load", "search.probe"):
        m[f"{name}_s"] = median(tr.durations(name, w))
    m["engine.build_jobs"] = _mean(tr.values("engine.build_jobs", c))
    for key, name, scale in (("jobs", "jobs_per_op", 1), ("stages", "stages_per_op", 1),
                             ("tasks", "tasks_per_op", 1), ("input_rows", "input_rows_per_op", 1),
                             ("shuffle_bytes", "shuffle_bytes_per_op", 1),
                             ("spill_bytes", "spill_bytes_per_op", 1),
                             ("gc_ms", "gc_s_per_op", 1e-3), ("cpu_ns", "cpu_s_per_op", 1e-9)):
        m[f"spark.{name}"] = scale * _mean(tr.values(f"spark.{key}", c))
    for prefix in ("dedup", "index"):
        wall = tr.durations(f"streaming.{prefix}", w)
        batch = tr.values(f"streaming.{prefix}_batch_s", w)
        m[f"streaming.{prefix}_s"] = median(wall)
        m[f"streaming.{prefix}_batch_s"] = median(batch)
        if prefix == "dedup" and wall:
            m["streaming.dedup_overhead_s"] = median([a - b for a, b in zip(wall, batch)])
    m["streaming.batches_per_drop"] = _mean(tr.values("streaming.dedup_batches", w))
    t0, t1 = out.window_t
    m["client.gap_s"] = (t1 - t0 - tr.root_time(t0, t1)) / max(1, len(w))
    t = tail(out.latencies)
    m["client.latency_tail_s"] = t[0] if t else 0.0
    m["client.ops"] = len(out.latencies)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pandemic_knowledge_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from enginebench import host, inputs
    from enginebench.stats import median, tail
    from enginebench.trace import SparkCounters, Tracer
    from enginebench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    host.pin_environment(WORK)
    inputs_dir, manifest = inputs.ensure(WORK, args.workload, args.seed)

    probe_before = host.probe_s()
    t = time.perf_counter()
    from pandemic_knowledge_spark.session import get_spark

    spark = get_spark(master=f"local[{host.cores()}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    java = spark.sparkContext._gateway.proc
    tracer = Tracer(bool(args.trace))
    ctx = Ctx(spark, args.seed, args.seconds, WORK, inputs_dir, manifest, tracer,
              SparkCounters(spark) if args.trace else None)
    try:
        out = WORKLOADS[args.workload](ctx)
        rss_parts = {"jvm_hwm_mb": host.vm_hwm_mb(java.pid), "py_hwm_mb": host.vm_hwm_mb()}
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        java.stdin.close()
        try:
            java.wait(timeout=60)
        except Exception:
            java.kill()
            java.wait()
    probe_after = host.probe_s()

    e2e = {
        "latency_p50_s": median(out.latencies),
        "requests_per_s": len(out.latencies) / out.window_s,
        "setup_s": session_s + out.setup_s,
    }
    witness = {**out.witness, "probe_before_s": probe_before, "probe_after_s": probe_after,
               "peak_rss_mb": sum(rss_parts.values()), **rss_parts}
    t = tail(out.latencies)
    results = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}.json")
    overhead = {}
    if args.trace and os.path.exists(results):
        with open(results) as f:
            untraced = json.load(f)
        overhead = {k: e2e[k] - untraced[k] for k in END_TO_END}
    elif not args.trace:
        os.makedirs(os.path.dirname(results), exist_ok=True)
        with open(results, "w") as f:
            json.dump(e2e, f)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "witness": witness,
                      "tracing_overhead": overhead,
                      "tail": {"value_s": t[0], "pct": t[1], "n": t[2]} if t
                      else {"n": len(out.latencies)},
                      "problems": out.problems[:5]}))
    if args.trace:
        base = {"session.start_s": session_s,
                **{f"host.{k}": v for k, v in witness.items()},
                **{f"traced.{k}": v for k, v in e2e.items()}}
        metrics = layer_metrics(tracer, out, base)
        units = PER_LAYER
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"),
                    {"metrics": metrics})
    else:
        metrics, units = e2e, END_TO_END
    print(json.dumps({
        "correct": not out.problems,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
