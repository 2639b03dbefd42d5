"""Per-query optimization measurement harness (guide §1).

For each bench query (or --names):
  * capture .explain("formatted") to <plans_dir>/<name>_<tag>.txt
  * count Exchange / BroadcastExchange / *EvalPython nodes in the plan
  * time median-of-N cache-cleared runs, BOTH the bench's collect() and the
    noop sink (computation only)
  * count Spark jobs triggered per run (build-time eager jobs included)

Usage: python scripts/measure.py PLANS_DIR [--tag before] [--names a,b]
       [--runs 3] [--sf-dir SF_DIR] [--no-plans]

e.g. ``python scripts/measure.py plans/r14 --plans-only``
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pandemic_knowledge_spark.plans import BENCH_QUERY_NAMES, REGISTRY  # noqa: E402
from pandemic_knowledge_spark.session import get_spark  # noqa: E402


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def count_nodes(plan: str) -> dict[str, int]:
    return {
        "exchange": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_exchange": len(re.findall(r"BroadcastExchange", plan)),
        "python_eval": len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas", plan)
        ),
        "sort_merge_join": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "scans": len(re.findall(r"Scan parquet", plan)),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("plans_dir", help="where the formatted plans are written")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--names", default="")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument(
        "--plans-only",
        action="store_true",
        help="capture .explain('formatted') + node counts only — no "
        "warmup, no job-count run, no timed runs (cheap final-plan "
        "snapshot)",
    )
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    names = [n for n in args.names.split(",") if n] or list(BENCH_QUERY_NAMES)
    plans_dir = args.plans_dir
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark(app_name="pk-measure")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # Same steady-state discipline as bench.py: warm the whole set twice.
    spark.range(1000).selectExpr("sum(id)").collect()
    if not args.plans_only:
        for _ in range(2):
            for name in names:
                spark.catalog.clearCache()
                REGISTRY[name].fn(spark, args.sf_dir).collect()

    results: dict[str, dict] = {}
    for name in names:
        fn = REGISTRY[name].fn
        sc.setJobDescription(f"measure:{name}")

        # Plan capture (on a frame built outside any timing).
        df = fn(spark, args.sf_dir)
        plan = plan_text(df)
        nodes = count_nodes(plan)
        if not args.no_plans:
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)

        if args.plans_only:
            results[name] = dict(nodes)
            print(
                f"{name}: exch={nodes['exchange']} "
                f"bexch={nodes['broadcast_exchange']} "
                f"py={nodes['python_eval']} smj={nodes['sort_merge_join']} "
                f"scans={nodes['scans']}",
                flush=True,
            )
            continue

        # Job count for one full build+collect cycle.
        group = f"jobs_{name}_{args.tag}"
        sc.setJobGroup(group, name)
        spark.catalog.clearCache()
        fn(spark, args.sf_dir).collect()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(None, None)

        collect_ts, noop_ts = [], []
        for _ in range(args.runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).collect()
            collect_ts.append(time.perf_counter() - t0)
        for _ in range(args.runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            noop_ts.append(time.perf_counter() - t0)
        med = lambda ts: round(sorted(ts)[len(ts) // 2], 3)  # noqa: E731
        results[name] = {
            "collect_med": med(collect_ts),
            "noop_med": med(noop_ts),
            "jobs": n_jobs,
            **nodes,
        }
        print(
            f"{name}: collect={results[name]['collect_med']}s "
            f"noop={results[name]['noop_med']}s jobs={n_jobs} "
            f"exch={nodes['exchange']} bexch={nodes['broadcast_exchange']} "
            f"py={nodes['python_eval']} smj={nodes['sort_merge_join']} "
            f"scans={nodes['scans']}",
            flush=True,
        )

    total = round(
        sum(r.get("collect_med", 0.0) for r in results.values()), 3
    )
    out = args.out or f"/tmp/measure_{args.tag}.json"
    with open(out, "w") as f:
        json.dump({"total_collect": total, "queries": results}, f, indent=1)
    print(json.dumps({"total_collect": total, "n": len(results), "out": out}))
    spark.stop()


if __name__ == "__main__":
    main()
