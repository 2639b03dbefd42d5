"""Catalog-wide duplicated-expensive-expression census (r13 wave 4).

For every registered query (or --names), build the DataFrame, capture the
formatted plan, and count evaluation SITES of expensive per-row
expressions in the physical tree: the tokenizer regexp
(regexp_extract_all), md5, and interpreted HOF markers (aggregate /
zip_with lambdas). A site = one occurrence inside one operator's detail
block; N sites of the same expression over the same input column usually
means the expression runs N times per row (guide §7.2 "duplicated UDF
evaluation" — here JVM expressions, same failure mode).

Output: JSON {name: {"regexp_sites": n, "md5_sites": n, "nodes": n}},
sorted report of the worst offenders to stdout. The census counts the
DETAIL section only (each node printed once), so numbers are per-plan
evaluation sites, not the tree+detail double count.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def detail_section(plan: str) -> str:
    # formatted plans print the tree, a blank line, then "(1) Node" blocks
    m = re.search(r"^\(1\) ", plan, flags=re.M)
    return plan[m.start():] if m else plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--names", default="")
    ap.add_argument("--out", default="/tmp/expr_dup_census.json")
    args = ap.parse_args()

    from pandemic_knowledge_spark.plans import REGISTRY
    from pandemic_knowledge_spark.session import get_spark
    from scripts.measure import plan_text

    spark = get_spark(app_name="pk-expr-census")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in args.names.split(",") if n] or list(REGISTRY)
    out: dict[str, dict] = {}
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, args.sf_dir)
            detail = detail_section(plan_text(df))
        except Exception as e:  # noqa: BLE001 - census, record and move on
            out[name] = {"error": str(e)[:200]}
            continue
        out[name] = {
            "regexp_sites": len(re.findall(r"regexp_extract_all", detail)),
            "md5_sites": len(re.findall(r"\bmd5\(", detail)),
            "hof_sites": len(re.findall(r"\baggregate\(|\bzip_with\(", detail)),
            "nodes": len(re.findall(r"^\(\d+\) ", detail, flags=re.M)),
        }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    flagged = sorted(
        ((n, d) for n, d in out.items() if "error" not in d),
        key=lambda x: -(x[1]["regexp_sites"] + x[1]["md5_sites"]),
    )
    for n, d in flagged[:30]:
        print(
            f"{n}: regexp={d['regexp_sites']} md5={d['md5_sites']} "
            f"hof={d['hof_sites']} nodes={d['nodes']}"
        )
    errs = [n for n, d in out.items() if "error" in d]
    if errs:
        print("errors:", errs)
    print(json.dumps({"total": len(out), "out": args.out}))
    spark.stop()


if __name__ == "__main__":
    main()
