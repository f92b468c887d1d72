#!/usr/bin/env python3
"""Per-query plan + timing audit for the optimization rounds (guide §1).

For each named query (default: bench.py's HEADLINE list):
  - captures .explain("formatted") to <outdir>/<name>_<tag>.txt
  - times the computation via the noop sink (guide §1.4) — one untimed
    warm-up, then N timed runs, best reported — with setJobDescription
    labels (§1.5)
  - summarizes plan shape: Exchange count, join strategies, Python
    eval nodes, scans with PushedFilters

With --executed it instead runs each query once (collect) and audits the
FINAL post-AQE plan, ``queryExecution().executedPlan()`` read after the
action (guide §7.2: with AQE on, explain() before execution shows the
initial plan only). The pre-execution text over-counts scans when a
subtree is cached (InMemoryRelation renders its child per reference) or
when ReuseExchange / ReuseSubquery dedupe at runtime; the executed plan
says how many parquet scans, exchanges and cache reads actually ran.

Usage:
  python3 tools/plan_audit.py --tag before [--queries a,b,c] [--runs 2]
  python3 tools/plan_audit.py --executed --tag executed --queries a,b
  SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS honored like bench.py.

Output: one JSON line {"tag":..., "queries": {name: {"noop_s" (or
"wall_s" with --executed):..., "exchanges":..., "joins": [...],
"python_nodes": [...], ...}}}.
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


def plan_stats(plan: str) -> dict:
    """Shape counts of one plan text: a formatted explain, or the final
    executed plan (``final_plan`` says which AQE produced)."""
    def count(pattern: str) -> int:
        return len(re.findall(pattern, plan))

    joins = re.findall(
        r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)\b", plan)
    pynodes = re.findall(
        r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|"
        r"FlatMapGroupsInPandas|AggregateInPandas)\b", plan)
    return {
        "exchanges": count(r"\bExchange\b"),
        "reused_exchanges": count(r"ReusedExchange"),
        "reused_subqueries": count(r"ReusedSubquery"),
        "inmemory_scans": count(r"InMemoryTableScan"),
        "joins": sorted(set(joins)),
        "n_joins": len(joins),
        "python_nodes": sorted(set(pynodes)),
        "n_python_nodes": len(pynodes),
        "scans": count(r"Scan parquet|FileScan"),
        "sorts": count(r"\bSort \["),
        "final_plan": "isFinalPlan=true" in plan,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--queries", default=None,
                    help="comma-separated names; default bench HEADLINE")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--outdir", default=os.path.join(REPO, "plans", "r09"))
    ap.add_argument("--no-time", action="store_true",
                    help="plans only, skip the timed noop runs")
    ap.add_argument("--executed", action="store_true",
                    help="run once and audit the final post-AQE plan")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from nexusbase_spark.session import get_spark
    from nexusbase_spark.datamodel import load_table
    from nexusbase_spark.queries import all_queries

    if args.queries:
        names = args.queries.split(",")
    else:
        import bench
        names = list(bench.HEADLINE)

    os.makedirs(args.outdir, exist_ok=True)
    spark = get_spark("nexusbase-plan-audit", master=f"local[{cpus}]",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # same warm-up as bench.py so timings are steady-state comparable
    for t in ("events", "lineitem", "orders", "customer", "documents",
              "embeddings"):
        load_table(spark, sf_dir, t).count()
    spark.range(256).repartition(int(cpus)).mapInPandas(
        lambda it: it, "id long").count()

    qs = all_queries()
    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        df = fn(spark, sf_dir)
        if args.executed:
            sc.setJobDescription(f"audit:{name}:executed")
            t0 = time.time()
            df.collect()
            wall = time.time() - t0
            # after the action the adaptive plan renders its final form
            # first; the initial plan it also prints never ran
            plan = (df._jdf.queryExecution().executedPlan().toString()
                    .split("== Initial Plan ==")[0])
        else:
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
        path = os.path.join(args.outdir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        stats = plan_stats(plan)
        if args.executed:
            stats["wall_s"] = round(wall, 3)
        elif not args.no_time:
            sc.setJobDescription(f"audit:{name}:warmup")
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = float("inf")
            for i in range(args.runs):
                sc.setJobDescription(f"audit:{name}:run{i}")
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            stats["noop_s"] = round(best, 3)
        sc.setJobDescription(None)
        out[name] = stats
        print(f"  {name}: {stats}", file=sys.stderr)

    print(json.dumps({"tag": args.tag, "sf_dir": sf_dir, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
