"""Plan census: for every registry query, construct the plan at a small SF
and count scale-relevant node types (Scan parquet, Exchange, SortMergeJoin,
BroadcastHashJoin, CartesianProduct, BatchEvalPython/ArrowEvalPython,
Deduplicate/HashAggregate, Window).  Sorted by scan count then exchange
count — a cheap registry-wide sweep for duplicated-subtree plans (this
environment performs no exchange/subtree reuse, so every extra scan is a
real extra pass at scale).

Building a plan runs whatever Spark jobs the query's builder starts (fits,
store writes, checkpoint loops; `bench.time_query` counts them as
construct_jobs) at the chosen SF; the default sf0.01 keeps that cheap.

Usage:  PYTHONPATH=/root/repo python tools/plan_census.py [--sf DIR] [name ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            i += 1
            sf_dir = args[i]
        else:
            names.append(args[i])
        i += 1

    from variant_load_pipeline_spark import queries as Q
    from variant_load_pipeline_spark.session import get_spark

    spark = get_spark(app_name="vlp-plan-census")
    reg = Q.registry()
    todo = names or sorted(reg)

    MARKERS = [
        ("scan", r"Scan parquet"),
        ("xchg", r"\bExchange\b"),
        ("smj", r"SortMergeJoin"),
        ("bhj", r"BroadcastHashJoin"),
        ("cart", r"CartesianProduct|BroadcastNestedLoopJoin"),
        ("py", r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas"),
        ("win", r"\bWindow\b|RunningWindowFunction"),
        ("sort", r"\bSort\b"),
    ]
    rows = []
    for name in todo:
        if name not in reg:
            continue
        try:
            df = reg[name].spark_fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            rows.append((name, {"err": str(e)[:80]}))
            continue
        counts = {k: len(re.findall(p, plan)) for k, p in MARKERS}
        rows.append((name, counts))

    def key(item):
        _, c = item
        if "err" in c:
            return (-1, -1)
        return (c["scan"], c["xchg"])

    for name, c in sorted(rows, key=key, reverse=True):
        if "err" in c:
            print(f"{name:40s} ERR {c['err']}")
        else:
            print(
                f"{name:40s} scan={c['scan']:2d} xchg={c['xchg']:2d} "
                f"smj={c['smj']} bhj={c['bhj']} cart={c['cart']} "
                f"py={c['py']} win={c['win']} sort={c['sort']}"
            )


if __name__ == "__main__":
    main()
