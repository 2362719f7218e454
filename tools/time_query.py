"""Time individual registry queries in isolation with bench.py's timer
(`bench.time_query`: construction and noop-sink execution timed apart,
plus the jobs construction starts), fresh plan and cleared cache per
repeat, so isolated numbers are comparable with group-bench numbers.

Usage:  PYTHONPATH=. python tools/time_query.py q1 q2 ... \
            [--sf DIR] [--repeats N] [--plan]
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = 3
    want_plan = False
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            i += 1
            sf_dir = args[i]
        elif a == "--repeats":
            i += 1
            repeats = int(args[i])
        elif a == "--plan":
            want_plan = True
        else:
            names.append(a)
        i += 1

    from bench import time_query
    from variant_load_pipeline_spark import queries as Q
    from variant_load_pipeline_spark.session import get_spark

    spark = get_spark(app_name="vlp-time-query")
    reg = Q.registry()

    # same warm-up as bench.py
    time_query(spark, reg["q6_forecast_revenue"], sf_dir)

    for name in names:
        if name not in reg:
            print(f"{name}: NOT IN REGISTRY")
            continue
        runs = []
        for _ in range(repeats):
            spark.catalog.clearCache()  # mirror bench.py's repeat hygiene
            runs.append(time_query(spark, reg[name], sf_dir))
        totals = [round(r["construct_s"] + r["execute_s"], 3) for r in runs]
        print(
            f"{name}: median={round(statistics.median(totals), 3)} "
            f"runs={totals} "
            f"construct={[round(r['construct_s'], 3) for r in runs]} "
            f"construct_jobs={[r['construct_jobs'] for r in runs]}"
        )
        if want_plan:
            df = reg[name].spark_fn(spark, sf_dir)
            print(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))


if __name__ == "__main__":
    main()
