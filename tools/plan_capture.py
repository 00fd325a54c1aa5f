"""Measurement helper: capture `.explain("formatted")` plans and noop-sink
timings for declared queries.

Usage:
    python tools/plan_capture.py --suffix before --out plans/<label> q1 q2 ...
    python tools/plan_capture.py --time --iters 3 --out plans/<label> q1 q2 ...

Plans go to <out>/<name>_<suffix>.txt; timings print one JSON line.
The noop sink computes every row/column (guide §1.4); jobs are labeled
via setJobDescription (guide §1.5). NOTE: queries with eager
localCheckpoints execute part of their pipeline at plan-construction
time; the captured plan is the final (post-checkpoint) shape, matching
what the executed query runs, and construction cost is included in the
timing (it is part of the query's wall time in the bench too).
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from hbsir_old_spark import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--suffix", default=None, help="write plans with this suffix")
    ap.add_argument("--out", required=True, help="directory for captured plans")
    ap.add_argument("--time", action="store_true")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark("plan-capture")
    queries = {**entry_mod.queries(), **entry_mod.bench_only_queries()}
    timings: dict[str, float] = {}
    colds: dict[str, float] = {}
    os.makedirs(args.out, exist_ok=True)
    for name in args.names:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"capture:{name}")
        if args.suffix:
            df = fn(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.out, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
        if args.time:
            runs = []
            for i in range(args.iters):
                t0 = time.perf_counter()
                fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            colds[name] = round(runs[0], 3)
            timings[name] = round(statistics.median(runs), 3)
            print(f"{name}: median {timings[name]} cold {colds[name]}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    if args.time:
        print(json.dumps({"queries": timings, "cold": colds, "sf_dir": args.sf_dir}))
    spark.stop()


if __name__ == "__main__":
    main()
