"""Per-query optimization profiler (r10): time individual queries in
isolation with the noop sink (guide §1.4 — computes every column, no sink
cost, full plan visible in the SQL tab) and label jobs (guide §1.5).

Unlike bench.py (the driver-comparable harness, which times ``.count()``
over the whole suite round-robin), this tool is for the inner optimization
loop: pick queries, run N reps each back-to-back, report min/median.
``min`` is the steady-state signal on a shared box; bench.py medians stay
the official number.

Usage:
    python tools/profile_queries.py [--reps N] [--sink noop|count] QUERY ...
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from iatlas_cbioportal_export_spark import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sink", choices=["noop", "count"], default="noop")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark("profile")
    sc = spark.sparkContext
    registry = entrymod.queries()
    spark.range(1).count()
    spark.read.parquet(os.path.join(args.sf_dir, "region.parquet")).count()

    def run(name: str) -> None:
        df = registry[name](spark, args.sf_dir)
        if args.sink == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    out: dict[str, dict] = {}
    for name in args.queries:
        if name not in registry:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        sc.setJobDescription(f"warmup: {name}")
        entrymod.reset_bench_caches(spark)
        run(name)
        walls = []
        for rep in range(args.reps):
            entrymod.reset_bench_caches(spark)
            sc.setJobDescription(f"profile: {name} rep {rep}")
            t0 = time.time()
            run(name)
            walls.append(round(time.time() - t0, 3))
        sc.setJobDescription(None)
        out[name] = {
            "reps": walls,
            "min": min(walls),
            "median": round(statistics.median(walls), 3),
        }
        print(f"{name}: min={min(walls)} median={out[name]['median']} "
              f"reps={walls}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
