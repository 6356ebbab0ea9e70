"""Phase profiler: split each query's wall into BUILD (driver-side DataFrame
construction, including any eager actions the builder runs), PLAN (analysis +
optimization + physical planning of the final frame, forced via
``queryExecution().executedPlan()``), and EXEC (the noop-sink action).

At sf0.1 the inputs are tiny (~17 MB total), so fixed costs dominate; this
tells us per query whether the lever is driver work, Catalyst, or the jobs
themselves. Usage:

    python tools/phase_profile.py [--reps N] QUERY ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from iatlas_cbioportal_export_spark import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark("phase-profile")
    registry = entrymod.queries()
    spark.range(1).count()
    spark.read.parquet(os.path.join(args.sf_dir, "region.parquet")).count()

    out: dict[str, dict] = {}
    for name in args.queries:
        if name not in registry:
            print(f"SKIP unknown {name}", file=sys.stderr)
            continue
        # warmup
        entrymod.reset_bench_caches(spark)
        df = registry[name](spark, args.sf_dir)
        df.write.format("noop").mode("overwrite").save()
        best = None
        for _ in range(args.reps):
            entrymod.reset_bench_caches(spark)
            t0 = time.time()
            df = registry[name](spark, args.sf_dir)
            t1 = time.time()
            df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.time()
            rec = {
                "build": round(t1 - t0, 3),
                "plan": round(t2 - t1, 3),
                "exec": round(t3 - t2, 3),
                "total": round(t3 - t0, 3),
            }
            if best is None or rec["total"] < best["total"]:
                best = rec
        out[name] = best
        print(f"{name}: {best}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
