"""Dump ``explain('formatted')`` for named queries to files.

Usage:
    python tools/dump_plan.py OUT_DIR SUFFIX QUERY [QUERY ...]

Writes OUT_DIR/<query>_<SUFFIX>.txt per query, built at
$SPARK_GRAFT_SF_DIR (default sf0.1 — the bench scale, so size-estimate
driven choices like broadcast joins match what the bench runs).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from iatlas_cbioportal_export_spark import get_spark  # noqa: E402


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plan")
    registry = entrymod.queries()
    for name in names:
        entrymod.reset_bench_caches(spark)
        df = registry[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
