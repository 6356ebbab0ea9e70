"""Scaling-exponent probe: time bench-tier queries at an arbitrary
``sf_dir`` (e.g. the gen_scale.py output) and append one JSON line per
query to a results file, so runs at two scales can be diffed into
per-query scaling exponents ``alpha = log(t_big/t_small) / log(K)``.

Usage:
    python tools/scale_bench.py SF_DIR OUT.jsonl [query ...]

Defaults to every CORE+EXTENDED+HEAVY bench query. Each query gets one
untimed warmup-free pass then ``SCALE_BENCH_REPS`` (default 2) timed reps;
the MIN is recorded (ambient-load-robust for a dedicated probe).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from iatlas_cbioportal_export_spark import get_spark  # noqa: E402


def main() -> None:
    sf_dir, out_path = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or (bench.CORE + bench.EXTENDED + bench.HEAVY)
    reps = int(os.environ.get("SCALE_BENCH_REPS", "2"))
    spark = get_spark("scale-bench", extra_conf={"spark.driver.memory": "48g"})
    qs = entrymod.queries()
    done = set()
    if os.path.exists(out_path):
        with open(out_path) as f:
            done = {
                json.loads(line)["query"]
                for line in f
                if line.strip() and json.loads(line)["sf_dir"] == sf_dir
            }
    with open(out_path, "a") as out:
        for name in names:
            if name in done:
                continue
            times = []
            for _ in range(reps):
                t0 = time.time()
                qs[name](spark, sf_dir).count()
                times.append(round(time.time() - t0, 3))
            rec = {"query": name, "sf_dir": sf_dir, "times": times,
                   "t": min(times)}
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(rec, flush=True)


if __name__ == "__main__":
    main()
