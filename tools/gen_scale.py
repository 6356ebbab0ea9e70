"""Deterministic scale-up generator: replicate /root/testdata/sf0.1 by an
integer factor into a repo-local directory (default ``.scaledata/sf1.0``
for factor 10 ≈ TPC-H sf1), preserving the schema and the per-entity join
structure so the bench queries run unmodified at the larger scale.

Replication strategy (replica ``r`` of ``K``):
- region / nation: copied once — fixed dimensions, exactly like TPC-H.
- customer / supplier / part: keys offset by ``r * (max_key + 1)`` so key
  spaces stay dense and disjoint; per-row attributes unchanged (value
  distributions identical per replica).
- orders / lineitem: fact keys AND their foreign keys offset by the same
  per-dimension stride, so per-customer order counts, per-order line
  counts and the part/supplier fan-in are preserved exactly.
- events: event/user ids offset; timestamps unchanged (the time axis
  densifies — same window span, K× the events per window, which is what a
  bigger deployment looks like).
- documents: doc_id offset; every 3rd word replaced by a replica token so
  cross-replica near-dup similarity is ~0 (same trick as
  stress_bench.amplify_docs — measures SCALING, not the pathological
  everything-is-a-duplicate case); n_chars recomputed.
- embeddings: vec_id offset; one deterministic per-replica perturbation on
  the vector so replicas aren't exact near-dups; labels unchanged.

Usage: python tools/gen_scale.py [factor] [out_dir]
"""

from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from iatlas_cbioportal_export_spark import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO_ROOT, ".scaledata", f"sf{factor / 10:g}")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("gen-scale", extra_conf={"spark.driver.memory": "48g"})

    def reps():
        return spark.range(factor).select(F.col("id").alias("__rep"))

    def write(df, name):
        t0 = time.time()
        df.coalesce(max(1, factor)).write.mode("overwrite").parquet(
            f"{out_dir}/{name}.parquet"
        )
        n = spark.read.parquet(f"{out_dir}/{name}.parquet").count()
        print(f"{name:12s} {n:>10d} rows  [{time.time() - t0:.1f}s]", flush=True)

    for name in ("region", "nation"):
        write(spark.read.parquet(f"{SRC}/{name}.parquet"), name)

    cust = spark.read.parquet(f"{SRC}/customer.parquet")
    supp = spark.read.parquet(f"{SRC}/supplier.parquet")
    part = spark.read.parquet(f"{SRC}/part.parquet")
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    strides = {
        "c": cust.agg(F.max("c_custkey")).collect()[0][0] + 1,
        "s": supp.agg(F.max("s_suppkey")).collect()[0][0] + 1,
        "p": part.agg(F.max("p_partkey")).collect()[0][0] + 1,
        "o": orders.agg(F.max("o_orderkey")).collect()[0][0] + 1,
    }
    r = F.col("__rep")

    # replica-prefixed names (same trick as stress_bench.amplify_customer):
    # TPC-H names are low-entropy, so UNCHANGED names across replicas make
    # the true fuzzy-match density itself grow ~K^2 per name — that would
    # measure the pathological everything-matches case, not scaling
    # (observed: fuzzy_join_names 48x wall at 10x rows before this fix).
    write(
        cust.crossJoin(reps()).select(
            (F.col("c_custkey") + r * strides["c"]).alias("c_custkey"),
            F.concat(
                F.lit("r"), F.repeat(r.cast("string"), 3), F.lit("#"),
                F.col("c_name"),
            ).alias("c_name"),
            "c_nationkey", "c_acctbal", "c_mktsegment",
        ),
        "customer",
    )
    write(
        supp.crossJoin(reps()).select(
            (F.col("s_suppkey") + r * strides["s"]).alias("s_suppkey"),
            "s_name", "s_nationkey", "s_acctbal",
        ),
        "supplier",
    )
    write(
        part.crossJoin(reps()).select(
            (F.col("p_partkey") + r * strides["p"]).alias("p_partkey"),
            "p_name", "p_brand", "p_type", "p_size", "p_retailprice",
        ),
        "part",
    )
    write(
        orders.crossJoin(reps()).select(
            (F.col("o_orderkey") + r * strides["o"]).alias("o_orderkey"),
            (F.col("o_custkey") + r * strides["c"]).alias("o_custkey"),
            "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
        ),
        "orders",
    )
    write(
        li.crossJoin(reps()).select(
            (F.col("l_orderkey") + r * strides["o"]).alias("l_orderkey"),
            (F.col("l_partkey") + r * strides["p"]).alias("l_partkey"),
            (F.col("l_suppkey") + r * strides["s"]).alias("l_suppkey"),
            "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
            "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        ),
        "lineitem",
    )

    ev = spark.read.parquet(f"{SRC}/events.parquet")
    n_ev = ev.agg(F.max("event_id")).collect()[0][0] + 1
    n_us = ev.agg(F.max("user_id")).collect()[0][0] + 1
    write(
        ev.crossJoin(reps()).select(
            (F.col("event_id") + r * n_ev).alias("event_id"),
            "ts",
            (F.col("user_id") + r * n_us).alias("user_id"),
            "event_type", "value", "props",
        ),
        "events",
    )

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    n_doc = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    rep_tok = F.concat(F.lit("r"), r.cast("string"))
    toks = F.split(F.col("text"), r"\s+")
    mutated = F.array_join(
        F.zip_with(
            toks,
            F.sequence(F.lit(0), F.size(toks) - 1),
            lambda t, i: F.when(i % 3 == 2, rep_tok).otherwise(t),
        ),
        " ",
    )
    write(
        docs.crossJoin(reps()).select(
            (F.col("doc_id") + r * n_doc).alias("doc_id"),
            mutated.alias("text"),
            "lang", "source",
        ).withColumn("n_chars", F.length("text")),
        "documents",
    )

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    n_vec = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    write(
        emb.crossJoin(reps()).select(
            (F.col("vec_id") + r * n_vec).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (
                    x + (r % 7).cast("float") * F.lit(0.01) * (i % 3).cast("float")
                ).cast("float"),
            ).alias("embedding"),
            "label",
        ),
        "embeddings",
    )
    print(f"done -> {out_dir}", flush=True)


if __name__ == "__main__":
    main()
