"""Scale-cliff probe: run the heavy operators at sf0.1 and again on a
row-amplified (~10×) copy, and report the time ratio. A linear operator
shows ~10× on 10× rows; super-linear ratios flag where the next
order-of-magnitude breaks first.

Amplified rows get DISTINCT ids (offset by replica) and, for text, a
replica-suffixed tail so dedup/similarity don't collapse the copies into
one giant duplicate class (which would measure the pathological case, not
scaling).

Usage: python tools/stress_bench.py [factor]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from iatlas_cbioportal_export_spark import get_spark  # noqa: E402
from iatlas_cbioportal_export_spark.operators import (  # noqa: E402
    curation as cur_ops,
    dedup as dedup_ops,
    similarity as sim_ops,
    text as text_ops,
)

SF_DIR = "/root/testdata/sf0.1"


def amplify_docs(spark, factor: int):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    reps = spark.range(factor).select(F.col("id").alias("__rep"))
    # replace every 3rd word with a replica-specific token: every word
    # 3-gram then contains a replica token, so cross-replica Jaccard is ~0
    # and the amplified corpus measures SCALING, not the pathological
    # everything-is-a-near-dup case (a suffix tweak leaves Jaccard ~0.97
    # between replicas — measured: 50x then verifies 6M candidate pairs).
    # Replacement (not insertion) keeps per-doc token count — and so
    # per-doc work — identical to the base corpus.
    rep_tok = F.concat(F.lit("r"), F.col("__rep").cast("string"))
    toks = F.split(F.col("text"), r"\s+")
    mutated = F.array_join(
        F.zip_with(
            toks,
            F.sequence(F.lit(0), F.size(toks) - 1),
            lambda t, i: F.when(i % 3 == 2, rep_tok).otherwise(t),
        ),
        " ",
    )
    return (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("__rep") * n * 10).alias("doc_id"),
            mutated.alias("text"),
            "lang",
            "source",
        )
    )


def amplify_embeddings(spark, factor: int):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    reps = spark.range(factor).select(F.col("id").alias("__rep"))
    # rotate one component by replica so copies aren't exact near-dups
    return emb.crossJoin(reps).select(
        (F.col("vec_id") + F.col("__rep") * n * 10).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + (F.col("__rep") % 7).cast("float") * 0.01 * (i % 3),
        ).alias("embedding"),
        "label",
    )


def amplify_lineitem(spark, factor: int):
    """Disjoint graph/value replicas: keys offset per replica so the
    part↔supplier graph gains components (scaling), not degree (skew)."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    reps = spark.range(factor).select(F.col("id").alias("__rep"))
    return li.crossJoin(reps).select(
        (F.col("l_partkey") + F.col("__rep") * 10_000_000).alias("l_partkey"),
        (F.col("l_suppkey") + F.col("__rep") * 10_000_000).alias("l_suppkey"),
        (F.col("l_extendedprice") + F.col("__rep").cast("double") * 0.001).alias(
            "l_extendedprice"
        ),
    )


def amplify_customer(spark, factor: int):
    """Replica-prefixed names: cross-replica edit distance > d, so the
    fuzzy join's match space stays per-replica (scaling, not blow-up)."""
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    n = c.count()
    reps = spark.range(factor).select(F.col("id").alias("__rep"))
    return c.crossJoin(reps).select(
        (F.col("c_custkey") + F.col("__rep") * n * 10).alias("c_custkey"),
        F.concat(
            F.lit("r"),
            # 3 repeated digits: cross-replica distance >= 3 > d, so the
            # match space stays per-replica even for identity names
            F.repeat(F.col("__rep").cast("string"), 3),
            F.lit("#"),
            F.col("c_name"),
        ).alias("c_name"),
    )


_BOILER = (
    "common legal boilerplate footer applies to every document in this corpus"
)


def _boilerplate(d):
    """Append a shared footer to every doc and plant WHOLLY-boilerplate
    short docs — the containment fan-out hazard the rarest-first prefix
    cannot dodge: a doc whose every shingle is hot puts a hot shingle in
    its prefix, so uncapped candidates are (#such docs) × df(footer) and
    the true result itself goes quadratic (every pure-footer doc is
    contained in every doc). The default df-cap drops the hot shingles —
    those docs generate zero candidates (documented recall loss: wholly-
    boilerplate docs need no decontamination tracing) and the operator
    stays linear."""
    docs = d.select(
        "doc_id",
        F.concat("text", F.lit(" " + _BOILER)).alias("text"),
        "lang",
        "source",
    )
    shorts = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"),
        F.lit(_BOILER).alias("text"),
        "lang",
        "source",
    )
    return docs.unionByName(shorts)


def _pagerank_edges(li):
    e0 = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 1_000_000_000).alias("dst"),
    ).distinct()
    return e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _fuzzy_pair(cust):
    left = cust.select("c_custkey", "c_name")
    pert = cust.select(
        (F.col("c_custkey") + 2_000_000_000).alias("r_key"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.substring("c_name", 1, 9),
                F.lit("X"),
                F.expr("substring(c_name, 11)"),
            ),
        )
        .when(
            F.col("c_custkey") % 3 == 1,
            F.concat(F.substring("c_name", 1, 9), F.expr("substring(c_name, 11)")),
        )
        .otherwise(F.col("c_name"))
        .alias("r_name"),
    )
    return left, pert


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = set(sys.argv[2:])  # optional case-name filter
    # local mode: driver == executors — size the one JVM for the amplified
    # working set (the container has 128 GiB; the 1 GiB default is a laptop
    # setting). Must be set before JVM start, hence here not at runtime.
    spark = get_spark(
        "stress-bench", extra_conf={"spark.driver.memory": "48g"}
    )
    spark.range(1).count()

    docs1 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docsN = amplify_docs(spark, factor).localCheckpoint(eager=True)
    emb1 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    embN = amplify_embeddings(spark, factor).localCheckpoint(eager=True)
    print(f"docs: {docs1.count()} -> {docsN.count()}; "
          f"embeddings: {emb1.count()} -> {embN.count()}")

    cases = {
        "dedup_exact": lambda d: dedup_ops.exact_dedup_keep_min(d).count(),
        "dedup_minhash_lsh": lambda d: dedup_ops.minhash_near_duplicates(
            d, n=3, num_hashes=16, bands=8, threshold=0.2
        ).count(),
        "text_quality+lang": lambda d: cur_ops.gopher_quality(d).count(),
        "sequence_packing": lambda d: text_ops.pack_token_budget_bins(d).count(),
        "chunking": lambda d: text_ops.chunk_documents(d).count(),
    }
    emb_cases = {
        "ann_lsh_topk": lambda e: sim_ops.ann_topk_lsh(
            e, e.filter(F.col("vec_id") < 5), dim=64, k=5, num_planes=10
        ).count(),
        "embedding_near_dup": lambda e: sim_ops.embedding_near_duplicates(
            e, dim=64, threshold=0.99, num_planes=14
        ).count(),
    }
    # r3: the extended-bench tier's heavy paths, on their own inputs
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        exact_order_statistic,
    )
    from iatlas_cbioportal_export_spark.operators.entity import (
        fuzzy_join_edit_distance,
    )
    from iatlas_cbioportal_export_spark.operators.graph import pagerank

    cases.update(
        {
            "jaccard_prefix_09": lambda d: dedup_ops.jaccard_prefix_join(
                d, threshold=0.9
            ).count(),
            "span_windows_k6": lambda d: dedup_ops.duplicated_spans(d).count(),
            "cooccurrence_pmi": lambda d: text_ops.cooccurrence_pmi(d).count(),
        }
    )
    li1 = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    liN = amplify_lineitem(spark, factor).localCheckpoint(eager=True)
    cust1 = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    custN = amplify_customer(spark, factor).localCheckpoint(eager=True)
    li_cases = {
        "pagerank_4r": lambda li: pagerank(
            _pagerank_edges(li), iterations=4
        ).count(),
        "exact_quantile_p50": lambda li: exact_order_statistic(
            li.select(
                F.floor(F.col("l_extendedprice") * 100).alias("c")
            ),
            "c",
            0.5,
        ),
    }
    cust_cases = {
        "fuzzy_join_d1": lambda c: fuzzy_join_edit_distance(
            *_fuzzy_pair(c), "c_custkey", "c_name", "r_key", "r_name",
            max_distance=1,
        ).count(),
    }

    # r4 additions: index build, heavy hitters, classifier (docs);
    # bitmap distinct + snapshot diff (lineitem)
    from iatlas_cbioportal_export_spark.operators.joins import snapshot_diff
    from iatlas_cbioportal_export_spark.operators.sketch import (
        bitmap_distinct,
        heavy_hitters_gate,
    )

    cases.update(
        {
            "inverted_index_2gram": lambda d: text_ops.inverted_index(
                d, min_df=2, max_df_ratio=0.5, ngram=2
            ).count(),
            "heavy_hitters_k30": lambda d: heavy_hitters_gate(
                d.select(
                    F.explode(F.split(F.col("text"), r"\s+")).alias("token")
                ),
                "token",
                k=30,
            ).count(),
            "quality_classifier": lambda d: text_ops.quality_classifier(
                d
            ).count(),
        }
    )

    def _snapshot_pair(li):
        old = li.select(
            F.col("l_partkey").alias("k"), "l_extendedprice"
        ).dropDuplicates(["k"])
        new = old.filter(F.col("k") % 97 != 0).withColumn(
            "l_extendedprice",
            F.when(
                F.col("k") % 101 == 0, F.col("l_extendedprice") + 1.0
            ).otherwise(F.col("l_extendedprice")),
        )
        return old, new

    li_cases.update(
        {
            "bitmap_distinct": lambda li: bitmap_distinct(
                li, "l_partkey"
            ).count(),
            "snapshot_diff": lambda li: snapshot_diff(
                *_snapshot_pair(li), ["k"]
            ).count(),
        }
    )

    # r4 third batch: trained NB (docs), grid clustering + IVF-PQ
    # (embeddings), weighted SSSP + one-pass profile (lineitem),
    # FS linkage (customer)
    from iatlas_cbioportal_export_spark.operators.entity import (
        fellegi_sunter_linkage,
    )
    from iatlas_cbioportal_export_spark.operators.graph import sssp_distances
    from iatlas_cbioportal_export_spark.operators.profiling import (
        table_profile,
    )

    cases.update(
        {
            "naive_bayes": lambda d: text_ops.naive_bayes_train_apply(
                d
            ).count(),
        }
    )
    emb_cases.update(
        {
            "grid_dbscan": lambda e: sim_ops.grid_dbscan(e).count(),
            "ivfpq_topk": lambda e: sim_ops.ivfpq_topk(
                e,
                e.filter(F.col("vec_id") < 5).select(
                    (F.col("vec_id") + 3_000_000_000).alias("vec_id"),
                    "embedding",
                ),
                k=10,
            ).count(),
        }
    )
    li_cases.update(
        {
            "sssp_4r": lambda li: sssp_distances(
                li.groupBy(
                    F.col("l_partkey").alias("src"),
                    (F.col("l_suppkey") + 1_000_000_000).alias("dst"),
                ).agg(
                    F.min(F.floor(F.col("l_extendedprice"))).alias("w")
                ),
                source=1,
                rounds=4,
            ).count(),
            "table_profile": lambda li: table_profile(li).count(),
        }
    )

    # r4 sixth/seventh batches: eval + sampling + profiling paths
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        grouped_auc,
        winsorize_report,
    )
    from iatlas_cbioportal_export_spark.operators.profiling import (
        join_cardinality_report,
    )
    from iatlas_cbioportal_export_spark.operators.sampling import (
        class_balanced_sample,
    )
    from iatlas_cbioportal_export_spark.streaming.events import (
        user_feature_matrix,
    )

    def _auc_case(d):
        scored = text_ops.quality_classifier(d).select(
            "doc_id", "quality_prob"
        )
        labeled = scored.join(
            d.select("doc_id", "lang", (F.length("text") >= 500).alias("p")),
            on="doc_id",
        )
        return grouped_auc(labeled, "quality_prob", "p", "lang").count()

    cases.update(
        {
            "grouped_auc": _auc_case,
            "class_balanced": lambda d: class_balanced_sample(
                d, "doc_id", "lang"
            ).count(),
        }
    )

    # r5 additions: mixture weights, repetition metrics, confusion matrix,
    # shingle containment (all docs-table paths)
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        confusion_matrix_report,
    )
    from iatlas_cbioportal_export_spark.operators.sampling import (
        mixture_weights,
    )

    def _confusion_case(d):
        pred = text_ops.language_id(d)
        return confusion_matrix_report(
            pred.join(d.select("doc_id", "lang"), "doc_id"),
            "predicted_lang",
            "lang",
        ).count()

    cases.update(
        {
            # amplify_docs drops n_chars; recompute so 1x and Nx agree
            "mixture_weights": lambda d: mixture_weights(
                d.withColumn("n_chars", F.length("text")),
                ["source", "lang"],
                "n_chars",
                target_tokens=10**12,
            ).count(),
            "repetition_metrics": lambda d: text_ops.repetition_metrics(
                d
            ).count(),
            "confusion_matrix": _confusion_case,
            "containment_09": lambda d: dedup_ops.containment_join(
                d, threshold=0.9
            ).count(),
            # r6: the fan-out case the hot-shingle cap fences — every doc
            # carries a shared boilerplate footer AND every 50th doc
            # contributes a SHORT footer-dominated row whose rarest-prefix
            # shingles are the hot footer shingles, so uncapped candidate
            # volume is (#short docs) x (df of footer) ~ quadratic in
            # corpus size; the default cap drops the footer shingles from
            # candidate generation and stays linear.
            "containment_boiler_capped": lambda d: dedup_ops.containment_join(
                _boilerplate(d), threshold=0.9
            ).count(),
            "containment_boiler_exact": lambda d: dedup_ops.containment_join(
                _boilerplate(d), threshold=0.9, exact=True
            ).count(),
        }
    )
    li_cases.update(
        {
            "winsorize_p05_p95": lambda li: winsorize_report(
                li.select(
                    F.floor(F.col("l_extendedprice") * 100).alias("c")
                ),
                "c",
            ).count(),
            "join_cardinality": lambda li: join_cardinality_report(
                li, li, "l_partkey", "l_partkey"
            ).count(),
        }
    )

    ev1 = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_ev = ev1.count()
    reps_ev = spark.range(factor).select(F.col("id").alias("__rep"))
    evN = (
        ev1.crossJoin(reps_ev)
        .select(
            (F.col("event_id") + F.col("__rep") * n_ev * 10).alias(
                "event_id"
            ),
            "ts",
            (F.col("user_id") + F.col("__rep") * 1_000_000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .localCheckpoint(eager=True)
    )
    ev_cases = {
        "feature_matrix": lambda e: user_feature_matrix(e).count(),
    }
    for name, fn in ev_cases.items():
        t1 = _timed(lambda: fn(ev1))
        tN = _timed(lambda: fn(evN))
        print(f"{name:22s} 1x={t1:6.2f}s  {factor}x={tN:7.2f}s  ratio={tN / t1:5.1f}")

    def _fs_pair(c):
        # block cardinality scales with |c| (mod 20000), so per-block pair
        # volume stays bounded as the input amplifies -- the realistic ER
        # regime; a fixed 50-block key would square into 450M pairs at 10x
        left = c.select(
            F.col("c_custkey").alias("lid"),
            (F.col("c_custkey") % 20000).alias("blk"),
            "c_name",
        )
        right = c.select(
            (F.col("c_custkey") + 4_000_000_000).alias("rid"),
            (F.col("c_custkey") % 20000).alias("blk"),
            F.when(
                F.col("c_custkey") % 4 == 0, F.upper("c_name")
            )
            .otherwise(F.col("c_name"))
            .alias("c_name"),
        )
        return left, right

    cust_cases.update(
        {
            "fs_linkage": lambda c: fellegi_sunter_linkage(
                *_fs_pair(c), "lid", "rid", ["blk"], ["c_name"]
            ).count(),
        }
    )

    if only:
        for d in (cases, emb_cases, li_cases, cust_cases, ev_cases):
            for k in list(d):
                if k not in only:
                    del d[k]
    for name, fn in cases.items():
        t1 = _timed(lambda: fn(docs1))
        tN = _timed(lambda: fn(docsN))
        print(f"{name:22s} 1x={t1:6.2f}s  {factor}x={tN:7.2f}s  ratio={tN / t1:5.1f}")
    for name, fn in emb_cases.items():
        t1 = _timed(lambda: fn(emb1))
        tN = _timed(lambda: fn(embN))
        print(f"{name:22s} 1x={t1:6.2f}s  {factor}x={tN:7.2f}s  ratio={tN / t1:5.1f}")
    for name, fn in li_cases.items():
        t1 = _timed(lambda: fn(li1))
        tN = _timed(lambda: fn(liN))
        print(f"{name:22s} 1x={t1:6.2f}s  {factor}x={tN:7.2f}s  ratio={tN / t1:5.1f}")
    for name, fn in cust_cases.items():
        t1 = _timed(lambda: fn(cust1))
        tN = _timed(lambda: fn(custN))
        print(f"{name:22s} 1x={t1:6.2f}s  {factor}x={tN:7.2f}s  ratio={tN / t1:5.1f}")


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


if __name__ == "__main__":
    main()
