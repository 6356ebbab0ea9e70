"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2 (or
a north-star extension operator) against the driver's TPC-H-ish testdata;
``oracle_sql()`` holds the DuckDB twin. Column names are aliased identically
on both sides (the driver's compare sorts columns by name before hashing).

Determinism policy (what makes value-hash comparison possible):
- money aggregates go through decimal(18,2) (exact) then cast to double;
- cosine similarities are sequential left folds in double precision, rounded
  to 6 dp on both sides;
- timestamps are rendered as 'yyyy-MM-dd HH:mm:ss' strings on both sides.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iatlas_cbioportal_export_spark.functions.scalar import (
    case_list_slug,
    case_normalize,
    days_to_months,
    recode_values,
    strip_first_literal,
)
from iatlas_cbioportal_export_spark.operators import (
    aggregates as agg_ops,
    curation as cur_ops,
    dedup as dedup_ops,
    filters as filter_ops,
    joins as join_ops,
    maf as maf_ops,
    multimodal as mm_ops,
    projections as proj_ops,
    similarity as sim_ops,
    text as text_ops,
    validation as val_ops,
)
from iatlas_cbioportal_export_spark.functions.scalar import coalesce_remap
from iatlas_cbioportal_export_spark.plans.analytics import (
    customer_order_distribution,
    discounted_brand_revenue,
    excess_shipping_suppliers,
    forecast_revenue_change,
    global_sales_opportunity,
    important_part_value,
    large_volume_customers,
    late_shipment_priority,
    local_supplier_volume,
    min_cost_supplier,
    national_market_share,
    order_priority_check,
    parts_supplier_relationship,
    pricing_summary,
    product_type_profit,
    promo_revenue_share,
    returned_item_report,
    shipping_priority,
    small_quantity_revenue,
    top_supplier,
    volume_shipping,
    waiting_orders_suppliers,
)
from iatlas_cbioportal_export_spark.plans.clinical_pipeline import preprocess_clinical
from iatlas_cbioportal_export_spark.streaming.events import (
    hourly_event_counts_batch,
    sessionize,
)

SF0001 = "/root/testdata/sf0.001"

# Sessions whose engine confs have been applied (see _ensure_session_confs).
# Weak references: an entry dies with its session, so a new session reusing
# the same memory address can never false-hit the memo.
_CONFS_APPLIED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def _ensure_session_confs(spark: SparkSession) -> None:
    """Engine-required, runtime-settable SQL confs, applied on every table
    access so the queries behave identically under ANY SparkSession — the
    driver's correctness harness builds its own plain session, where none of
    ``session.py::get_spark``'s configuration applies.

    - ``nanosAsLong``: guards against events.parquet stored with
      TIMESTAMP(NANOS), which a vanilla session rejects with
      PARQUET_TYPE_ILLEGAL (the round-1 testdata did this; the conf is a
      no-op for MICROS/MILLIS data, so it is safe to keep setting).
    - ``excludedRules``: InferFiltersFromGenerate re-inlines expensive
      shingle/token expressions into a pushed-down pre-explode filter —
      measured 3-5x on the dedup sketches (see session.py).
    - ``shuffle.partitions``: sized to cores; the 200-partition default
      multiplies tiny-task overhead on this box (AQE coalescing recovers
      some, but the iterative queries pay per-round scheduling regardless).

    r10: memoized per live session (weak set — entries vanish with the
    session, so a reused address never false-hits). The check itself was
    4 py4j ``conf.get`` round trips per table access; across ~67 queries
    × tables × reps that is thousands of JVM calls for values nothing in
    the engine ever changes. External code mutating these four confs
    mid-session was never supported (the engine pins them for
    correctness, not preference).
    """
    if spark in _CONFS_APPLIED:
        return
    wanted = {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Deterministic wall-clock semantics for the events queries under
        # any session (ntz→ltz casts and date functions otherwise depend on
        # the harness JVM's default zone).
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.optimizer.excludedRules": (
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
        ),
        "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    }
    for key, value in wanted.items():
        # check-before-set: conf.set itself — even with an unchanged value —
        # invalidates session plan/codegen state and measurably ~2x'd every
        # query when applied per table access
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)
    _CONFS_APPLIED.add(spark)


# r10 (guide §6 file listing / §1 fixed costs): `spark.read.parquet` re-runs
# file listing + footer schema inference on EVERY call — pure metadata work,
# measured ~50-80 ms per table access, which multiplied by ~1-6 tables per
# query and 67 bench queries was costing whole seconds per bench rep. Cache
# the LAZY scan DataFrame per (session, path): a DataFrame is an immutable
# plan, so reusing it changes nothing about execution — every action still
# scans the parquet files; this is the in-process equivalent of a catalog
# table's cached schema, NOT result caching. Keyed on the session id so a
# new session (driver harness, tests) never sees another session's plans.
_SCAN_CACHE: dict[tuple[str, int, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_confs(spark)
    # applicationId + id(): the app id distinguishes a NEW JVM/context that
    # happens to reuse a garbage-collected session's address, id() keeps two
    # live sessions on one context apart.
    key = (
        spark.sparkContext.applicationId,
        id(spark),
        os.path.join(sf_dir, f"{name}.parquet"),
    )
    cached = _SCAN_CACHE.get(key)
    if cached is not None:
        return cached
    df = _t_uncached(spark, sf_dir, name)
    _SCAN_CACHE[key] = df
    return df


def _t_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # The driver's testdata has stored ``ts`` two ways across rounds:
        # TIMESTAMP(NANOS) (round 1 — surfaces as bigint under nanosAsLong)
        # and TIMESTAMP(MICROS) (round 2 — surfaces natively as a timestamp
        # type). Normalize both to timestamp_ntz, truncating ns → µs in the
        # long case (the same truncation DuckDB applies), so every events
        # query sees one stable schema under any session.
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if dict(df.dtypes)["ts"] != "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


# ---------------------------------------------------------------------------
# Flagship (entry): the clinical-pipeline shape on TPC-H-ish data —
# scan → two broadcast dim joins → scoped regex filter → value recode →
# unit conversion → group-to-case-list aggregation (J1/J4 + P1 + F3 + F5 +
# A1 + F7/F8 in one DAG).
# ---------------------------------------------------------------------------


def flagship_case_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    dim = join_ops.broadcast_left_join(
        nation,
        region.withColumnRenamed("r_regionkey", "n_regionkey"),
        on=["n_regionkey"],
        dim_cols=["r_name"],
    )
    enriched = customer.join(
        F.broadcast(dim.select("n_nationkey", "n_name", "r_name")),
        customer["c_nationkey"] == dim["n_nationkey"],
        "left",
    )
    filtered = filter_ops.regex_filter_scoped(
        enriched, "c_name", "00$", "c_mktsegment", "BUILDING"
    )
    recoded = filtered.withColumn(
        "region_code",
        recode_values("r_name", {"AMERICA": "AM", "EUROPE": "EU", "ASIA": "AS"}),
    ).withColumn("acctbal_months", days_to_months("c_acctbal"))
    return (
        recoded.groupBy(F.col("n_name").alias("group_name"), "region_code")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.concat_ws("\t", F.sort_array(F.collect_list("c_name"))).alias(
                "members_tsv"
            ),
            F.round(
                F.sum(F.col("acctbal_months").cast("decimal(18,2)")), 2
            ).cast("double").alias("sum_acctbal_months"),
        )
        .withColumn("slug", case_list_slug("group_name"))
    )


_FLAGSHIP_ORACLE = """
WITH dim AS (
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
),
enriched AS (
    SELECT c.*, d.n_name, d.r_name
    FROM customer c LEFT JOIN dim d ON c.c_nationkey = d.n_nationkey
),
filtered AS (
    SELECT * FROM enriched
    WHERE (NOT coalesce(regexp_matches(c_name, '00$'), false)
           AND c_mktsegment = 'BUILDING')
       OR NOT coalesce(c_mktsegment = 'BUILDING', false)
),
recoded AS (
    SELECT *,
        CASE WHEN r_name = 'AMERICA' THEN 'AM'
             WHEN r_name = 'EUROPE' THEN 'EU'
             WHEN r_name = 'ASIA' THEN 'AS'
             ELSE CAST(r_name AS VARCHAR) END AS region_code,
        round(c_acctbal / 30.44, 2) AS acctbal_months
    FROM filtered
)
SELECT
    n_name AS group_name,
    region_code,
    count(*) AS n_members,
    string_agg(c_name, chr(9) ORDER BY c_name) AS members_tsv,
    CAST(round(sum(CAST(acctbal_months AS DECIMAL(18,2))), 2) AS DOUBLE)
        AS sum_acctbal_months,
    CASE WHEN n_name IS NULL OR n_name = '' OR n_name = 'NA'
         THEN 'no_oncotree_code'
         ELSE replace(replace(replace(n_name, ' ', '_'), ',', ''), '/', '_')
    END AS slug
FROM recoded
GROUP BY n_name, region_code
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001 (driver smoke check: runs, ≥0 rows)."""
    return flagship_case_lists(spark, SF0001)


# ---------------------------------------------------------------------------
# Parity-tier queries (SURVEY.md §2) — one per operator family
# ---------------------------------------------------------------------------


def q_p1_regex_filter_scoped(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return filter_ops.regex_filter_scoped(
        part, "p_name", "a.*a", "p_brand", "Brand#13"
    ).select("p_partkey", "p_name", "p_brand")


def q_p2_neq_filter_keep_nulls(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return filter_ops.neq_filter_keep_nulls(events, "event_type", "error").select(
        "event_id", "event_type"
    )


def q_p5_prune_all_null(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return proj_ops.prune_all_null_columns(docs)


def q_j1_broadcast_left_join(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return join_ops.broadcast_left_join(
        orders, customer.withColumnRenamed("c_custkey", "o_custkey"),
        on=["o_custkey"], dim_cols=["c_name", "c_mktsegment"],
    ).select("o_orderkey", "o_custkey", "c_name", "c_mktsegment", "o_totalprice")


def q_j2_left_join_null_audit(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    joined, _ = join_ops.left_join_null_audit(
        orders,
        customer.select(F.col("c_custkey").alias("o_custkey"), "c_name"),
        on="o_custkey",
        audit_col="c_name",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("c_name").isNull(), 1).otherwise(0)).alias("n_unmatched"),
    )


def q_j3_outer_join_growth_audit(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name"
    )
    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    joined, audit = join_ops.outer_join_growth_audit(customer, per_cust, on="custkey")
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("c_name").isNull(), 1).otherwise(0)).alias("n_right_only"),
        F.sum(F.when(F.col("n_orders").isNull(), 1).otherwise(0)).alias("n_left_only"),
    )


def q_j4_code_expansion(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    codes = join_ops.broadcast_left_join(
        nation,
        region.withColumnRenamed("r_regionkey", "n_regionkey"),
        on=["n_regionkey"],
        dim_cols=["r_name"],
    ).select(F.col("n_nationkey").alias("c_nationkey"), "n_name", "r_name")
    return join_ops.code_expansion_join(
        customer, codes, "c_nationkey", ["n_name", "r_name"]
    ).select("c_custkey", "c_nationkey", "n_name", "r_name")


def q_j5_semi_join(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return join_ops.semi_join_sequenced(
        customer, orders, clinical_key="c_custkey", mutation_key="o_custkey"
    ).select("c_custkey", "c_name")


def q_j6_keyset_equality(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    left_only, right_only = join_ops.keyset_equality(
        customer, "c_custkey", orders, "o_custkey"
    )
    a = left_only.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("left_only").alias("side"), "n"
    )
    b = right_only.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("right_only").alias("side"), "n"
    )
    return a.unionByName(b)


def q_a1_case_lists(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    return agg_ops.case_list_groups(
        customer, group_col="c_mktsegment", id_col="c_name"
    ).select(
        "c_mktsegment", "n_samples", "sample_ids_tsv"
    )


def q_a2_distinct_counts(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.countDistinct("o_custkey").alias("n_distinct_custkey"),
        F.countDistinct("o_orderkey").alias("n_distinct_orderkey"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_a4_null_profile(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return agg_ops.null_profile(docs)


def q_a5_duplicate_rows(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return agg_ops.duplicate_rows(li)


def q_a6_keyed_duplicates(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return agg_ops.duplicate_rows(orders, subset=["o_custkey"])


def q_a7_drop_duplicates(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    return agg_ops.drop_duplicates(customer.select("c_mktsegment", "c_nationkey"))


def q_a8_keep_latest(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return agg_ops.keep_latest_by(
        orders, ["o_custkey"], ["o_orderdate", "o_orderkey"]
    ).select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("latest_orderdate"),
    )


def q_s2_union_by_name(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    supplier = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").cast("int").alias("nationkey"),
    )
    return customer.withColumn("src", F.lit("customer")).unionByName(
        supplier.withColumn("src", F.lit("supplier")), allowMissingColumns=True
    )


def q_s4_chunk_assignment(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    chunked = agg_ops.chunk_assignment(orders, "o_orderkey", max_rows=1000)
    return chunked.groupBy("chunk_id").agg(F.count(F.lit(1)).alias("n_rows"))


def q_f1_strip_suffix_first(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_name"),
        strip_first_literal("p_name", "an").alias("stripped"),
    )


def q_f2_case_normalization(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    snake = F.lower(F.regexp_replace(F.col("p_type"), " ", "_"))
    return part.select(
        "p_partkey",
        snake.alias("snake"),
        case_normalize(snake, "CAPS").alias("norm_caps"),
        case_normalize(snake, "Title Case").alias("norm_title"),
    )


def q_f3_value_recode(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        recode_values(
            "o_orderstatus", {"O": "0:OPEN", "F": "1:FINISHED"}
        ).alias("status_recode"),
    )


def q_f5_days_to_months(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id", days_to_months("value").alias("value_months")
    )


def q_f7_case_list_slug(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return part.select("p_type").distinct().select(
        "p_type", case_list_slug("p_type").alias("slug")
    )


def _clinical_shaped(spark, sf_dir):
    """Clinical-shaped frame derived deterministically from customer ⟕ nation
    (the testdata has no clinical table; the derivation is replicated verbatim
    in the oracle so the composed pipeline is value-hash checked)."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    k = F.col("c_custkey")
    base = customer.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")),
        on="c_nationkey",
        how="left",
    )
    return base.select(
        k.alias("row_id"),
        F.concat(
            F.lit("SAMP-"),
            k.cast("string"),
            F.when(k % 11 == 0, F.lit("-nd-x")).otherwise(F.lit("")),
        ).alias("sample_name"),
        F.when(k % 5 != 0, F.concat(F.lit("PUB-"), k.cast("string"))).alias(
            "study_sample_name"
        ),
        F.concat(F.lit("PAT-"), (k % 400).cast("string")).alias("patient_name"),
        F.when(
            k % 7 != 0, F.concat(F.lit("PPAT-"), (k % 400).cast("string"))
        ).alias("study_patient_name"),
        F.when(k % 3 == 0, F.lit("Anders_JITC_2022"))
        .otherwise(F.concat(F.lit("Dataset_"), (k % 3).cast("string")))
        .alias("Dataset"),
        F.col("n_name").alias("TCGA_Study"),
        F.col("c_mktsegment").alias("AMADEUS_Study"),
        (k % 2).cast("int").alias("OS_STATUS"),
        (k % 3).cast("int").alias("PFS_STATUS"),
        F.col("c_acctbal").alias("OS_MONTHS"),
        (k % 2000).cast("double").alias("PFS_MONTHS"),
        F.when(k % 4 == 0, F.lit("stable_clinical_response_clinical_response"))
        .when(k % 4 == 1, F.lit("partial_clinical_response"))
        .when(k % 4 == 2, F.lit(None).cast("string"))
        .otherwise(F.lit("complete"))
        .alias("clinical_response"),
    )


def q_clinical_e2e_preprocess(spark, sf_dir):
    """§3.1 flagship END-TO-END: the real composed ``preprocess_clinical``
    DAG — J1 oncotree broadcast join → F4 id remap → J3 neoantigen outer join
    → P6 rename → P1 scoped regex filter → F3 status recode → F5 days→months
    → F1 table-wide first-occurrence suffix strip → F2 case normalization →
    J4 code expansion — one lazy DAG, value-hash checked against the oracle.
    """
    clin = _clinical_shaped(spark, sf_dir)
    oncotree_map = (
        clin.select("TCGA_Study", "AMADEUS_Study", "Dataset")
        .distinct()
        .withColumn(
            "ONCOTREE_CODE",
            F.concat(
                F.upper(F.substring("TCGA_Study", 1, 3)),
                F.lit("_"),
                F.length("AMADEUS_Study").cast("string"),
            ),
        )
    )
    neo = clin.filter(F.col("row_id") % 4 == 0).select(
        F.coalesce("study_sample_name", "sample_name").alias("SAMPLE_ID"),
        (F.col("row_id") % 50).cast("long").alias("NEO_COUNT"),
    )
    codes = oncotree_map.select("ONCOTREE_CODE").distinct().select(
        "ONCOTREE_CODE",
        F.concat(F.lit("Cancer "), "ONCOTREE_CODE").alias("CANCER_TYPE"),
        F.concat(F.col("ONCOTREE_CODE"), F.lit(" detailed")).alias(
            "CANCER_TYPE_DETAILED"
        ),
    )
    out = preprocess_clinical(
        clin,
        oncotree_map,
        neoantigen=neo,
        header_renames={"NEO_COUNT": "NEOANTIGEN_COUNT"},
        case_modes={"Dataset": "CAPS", "clinical_response": "Title Case"},
        oncotree_codes=codes,
    )
    return out.select(
        "row_id",
        "SAMPLE_ID",
        "PATIENT_ID",
        "Dataset",
        "TCGA_Study",
        "AMADEUS_Study",
        "ONCOTREE_CODE",
        "OS_STATUS",
        "PFS_STATUS",
        "OS_MONTHS",
        "PFS_MONTHS",
        "clinical_response",
        "NEOANTIGEN_COUNT",
        "CANCER_TYPE",
        "CANCER_TYPE_DETAILED",
    )


def q_p4_patient_sample_split(spark, sf_dir):
    """P4+A7: mapping-driven patient view projection + whole-row dedup
    (reference ``clinical.py:365-400``)."""
    clin = _clinical_shaped(spark, sf_dir).withColumn(
        "PATIENT_ID", F.col("patient_name")
    )
    attr_types = {
        "TCGA_Study": "PATIENT",
        "AMADEUS_Study": "PATIENT",
        "OS_STATUS": "PATIENT",
    }
    patient, _sample = proj_ops.split_patient_sample(clin, attr_types)
    return patient


def q_f4_coalesce_remap(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    base = customer.select(
        "c_custkey",
        F.when(k % 3 == 0, F.concat(F.lit("PUB-"), k.cast("string"))).alias(
            "study_sample_name"
        ),
        F.col("c_name").alias("sample_name"),
    )
    return coalesce_remap(base, "SAMPLE_ID", "study_sample_name", "sample_name").select(
        "c_custkey", "SAMPLE_ID"
    )


def _maf_shaped(spark, sf_dir):
    """MAF-shaped frame derived deterministically from orders (the testdata
    has no mutation table; the derivation is replicated verbatim in the
    oracle SQL so the mapInPandas annotation path is value-hash checked)."""
    k = F.col("o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        k.alias("variant_id"),
        F.when(k % 25 == 0, F.lit("chrM"))
        .when(k % 17 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("chr"), ((k % 22) + 1).cast("string")))
        .alias("Chromosome"),
        ((k % 100000) + 1).cast("long").alias("Start_Position"),
        F.concat(F.lit("TSB-"), (k % 500).cast("string")).alias(
            "Tumor_Sample_Barcode"
        ),
        (k % 200).cast("long").alias("t_alt_count"),
        ((k % 300) + 10).cast("long").alias("t_ref_count"),
    )


def q_maf_annotate_pipeline(spark, sf_dir):
    """§3.2 MAF path end-to-end: mapInPandas annotation (deterministic fake
    of the Genome Nexus stage) → chrM filter with pandas null semantics →
    allele frequency. FAILED (null-chromosome) rows stay visible via
    Annotation_Status — the error side-band is part of the checked output."""
    ann = maf_ops.annotate(_maf_shaped(spark, sf_dir))
    return maf_ops.allele_frequency(maf_ops.drop_chrm(ann)).select(
        "variant_id",
        "Chromosome",
        "Start_Position",
        "Tumor_Sample_Barcode",
        "HGVSp_Short",
        "Annotation_Status",
        "tumor_allele_freq",
    )


def q_maf_annotation_wide(spark, sf_dir):
    """The FULL ~40-column Genome Nexus annotation surface (reference
    ``maf.py:75-130`` returns ~40 added columns; ``ANNOTATION_COLS`` models
    them all): every annotation column the mapInPandas stage adds is emitted
    and value-hash checked — including the FAILED (null-key) rows whose
    annotations must all be NULL. Together with the raw input columns this
    reconstitutes the 118-column V12 schema end-to-end."""
    ann = maf_ops.annotate(_maf_shaped(spark, sf_dir))
    return ann.select(
        "variant_id",
        "Chromosome",
        "Start_Position",
        *[name for name, _typ in maf_ops.ANNOTATION_COLS],
    )


def q_maf_annotate_by_variant(spark, sf_dir):
    """The variant-level (distinct-key) annotation plan: identical output
    contract to maf_annotation_wide — annotations are a function of the
    variant key, so only distinct keys cross the Python/Arrow boundary and
    a null-safe join fans them back. Shares maf_annotation_wide's oracle."""
    ann = maf_ops.annotate_by_variant(_maf_shaped(spark, sf_dir))
    return ann.select(
        "variant_id",
        "Chromosome",
        "Start_Position",
        *[name for name, _typ in maf_ops.ANNOTATION_COLS],
    )


def q_maf_field_conformance(spark, sf_dir):
    """Per-field MAF value checks — the native subset of cBioPortal
    ``validateData.py --strict_maf_checks`` the reference shells out to
    (``validate.py:211-216``). The MAF shape extends _maf_shaped with
    allele/position columns carrying PLANTED violations (every 101st key an
    out-of-vocabulary chromosome, every 97th a non-ACGTN allele, every 83rd
    ref==alt, every 89th end<start, every 79th a negative count), so each of
    the 5 tier-1 rules must fire with an exactly-computable violation count.
    Tier 2 (round 5, validateData.py strict-mode consistency): planted
    NCBI_Build misspellings (every 73rd 'hg20'), Variant_Type ladder (every
    71st the out-of-vocabulary 'SNV'; every 67th an INS whose alleles
    contradict it; every 61st a SNP exercising the end=start span rule;
    every 59th a DEL with equal-length alleles), barcode charset breaks
    (every 57th has a space), and a Mutation_Status outside the accepted
    vocabulary (every 41st 'Speculative'; every 37th 'SOMATIC' proves the
    compare is case-insensitive). Tier 3: planted negative Entrez ids
    (every 31st), Validation/Verification status outside vocabulary (every
    29th/23rd), a Variant_Classification outside the vocabulary (every
    53rd 'Bad_Class'), a '*' strand (every 19th) and a non-'p.' HGVSp_Short
    (every 13th; every 11th empty string is skipped, not flagged);
    maf_positive_start stays green by construction (all starts ≥ 1)."""
    k = F.col("o_orderkey")
    bases = F.array(F.lit("A"), F.lit("C"), F.lit("G"), F.lit("T"))
    ref = F.element_at(bases, (k % 4 + 1).cast("int"))
    maf = _t(spark, sf_dir, "orders").select(
        k.alias("variant_id"),
        F.when(k % 101 == 0, F.lit("chr23"))
        .when(k % 25 == 0, F.lit("chrM"))
        .when(k % 17 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("chr"), ((k % 22) + 1).cast("string")))
        .alias("Chromosome"),
        ((k % 100000) + 1).cast("long").alias("Start_Position"),
        F.when(k % 89 == 0, (k % 100000) + 1 - 10)
        .otherwise((k % 100000) + 1 + (k % 50))
        .cast("long")
        .alias("End_Position"),
        ref.alias("Reference_Allele"),
        F.when(k % 83 == 0, ref)
        .when(k % 97 == 0, F.lit("Z"))
        .otherwise(F.element_at(bases, ((k + 1) % 4 + 1).cast("int")))
        .alias("Tumor_Seq_Allele2"),
        F.when(k % 79 == 0, F.lit(-5)).otherwise((k % 300) + 10)
        .cast("long")
        .alias("t_ref_count"),
        (k % 200).cast("long").alias("t_alt_count"),
        F.when(k % 73 == 0, F.lit("hg20"))
        .when(k % 43 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("GRCh37"))
        .alias("NCBI_Build"),
        F.when(k % 71 == 0, F.lit("SNV"))
        .when(k % 67 == 0, F.lit("INS"))
        .when(k % 61 == 0, F.lit("SNP"))
        .when(k % 59 == 0, F.lit("DEL"))
        .otherwise(F.lit(None).cast("string"))
        .alias("Variant_Type"),
        F.when(k % 57 == 0, F.lit("TCGA AB"))
        .when(k % 47 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("TCGA-"), k.cast("string")))
        .alias("Tumor_Sample_Barcode"),
        F.when(k % 41 == 0, F.lit("Speculative"))
        .when(k % 37 == 0, F.lit("SOMATIC"))
        .otherwise(F.lit("Somatic"))
        .alias("Mutation_Status"),
        F.when(k % 53 == 0, F.lit("Bad_Class"))
        .otherwise(F.lit("Silent"))
        .alias("Variant_Classification"),
        F.when(k % 31 == 0, F.lit("-1"))
        .otherwise((k % 30000).cast("string"))
        .alias("Entrez_Gene_Id"),
        F.when(k % 29 == 0, F.lit("Sketchy"))
        .otherwise(F.lit("Unknown"))
        .alias("Validation_Status"),
        F.when(k % 23 == 0, F.lit("Maybe"))
        .otherwise(F.lit("Verified"))
        .alias("Verification_Status"),
        F.when(k % 19 == 0, F.lit("*"))
        .otherwise(F.lit("+"))
        .alias("Strand"),
        F.when(k % 13 == 0, F.lit("X123Y"))
        .when(k % 11 == 0, F.lit(""))
        .otherwise(F.lit("p.V600E"))
        .alias("HGVSp_Short"),
    )
    return val_ops.maf_value_conformance(maf)


def q_multimodal_frame_sample(spark, sf_dir):
    """Video frame-sampling PLAN (multimodal §7): every-30th-frame index
    expansion as pure JVM sequence/explode — the actual frame decode plugs in
    as an extract_features stage. n_frames derives from doc_id so the
    expansion is value-hash checkable."""
    docs = _t(spark, sf_dir, "documents")
    video = docs.select(
        F.col("doc_id").alias("media_id"),
        ((F.col("doc_id") % 300) + 1).cast("int").alias("n_frames"),
    )
    return mm_ops.sample_frames(video, every_n=30)


def q_s3_header_roundtrip(spark, sf_dir):
    """S5→S6→S3 through the REAL file surface: a customer-derived clinical
    view is written as a cBioPortal clinical file (typed TSV sink + the 4
    '#'-prefixed metadata header lines that replace the reference's
    insert_clinical_metadata.py subprocess, clinical.py:598-604), then
    re-scanned with the header-skipping reader (S3, clinical.py:798-808,
    declared schema). The oracle checks the round-tripped rows against the
    source table directly — any loss/corruption in sink, header insertion,
    or skip-scan breaks the hash."""
    import tempfile

    from pyspark.sql.types import StringType, StructField, StructType

    from iatlas_cbioportal_export_spark.sources.readers import (
        read_tsv_skip_cbioportal_header,
    )
    from iatlas_cbioportal_export_spark.sources.sinks import (
        write_cbioportal_clinical,
    )

    customer = _t(spark, sf_dir, "customer")
    view = customer.filter(F.col("c_custkey") <= 500).select(
        F.col("c_name").alias("SAMPLE_ID"),
        F.col("c_custkey").cast("string").alias("PATIENT_ID"),
        F.col("c_mktsegment").alias("SEGMENT"),
    )
    path = os.path.join(
        tempfile.mkdtemp(prefix="s3_roundtrip_"), "data_clinical_sample.txt"
    )
    write_cbioportal_clinical(view, path, {})
    schema = StructType(
        [StructField(c, StringType(), True) for c in ("SAMPLE_ID", "PATIENT_ID", "SEGMENT")]
    )
    return read_tsv_skip_cbioportal_header(spark, path, schema=schema)


def q_f8_case_list_render(spark, sf_dir):
    """F7+F8 end-to-end: the A1 case-list aggregation feeds the driver-side
    template render (reference clinical.py:56-62,683-718 — kilobyte documents,
    driver render is the right plan at any scale). The full rendered text is
    returned as a scalar column; the oracle reconstructs it with string_agg
    over the same sorted ids."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        case_list_groups,
    )
    from iatlas_cbioportal_export_spark.sources.sinks import (
        render_case_list_text,
    )

    customer = _t(spark, sf_dir, "customer")
    groups = case_list_groups(
        customer.select(
            F.col("c_name").alias("SAMPLE_ID"),
            F.col("c_mktsegment").alias("CANCER_TYPE"),
        ),
        group_col="CANCER_TYPE",
        id_col="SAMPLE_ID",
    ).collect()
    rows = []
    for r in groups:
        slug, text = render_case_list_text("iatlas_demo", r["CANCER_TYPE"], r["sample_ids"])
        rows.append((r["CANCER_TYPE"], slug, len(r["sample_ids"]), text))
    return spark.createDataFrame(
        rows, "cancer_type string, slug string, n_ids int, rendered string"
    )


def reset_bench_caches(spark=None) -> None:
    """Clear Spark's DataFrame cache so a benchmark rep pays the real work
    of its query. Operators that persist() an intermediate (containment_join's
    with_pos since r8) would otherwise be re-served from the previous rep's
    cache — the CacheManager matches plans by canonicalized sameResult, so
    even a freshly-built identical query hits it. Without a session this is
    a no-op."""
    if spark is not None:
        spark.catalog.clearCache()


def q_v_validation_suite(spark, sf_dir):
    """The reference's FULL validation workload (SURVEY §2.10) as one lazy
    findings DataFrame — exactly 14 rows, one per check V1..V14, mapped onto
    the testdata tables:

      V1  bundle_files_exist       — write_study_bundle into a scratch dir,
                                     assert every returned artifact exists
      V2  row_count_preserved      — orders in == out (clinical.py:814-817)
      V3  distinct_o_custkey_preserved — countDistinct in == out
      V4  distinct_c_custkey_preserved
      V5  no_null_o_orderkey       — no null sample ids (clinical.py:826-830)
      V6  no_null_o_custkey        — no null patient ids
      V7  no_all_null_columns      — (clinical.py:833-837)
      V8  maf_row_count_preserved  — lineitem in == out (maf.py:234-237)
      V9  no_dup_lineitem_key      — (maf.py:239-240)
      V10 ordered_custkey_sets_equal — barcode-set preservation as symmetric
                                     anti-joins over semi-joined customers
      V11 no_null_l_quantity       — AF inputs non-null (maf.py:250-269)
      V12 lineitem_schema          — required columns (validate.py:159-172)
      V13 nation_region_keysets_equal — (validate.py:135-157)
      V14 no_dup_custkey           — mapping uniqueness (clinical.py:214-225)
    """
    import tempfile

    from iatlas_cbioportal_export_spark.plans.bundle import write_study_bundle

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    lineitem = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")

    # V1: a REAL bundle write (driver-side fs check, reference
    # clinical.py:790-796). Scoped to a small deterministic slice — V1 checks
    # file EXISTENCE, so its cost should be the writer's fixed overhead, not
    # a full-table export (the full export path is integration-tested).
    sample_view = (
        customer.filter(F.col("c_custkey") <= 100)
        .select(
            F.col("c_name").alias("SAMPLE_ID"),
            F.col("c_custkey").cast("string").alias("PATIENT_ID"),
            F.col("c_mktsegment").alias("CANCER_TYPE"),
        )
        .coalesce(1)  # 100-row slice: one task per job, not 32
    )
    patient_view = sample_view.select("PATIENT_ID").dropDuplicates()
    out_dir = tempfile.mkdtemp(prefix="bundle_v1_")
    artifacts = write_study_bundle(out_dir, "v1check", patient_view, sample_view)
    n_present = sum(os.path.exists(p) for p in artifacts.values())
    n_expected = len(artifacts)
    v1 = spark.range(1).select(
        F.lit("bundle_files_exist").alias("check"),
        F.when(F.lit(n_present == n_expected), F.lit("OK"))
        .otherwise(F.lit("ERROR"))
        .alias("status"),
        F.lit(n_present).cast("long").alias("observed"),
        F.lit(n_expected).cast("long").alias("expected"),
        F.lit(f"present={n_present} of {n_expected}").alias("detail"),
    )

    # Single-scan fusions (same finding rows, fewer passes): V2/V3/V5/V6/V7
    # are ONE aggregate over orders; V8/V11 ONE over lineitem; V4/V14 share
    # one groupBy(c_custkey). Only the genuinely relational checks (V9 dup
    # groupBy, V10/V13 anti-joins) keep their own shuffles.
    findings = [
        v1,
        val_ops.table_profile_checks(
            orders,
            count_check="row_count_preserved",
            distinct_cols=["o_custkey"],
            no_null_cols=["o_orderkey", "o_custkey"],
            all_null_cols=["o_orderkey", "o_custkey", "o_totalprice"],
        ),
        val_ops.table_profile_checks(
            lineitem,
            count_check="maf_row_count_preserved",
            no_null_cols=["l_quantity"],
        ),
        val_ops.keyed_dup_and_distinct_checks(
            customer,
            "c_custkey",
            distinct_check="distinct_c_custkey_preserved",
            dup_check="no_dup_custkey",
        ),
        val_ops.no_duplicate_rows(
            lineitem,
            subset=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
            check="no_dup_lineitem_key",
        ),
        val_ops.keyset_preserved(
            customer.join(
                orders, customer["c_custkey"] == orders["o_custkey"], "left_semi"
            ),
            "c_custkey",
            orders,
            "o_custkey",
            check="ordered_custkey_sets_equal",
        ),
        val_ops.required_columns_present(
            lineitem,
            ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"],
            check="lineitem_schema",
        ),
        val_ops.keyset_preserved(
            nation, "n_regionkey", region, "r_regionkey",
            check="nation_region_keysets_equal",
        ),
    ]
    return val_ops.findings_union(findings)


# ---------------------------------------------------------------------------
# Extension tier: dedup / similarity / text / streaming-twin
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.exact_dedup_keep_min(docs)


def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.ngram_jaccard_pairs(
        docs, bucket_col="lang", n=3, threshold=0.2
    ).select("id_a", "id_b", "n_common", "n_a", "n_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_minhash_lsh(spark, sf_dir):
    """16 hashes × 8 bands (r=2): at threshold 0.2 the banding curve gives
    HIGHER candidate recall than r=4 (1-(1-s²)⁸ vs 1-(1-s⁴)⁸) and the exact
    Jaccard verification keeps precision — while halving the sketch compute
    and its codegen footprint (measured: same verified pairs, ~3× faster)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.minhash_near_duplicates(
        docs, n=3, num_hashes=16, bands=8, threshold=0.2
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_simhash(spark, sf_dir):
    """Planted-pair recovery through the FULL simhash path (shingle hash →
    64 bit votes → prefix bucket → Hamming verify): exact copies of docs
    0..19 (ids +1e6) have identical sketches, so they MUST surface in the
    same bucket at Hamming 0 — a deterministic, oracle-expressible result.
    Output is restricted to the planted pairs; natural-pair recall of the
    single-rotation scheme is probabilistic by design and covered by pytest
    (the sketch itself is engine-defined — xxhash64 — so a natural-pair
    oracle would have to re-implement the engine, not check it)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return dedup_ops.simhash_buckets(
        docs.unionByName(planted), prefix_bits=12, max_hamming=16
    ).filter(
        (F.col("id_a") < 20) & (F.col("id_b") == F.col("id_a") + 1_000_000)
    )


def q_sim_topk_bruteforce(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return sim_ops.brute_force_topk(emb, queries, k=10)


def q_sim_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH ANN with planted scaled twins: positive scaling
    preserves every hyperplane sign, so each twin (2x, id +1e6) shares its
    original's bucket and the exact re-rank must return the original as
    top-1 at cosine 1.0 — deterministic and oracle-expressible (the oracle
    recomputes the cosine from the stored vectors with the same sequential
    fold). Full top-k ranking is oracle-checked via sim_topk_bruteforce."""
    emb = _t(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        "label",
    )
    return sim_ops.ann_topk_lsh(
        emb.unionByName(twins), twins, dim=64, k=1, num_planes=10
    )


def q_sim_ivf_topk(spark, sf_dir):
    """IVF ANN with planted scaled twins: cosine is scale-invariant so each
    twin shares its original's Voronoi cell — top-1 must be the twin with
    cosine 1.0 (deterministic rows-only check, 5 rows)."""
    emb = _t(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        "label",
    )
    return sim_ops.ivf_topk(
        emb.unionByName(twins), twins, k=1, n_cells=16, n_probe=4
    )


def q_sim_ivf_trained(spark, sf_dir):
    """k-means-trained IVF with the same planted-twin guarantee as
    sim_ivf_topk: scaling preserves the cell, so each twin's top-1 is its
    original at cosine 1.0 (deterministic rows-only check)."""
    emb = _t(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        "label",
    )
    return sim_ops.ivf_topk_trained(
        emb.unionByName(twins), twins, k=1, n_cells=8, n_probe=3, iterations=2
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup over hyperplane-LSH buckets. The testdata
    vectors are random (max pairwise cosine ~0.4), so 20 scaled copies are
    planted: cos(v, 1.5v) = 1 and scaling preserves every hyperplane sign,
    so all 20 planted pairs MUST appear — a deterministic rows-only check."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
        "label",
    )
    return sim_ops.embedding_near_duplicates(
        emb.unionByName(planted), dim=64, threshold=0.99, num_planes=12
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing over mapInPandas: documents' text re-encoded as an
    opaque binary payload column with typed metadata, then the deterministic
    fake decode+feature-extract kernel (real codecs are stubbed — north star
    multimodal contract). The 8 feature lanes are projected as SCALAR columns
    f0..f7 (the driver canonicalizer cannot hash array cells), and the
    kernel's per-lane rolling hash is reproduced in the DuckDB oracle (the
    corpus is ASCII, so payload bytes == character codes)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.lit("application/octet-stream").alias("mime_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    media = mm_ops.attach_metadata(media)
    feats = mm_ops.extract_features(media)
    return feats.select(
        "media_id",
        "modality",
        "n_bytes",
        *[F.col("feature")[j].alias(f"f{j}") for j in range(8)],
    )


def _planted_trio_pairs(spark, sf_dir):
    """Shared construction for the component queries: planted scaled trios
    (bases 0..9 with copies at +1e6/1.5x and +2e6/2.25x over vec_id<100)
    run through LSH near-dup detection; returns (pairs, corpus)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)

    def scaled(offset, mult):
        return emb.filter(F.col("vec_id") < 10).select(
            (F.col("vec_id") + offset).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(mult)).alias("embedding"),
            "label",
        )

    # The corpus is constant-size by construction (120 rows at every SF), but
    # the LSH operator's DAG references it from four subtrees (signature,
    # bucket-size semi-join, self-join, vector fetch-back) and each re-derives
    # the 3-way union + transform lineage across dozens of AQE micro-stages —
    # measured 17s of pure stage overhead at sf0.01. One partition + lineage
    # truncation collapses that to <5s without touching the operator.
    corpus = (
        emb.unionByName(scaled(1_000_000, 1.5))
        .unionByName(scaled(2_000_000, 2.25))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    # Truncate the pair list's lineage DISTRIBUTED (localCheckpoint): the
    # component loop must not re-execute the LSH DAG per round, and an
    # executor-side checkpoint keeps this harness query the same shape it
    # has at scale (no driver materialization in the path).
    pairs = sim_ops.embedding_near_duplicates(
        corpus, dim=64, threshold=0.99, num_planes=12
    ).localCheckpoint(eager=True)
    return pairs, corpus


def q_dedup_components(spark, sf_dir):
    """Pairs → transitive components → canonical keeper (the step after any
    near-dup detector). Two scaled copies are planted per base vector
    (ids +1e6 at 1.5x, +2e6 at 2.25x, bases 0..9): scaling preserves every
    hyperplane sign and cosine, so near-dup detection must produce the trio's
    edges and min-label propagation must collapse each trio to its base id —
    deterministic, oracle-expressible; every other corpus id is a singleton
    keeper."""
    from iatlas_cbioportal_export_spark.operators.graph import dedup_components

    pairs, corpus = _planted_trio_pairs(spark, sf_dir)
    return dedup_components(pairs, corpus.select("vec_id"), id_col="vec_id")


def q_dedup_components_star(spark, sf_dir):
    """Same planted-trio contract as dedup_components, through the
    alternating large-star/small-star algorithm (Kiveris et al., SoCC 2014)
    instead of min-label propagation — O(log² n) rounds independent of
    component diameter (measured 2.5x faster than min-label on diameter-100
    chains at equal output). Both variants must collapse each trio to its
    base id, so the two queries share one oracle."""
    from iatlas_cbioportal_export_spark.operators.graph import dedup_components

    pairs, corpus = _planted_trio_pairs(spark, sf_dir)
    return dedup_components(
        pairs, corpus.select("vec_id"), id_col="vec_id", algorithm="star"
    )


def q_dedup_cluster_report(spark, sf_dir):
    """Per-cluster dedup audit over the planted-trio labeling: each base
    0..9 trio must report size 3 / 2 dropped / its three ids; every other
    corpus id is a singleton cluster. The report is one combiner-reduced
    groupBy over the (id, component) longs."""
    from iatlas_cbioportal_export_spark.operators.graph import (
        dedup_cluster_report,
        dedup_components,
    )

    pairs, corpus = _planted_trio_pairs(spark, sf_dir)
    labeled = dedup_components(pairs, corpus.select("vec_id"), id_col="vec_id")
    return dedup_cluster_report(labeled, id_col="id").orderBy(
        "component_id"
    )


def q_text_top_ngrams(spark, sf_dir):
    """Corpus-level top-20 word bigrams (stop-gram / boilerplate detection).
    TakeOrderedAndProject plan — per-partition heaps, never a full sort of
    the n-gram dictionary."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.top_ngrams(docs, n=2, k=20)


def q_emb_l2_normalize(spark, sf_dir):
    """L2 normalization scalarized for the canonicalizer: per-vector norm
    and the sequential-fold component sum of the unit vector (both 6 dp;
    the oracle repeats the same left folds over the stored vectors)."""
    emb = _t(spark, sf_dir, "embeddings")
    normed = sim_ops.l2_normalize(emb, out_col="unit")
    checksum = F.aggregate(
        F.col("unit"), F.lit(0.0), lambda acc, x: acc + x
    )
    norm_col = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return normed.select(
        "vec_id",
        F.round(norm_col, 6).alias("l2_norm"),
        F.round(checksum, 6).alias("unit_sum"),
    )


def q_emb_mean_pool(spark, sf_dir):
    """Chunk→document mean pooling: vectors grouped by vec_id % 50, pooled
    per position, one output row per (group, position). The hash-checked
    value is the decimal-rounded per-position SUM (exact in both engines);
    rounding the double mean is 1-ulp engine-dependent near .5 boundaries —
    measured 5/3200 mismatches — so the mean lane is pytest territory."""
    emb = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 50).alias("grp"), "embedding"
    )
    pooled = sim_ops.mean_pool(emb, "grp", sums_col="pooled_sums")
    return pooled.select(
        "grp", "n_vectors", F.posexplode("pooled_sums").alias("pos", "sum_val")
    ).select("grp", "n_vectors", "pos", "sum_val")


def q_text_length_histogram(spark, sf_dir):
    """Document-length histogram (20 equal-width token bins over [0, 200]):
    the pre-chunking profiling query; width_bucket semantics mirrored in
    the oracle (bin = floor(x/width)+1, clamped to 0 / num_bins+1)."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.length_histogram(docs, max_tokens=200, num_bins=20)


def q_text_unigram_logprob(spark, sf_dir):
    """Corpus-self unigram LM quality score (the CCNet/KenLM filter shape at
    order 1). The checked lane is the decimal-exact per-doc sum of token
    log10-probabilities (the mean is the API lane; cross-partition double
    averaging is engine-nondeterministic — see mean_pool)."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.unigram_logprob_score(docs).select(
        "doc_id", "n_tokens", "sum_logprob"
    )


def q_text_hashed_embedding(spark, sf_dir):
    """Feature-hashing text embedding (dim 32, PORTABLE rolling-hash
    buckets — not xxhash64, so the oracle reproduces them exactly), emitted
    one row per (doc, position) with the L2-normalized value at 6 dp."""
    docs = _t(spark, sf_dir, "documents")
    emb = text_ops.hashed_embedding(docs, dim=32)
    return emb.select(
        "doc_id", "n_tokens", F.posexplode("embedding").alias("pos", "val")
    ).select("doc_id", "n_tokens", "pos", F.round("val", 6).alias("val"))


def q_text_to_ann_pipeline(spark, sf_dir):
    """Text → hashed embedding → embedding near-dup END-TO-END: docs 0..19
    planted as exact copies (ids +1e6) hash to IDENTICAL vectors, hence
    identical signatures and cosine exactly 1.0 — all 20 pairs must
    surface. The whole vector path (tokenize → bucket → normalize → LSH →
    verify) is exercised with zero models and a deterministic outcome."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    emb = text_ops.hashed_embedding(
        docs.unionByName(planted), dim=32
    ).withColumnRenamed("doc_id", "vec_id")
    # Materialization boundary, as in any real pipeline: embeddings are
    # computed once and STORED, then indexed — the near-dup operator's DAG
    # references its input from four subtrees, and re-deriving the per-token
    # hashing fold in each costs 4x the embedding stage (measured 75s → 11s
    # at sf0.01). build_lsh_index is the persisted-table form of this line.
    emb = emb.localCheckpoint(eager=True)
    pairs = sim_ops.embedding_near_duplicates(
        emb, dim=32, threshold=0.999, num_planes=10
    )
    return pairs.filter(
        (F.col("id_a") < 20) & (F.col("id_b") == F.col("id_a") + 1_000_000)
    ).select("id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim"))


def q_text_normalize(spark, sf_dir):
    """Normalization pass over deterministically messied text (leading/
    trailing whitespace, tabs/newlines, an uppercased duplicate prefix):
    control strip + whitespace collapse + trim + lowercase, full normalized
    text value-hash checked."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit(" \t"),
            F.upper(F.col("text")),
            F.lit(" \n"),
            F.col("text"),
            F.lit("  "),
        ).alias("text"),
    )
    return cur_ops.normalize_text(planted)


def q_sequence_packing(spark, sf_dir):
    """Token-budget sequence packing over the corpus: documents laid out in
    doc_id order within each source stratum, binned by start offset in the
    concatenated token stream (budget 512). Fully deterministic — the oracle
    reproduces the cumulative layout with a window cumsum."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.pack_token_budget_bins(docs, budget_tokens=512)


def q_dedup_cross_corpus(spark, sf_dir):
    """Incremental (batch-vs-corpus) minhash dedup with planted exact
    copies: the batch is docs 0..19 re-keyed to +1e6 (signatures identical →
    every band collides → candidate guaranteed → jaccard 1.0) plus 10
    reversed-token docs that match nothing. Output restricted to the planted
    (batch_id == corpus_id + 1e6) pairs — batch-vs-natural-near-dup pairs
    exist too but surface probabilistically through banding (engine-hash
    dependent), so they are pytest territory, not oracle territory."""
    docs = _t(spark, sf_dir, "documents")
    copies = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    from iatlas_cbioportal_export_spark.functions import text as T

    fresh = docs.filter((F.col("doc_id") >= 450) & (F.col("doc_id") < 460)).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat_ws(" ", F.reverse(T.tokens("text"))).alias("text"),
    )
    batch = copies.unionByName(fresh)
    out = dedup_ops.minhash_cross_corpus_duplicates(
        batch, docs.select("doc_id", "text"), threshold=0.5
    )
    return out.filter(F.col("batch_id") == F.col("corpus_id") + 1_000_000).select(
        "batch_id", "corpus_id", F.round("jaccard", 6).alias("jaccard")
    )


def q_jsonl_roundtrip(spark, sf_dir):
    """Documents written as JSON-lines (the LLM-corpus interchange format)
    and re-scanned with a DECLARED schema (json inference is a full extra
    pass — never at 100 TB). The oracle reads the parquet source directly,
    so any loss in the JSON write/scan (escaping, nulls, type coercion)
    breaks the value hash."""
    import tempfile

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from iatlas_cbioportal_export_spark.sources.readers import (
        read_jsonl,
        write_jsonl,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    path = os.path.join(tempfile.mkdtemp(prefix="jsonl_rt_"), "docs")
    write_jsonl(docs, path)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
        ]
    )
    return read_jsonl(spark, path, schema)


def q_orc_roundtrip(spark, sf_dir):
    """A typed lineitem slice written as ORC and re-scanned: longs, doubles
    and a date-formatted timestamp must survive the columnar roundtrip
    byte-exactly (oracle reads the parquet source)."""
    import tempfile

    from iatlas_cbioportal_export_spark.sources.readers import read_orc, write_orc

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("quantity"),
            F.col("l_extendedprice").cast("double").alias("price"),
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
            "l_returnflag",
        )
    )
    path = os.path.join(tempfile.mkdtemp(prefix="orc_rt_"), "li")
    write_orc(li, path)
    return read_orc(spark, path)


def q_xml_roundtrip(spark, sf_dir):
    """Documents written as XML (Spark 4's built-in StAX source, one <doc>
    element per row) and re-scanned with a DECLARED schema: entity escaping
    of arbitrary text content, nulls, and long/string typing must survive
    the roundtrip. The oracle reads the parquet source directly, so any
    loss in the XML write/parse breaks the value hash. XML is an ingest
    interchange format only — no column stats, no pushdown; convert to
    parquet at the boundary."""
    import tempfile

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from iatlas_cbioportal_export_spark.sources.readers import (
        read_xml,
        write_xml,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    path = os.path.join(tempfile.mkdtemp(prefix="xml_rt_"), "docs")
    write_xml(docs, path, row_tag="doc")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
        ]
    )
    return read_xml(spark, path, row_tag="doc", schema=schema)


def q_pii_redaction(spark, sf_dir):
    """PII redaction over the corpus. The synthetic text contains no PII, so
    each doc gets a deterministic planted suffix (email + IPv4 + phone
    derived from doc_id); redaction must replace all three with typed tokens
    and count them — value-hash checked including the full redacted text."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call 555-123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" end"),
        ).alias("text"),
    )
    return cur_ops.redact_pii(planted)


def q_decontamination(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 50 == 0 form the
    benchmark; docs with doc_id % 7 == 3 get benchmark doc 0's first 8 words
    appended, so exactly those (plus benchmark members, which share all
    their own 8-grams) must flag contaminated — n_hits value-hash checked."""
    from iatlas_cbioportal_export_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    snip = bench.filter(F.col("doc_id") == 0).select(
        F.concat_ws(" ", F.slice(T.tokens("text"), 1, 8)).alias("__snip")
    )
    planted = docs.crossJoin(F.broadcast(snip)).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 3, F.concat_ws(" ", F.col("text"), F.col("__snip"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return cur_ops.decontaminate(planted, bench, n=8)


def q_repetition_removal(spark, sf_dir):
    """Intra-document repetition removal: docs with doc_id % 3 == 0 are
    rebuilt as [text, text, tail, text] paragraphs (2 repeats), the rest as
    [text, tail] (0 repeats); first occurrences must survive in order —
    full cleaned text value-hash checked."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat_ws(
                "\n", F.col("text"), F.col("text"), F.lit("tail marker"), F.col("text")
            ),
        )
        .otherwise(F.concat_ws("\n", F.col("text"), F.lit("tail marker")))
        .alias("text"),
    )
    return cur_ops.remove_repeated_paragraphs(planted)


def q_gopher_quality(spark, sf_dir):
    """Gopher-style quality gates straight over the corpus (no planting
    needed — word counts straddle the min-words threshold, so the pass/fail
    mix is data-dependent and every metric is value-hash checked)."""
    docs = _t(spark, sf_dir, "documents")
    return cur_ops.gopher_quality(docs)


def q_text_tfidf(spark, sf_dir):
    """Top-5 TF-IDF terms per document (smoothed idf, deterministic
    tf_idf-desc/term-asc tiebreak). The oracle repeats the identical double
    arithmetic, so the rounded scores hash-match."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.tf_idf(docs, top_k=5)


def q_curation_pipeline(spark, sf_dir):
    """The LLM training-data curation pipeline END-TO-END: quality scoring →
    language ID → exact dedup (keep-min) → kept documents. Exact copies of
    docs 0..9 are planted (+1e6) and must be removed by the dedup stage;
    thresholds (quality ≥ 0.9, lang = 'en') keep the filter selective. Every
    stage reuses an independently-oracle-checked operator; this checks their
    COMPOSITION."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    corpus = docs.unionByName(planted)
    quality = text_ops.quality_score(corpus).select("doc_id", "quality_score")
    lang = text_ops.language_id(corpus).select("doc_id", "predicted_lang")
    keepers = dedup_ops.exact_dedup_keep_min(corpus).select("doc_id")
    return (
        corpus.join(keepers, "doc_id", "left_semi")
        .join(quality, "doc_id")
        .join(lang, "doc_id")
        .filter(
            (F.col("quality_score") >= 0.9) & (F.col("predicted_lang") == "en")
        )
        .select("doc_id", "predicted_lang", "quality_score")
    )


def q_text_bm25(spark, sf_dir):
    """Okapi BM25 top-10 docs per term-set query (two fixed 3-term queries
    over corpus vocabulary). The oracle mirrors the exact double arithmetic
    including the Python-side constant folds (k1+1 written as 1.2+1.0)."""
    docs = _t(spark, sf_dir, "documents")
    qt = spark.createDataFrame(
        [
            (1, "scan"), (1, "column"), (1, "filter"),
            (2, "window"), (2, "merge"), (2, "join"),
        ],
        "query_id int, term string",
    )
    return text_ops.bm25(docs, qt, top_k=10)


def q_text_chunking(spark, sf_dir):
    """Overlapping token-window chunking (window 60, overlap 12): the
    context-window preprocessing step of a training corpus. Pure narrow map
    — the oracle rebuilds every chunk with the same slice arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.chunk_documents(docs, chunk_tokens=60, overlap=12)


def q_stream_dedup_keys(spark, sf_dir):
    """Batch twin of the streaming exact dedup (dropDuplicatesWithinWatermark
    on streams — state bounded by the watermark; plain dropDuplicates here).
    The deterministic surface is the distinct key set; stream==batch key-set
    equality is pytest-asserted."""
    from iatlas_cbioportal_export_spark.streaming.events import dedup_events

    events = _t(spark, sf_dir, "events")
    return dedup_events(events).select("user_id", "event_type")


def q_sim_quantize_codes(spark, sf_dir):
    """Int8 scalar quantization of the embedding corpus (memory side of the
    ANN scale path — codes are 4-8x smaller than the float vectors). Corpus
    per-dimension ranges are KB-scale driver literals; encoding is a narrow
    map. Codes emitted as a CSV string (scalar) for the first 50 vectors;
    the oracle recomputes ranges and codes with identical double arithmetic."""
    emb = _t(spark, sf_dir, "embeddings")
    q = sim_ops.scalar_quantize(emb, dim=64)
    return q.filter(F.col("vec_id") < 50).select(
        "vec_id",
        F.concat_ws(
            ",", F.expr("transform(codes, c -> cast(c as string))")
        ).alias("codes_csv"),
    )


def q_sim_pq_codes(spark, sf_dir):
    """Product quantization (m=8 subvectors, k=16 seeded codebooks = 32
    bits/vector): codes for the first 50 vectors, CSV-scalarized. Codebooks
    are the deterministic low-id seeds, so the oracle rebuilds them and the
    argmin per subvector in SQL — identical fold order and (d2, c) tiebreak
    on both sides."""
    emb = _t(spark, sf_dir, "embeddings")
    books = sim_ops.pq_seed_codebooks(emb, dim=64, m=8, k=16)
    enc = sim_ops.pq_encode(emb.filter(F.col("vec_id") < 50), books)
    return enc.select(
        "vec_id",
        F.concat_ws(
            ",", F.expr("transform(codes, c -> cast(c as string))")
        ).alias("codes_csv"),
    )


def q_data_splits(spark, sf_dir):
    """Deterministic train/val/test assignment + 20% subsampling by id-hash
    bucket (reproducible across runs/partitionings/engines — unlike
    rand(seed)-based sample()). The oracle reproduces the arithmetic hash
    exactly, which is the point of the design."""
    from iatlas_cbioportal_export_spark.operators.sampling import (
        deterministic_sample,
        hash_split,
    )

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    splits = hash_split(ids, "doc_id")
    sampled = deterministic_sample(ids, "doc_id", 0.2).withColumn(
        "in_sample", F.lit(True)
    )
    return splits.join(sampled, "doc_id", "left").select(
        "doc_id", "split", F.coalesce("in_sample", F.lit(False)).alias("in_sample")
    )


def q_source_mixture(spark, sf_dir):
    """Source-mixture weighting: keep 80% of src0, 40% of src1, 10% of
    everything else — per-stratum deterministic id-hash sampling (the
    mixture-reweighting step of a training corpus), oracle-reproduced
    exactly."""
    from iatlas_cbioportal_export_spark.operators.sampling import (
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(
        docs, "doc_id", "source",
        fractions={"src0": 0.8, "src1": 0.4},
        default_fraction=0.1,
    )


def q_text_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return text_ops.token_stats(docs)


def q_text_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return text_ops.quality_score(docs)


def q_text_language_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return text_ops.language_id(docs)


def q_text_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return text_ops.fingerprints(docs)


def q_text_language_report(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return text_ops.corpus_language_report(docs)


def q_text_bpe_token_count(spark, sf_dir):
    from iatlas_cbioportal_export_spark.functions.text import bpe_ish_token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", bpe_ish_token_count("text").alias("n_bpe_tokens")
    )


def q_dedup_exact_groups(spark, sf_dir):
    """The corpus has no natural exact dups — plant copies of the first 10
    docs (replicated in the oracle) so the group structure is exercised."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return dedup_ops.exact_duplicate_groups(docs.unionByName(planted)).select(
        "text_sha256",
        F.concat_ws(",", "member_ids").alias("member_ids_csv"),
        "n_copies",
    )


def q_tpch_q1(spark, sf_dir):
    return pricing_summary(_t(spark, sf_dir, "lineitem"))


def q_tpch_q3(spark, sf_dir):
    return shipping_priority(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


def q_tpch_q5(spark, sf_dir):
    return local_supplier_volume(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q_tpch_q4(spark, sf_dir):
    return order_priority_check(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


def q_tpch_q6(spark, sf_dir):
    return forecast_revenue_change(_t(spark, sf_dir, "lineitem"))


def q_tpch_q7(spark, sf_dir):
    return volume_shipping(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


def q_tpch_q10(spark, sf_dir):
    return returned_item_report(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


def q_tpch_q14(spark, sf_dir):
    return promo_revenue_share(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def q_tpch_q18(spark, sf_dir):
    return large_volume_customers(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


def q_tpch_q13(spark, sf_dir):
    return customer_order_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q_tpch_q15(spark, sf_dir):
    return top_supplier(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    )


def q_tpch_q2(spark, sf_dir):
    return min_cost_supplier(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q_tpch_q8(spark, sf_dir):
    return national_market_share(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q_tpch_q9(spark, sf_dir):
    return product_type_profit(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "nation"),
    )


def q_tpch_q11(spark, sf_dir):
    return important_part_value(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


def q_tpch_q12(spark, sf_dir):
    return late_shipment_priority(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


def q_tpch_q16(spark, sf_dir):
    return parts_supplier_relationship(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
    )


def q_tpch_q17(spark, sf_dir):
    return small_quantity_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def q_tpch_q19(spark, sf_dir):
    return discounted_brand_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def q_tpch_q20(spark, sf_dir):
    return excess_shipping_suppliers(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


def q_tpch_q21(spark, sf_dir):
    return waiting_orders_suppliers(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


def q_tpch_q22(spark, sf_dir):
    return global_sales_opportunity(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q_window_moving_avg(spark, sf_dir):
    from iatlas_cbioportal_export_spark.plans.analytics import daily_revenue_moving_avg

    return daily_revenue_moving_avg(_t(spark, sf_dir, "orders"))


def q_percentiles_by_segment(spark, sf_dir):
    from iatlas_cbioportal_export_spark.plans.analytics import (
        price_percentiles_by_segment,
    )

    return price_percentiles_by_segment(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    )


def q_cube_revenue(spark, sf_dir):
    from iatlas_cbioportal_export_spark.plans.analytics import cube_revenue

    return cube_revenue(_t(spark, sf_dir, "lineitem"))


def q_events_attribution(spark, sf_dir):
    """Batch twin of the stream-stream attribution join (the streaming run
    over the same files is asserted equal in tests/test_streaming.py)."""
    from iatlas_cbioportal_export_spark.streaming.events import attribute_purchases

    return attribute_purchases(_t(spark, sf_dir, "events"))


def q_events_json_extract(spark, sf_dir):
    from iatlas_cbioportal_export_spark.functions.json import json_field_stats

    return json_field_stats(_t(spark, sf_dir, "events"))


def q_window_topk_per_group(spark, sf_dir):
    """Per-group top-k via rank(): each customer's 2 highest-value orders,
    ties kept by rank semantics — the window shape (dense per-key ranking)
    the reference never needed but an analytics engine must have."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 2)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.col("rk").cast("int").alias("rk"),
        )
    )


def q_rollup_revenue(spark, sf_dir):
    """Multi-level aggregation via rollup(): lineitem revenue by
    (returnflag, linestatus) with subtotals and a grand total — grouping-set
    plans share one shuffle in Spark (Expand + single aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_rows",
        )
    )


def q_range_join_qty_size(spark, sf_dir):
    """Range join via bucketized equi-join (no nested-loop): distinct
    lineitem quantities against part-size intervals [p_size, p_size+2]."""
    qty = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_quantity").cast("long").alias("qty"))
        .distinct()
    )
    ranges = (
        _t(spark, sf_dir, "part")
        .select(F.col("p_size").cast("long").alias("size_lo"))
        .distinct()
        .withColumn("size_hi", F.col("size_lo") + 2)
    )
    return join_ops.range_join(
        qty, ranges, "qty", "size_lo", "size_hi", bucket_width=4.0
    ).select("qty", "size_lo", "size_hi")


def q_asof_join_last_purchase(spark, sf_dir):
    """As-of join: each event annotated with the user's latest purchase value
    at-or-before that moment (union-LOCF plan — one shuffle, no match
    fan-out). Oracle: DuckDB's native ASOF JOIN."""
    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("last_purchase_value")
    )
    return join_ops.asof_join(
        events, purchases, on="user_id", value_cols=["last_purchase_value"]
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.round("last_purchase_value", 6).alias("last_purchase_value"),
    )


def q_stream_hourly_counts(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return hourly_event_counts_batch(events)


def q_events_sessionize(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return sessionize(events, gap_minutes=30)


def q_events_sliding_counts(spark, sf_dir):
    """Sliding-window counts (60 min window, 15 min slide): every event
    lands in exactly 4 windows; the oracle reconstructs the window set with
    k in 0..3 slide offsets from each event's floor-to-slide boundary."""
    from iatlas_cbioportal_export_spark.streaming.events import (
        sliding_event_counts,
    )

    events = _t(spark, sf_dir, "events")
    return sliding_event_counts(events, window_minutes=60, slide_minutes=15)


def q_events_scd2(spark, sf_dir):
    """SCD-type-2 history of each user's event_type over time: consecutive
    equal values collapse into versions with [valid_from, valid_to)
    intervals (lag change-flag -> cumsum version -> lead). Ties at equal ts
    are ordered by value in BOTH engines, so the history is deterministic."""
    from iatlas_cbioportal_export_spark.operators.aggregates import scd2_history

    events = _t(spark, sf_dir, "events")
    hist = scd2_history(events, "user_id", "ts", "event_type")
    return hist.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "version",
    )


def q_events_point_in_time(spark, sf_dir):
    """Point-in-time join of each event against the user's OWN SCD2
    event_type history: per-event matched version value and version number.
    Equi-join on user_id with the interval check as a residual condition —
    the standard SCD2 consumer. Aggregated per (event_type, matched value)
    so the result is compact and fully value-checked."""
    from iatlas_cbioportal_export_spark.operators.aggregates import scd2_history
    from iatlas_cbioportal_export_spark.operators.joins import point_in_time_join

    events = _t(spark, sf_dir, "events")
    hist = scd2_history(events, "user_id", "ts", "event_type")
    joined = point_in_time_join(
        events.select("event_id", "user_id", "ts", "event_type"), hist,
        "user_id", "ts",
    )
    return (
        joined.groupBy(
            F.col("__f.event_type").alias("fact_type"),
            F.col("__h.event_type").alias("dim_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_events_incremental_rollup(spark, sf_dir):
    """Incremental materialized-rollup maintenance: the hourly rollup built
    from 90% of events merged with the remaining 10%'s partial rollup must
    equal the full recompute (which IS the oracle) — additive aggregates
    composed via union + re-aggregate, rollup-sized shuffles only."""
    events = _t(spark, sf_dir, "events")

    def rollup(df):
        return df.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("value_sum"),
        )

    existing = rollup(events.filter(F.col("event_id") % 10 != 0))
    delta = rollup(events.filter(F.col("event_id") % 10 == 0))
    merged = agg_ops.merge_rollup(
        existing, delta, ["window_start", "event_type"], ["n_events", "value_sum"]
    )
    return merged.select(
        "window_start",
        "event_type",
        "n_events",
        F.round("value_sum", 2).alias("value_sum"),
    )


def q_stream_enriched_counts(spark, sf_dir):
    """Stream-static enrichment → windowed aggregation (batch twin of the
    third join shape: stream joined to broadcast reference data). Hourly
    event counts per customer market segment; stream==batch equality is
    pinned in test_streaming.py."""
    from iatlas_cbioportal_export_spark.streaming.events import (
        segment_hourly_counts,
    )

    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    return segment_hourly_counts(events, customer)


def q_events_session_window(spark, sf_dir):
    """Gap sessionization via the built-in session_window (the
    streaming-native twin of events_sessionize — one groupBy, no window
    functions); same sessions as the lag/cumsum plan minus the per-user
    sequence number, which the shared oracle drops accordingly."""
    from iatlas_cbioportal_export_spark.streaming.events import (
        sessionize_session_window,
    )

    events = _t(spark, sf_dir, "events")
    return sessionize_session_window(events, gap_minutes=30)


def q_events_anomaly_zscore(spark, sf_dir):
    """Trailing-24h z-score anomaly detection over the hourly event rollup.
    Mean/std derive from exact integer window sums so both engines compute
    the identical double expression; cold-start and zero-variance rows are
    suppressed."""
    from iatlas_cbioportal_export_spark.streaming.events import (
        hourly_anomaly_zscore,
    )

    events = _t(spark, sf_dir, "events")
    return hourly_anomaly_zscore(events)


_CMS_PROBES = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]


def q_sketch_count_min(spark, sf_dir):
    """Count-min sketch frequency estimates for 10 probe tokens next to
    their exact counts: d×w counters built in one bounded-shuffle pass
    (portable rolling hash + fixed affine row hashes — the oracle rebuilds
    the identical matrix), estimate = min over rows, with the one-sided
    overcount emitted as a checkable column."""
    from iatlas_cbioportal_export_spark.operators.sketch import (
        count_min_build,
        count_min_estimate,
    )

    docs = _t(spark, sf_dir, "documents")
    counters = count_min_build(docs, depth=4, width=256)
    return count_min_estimate(docs, _CMS_PROBES, counters)


def q_sketch_hll_distinct(spark, sf_dir):
    """Per-group HyperLogLog distinct-order estimate over lineitem
    (group = l_returnflag, key = l_orderkey) from an explicit 256-register
    portable sketch, next to the exact distinct count and a 3σ relative-
    error gate. The harmonic denominator is an exact scaled-integer sum, so
    the estimate is bit-identical under any shuffle order and the oracle
    replays the identical register table."""
    from iatlas_cbioportal_export_spark.operators.sketch import hll_distinct

    li = _t(spark, sf_dir, "lineitem")
    return hll_distinct(li, "l_orderkey", ["l_returnflag"], p=8)


def q_sketch_bloom_prefilter(spark, sf_dir):
    """Bloom join-prefilter report: a 256-bit filter built over one
    nation's supplier keys, evaluated as a narrow literal-bitmask test on
    every lineitem row, scored against the true broadcast semi-join —
    n_fact / n_bloom_pass / n_true_match / false positives / the
    no-false-negatives Bloom guarantee. The oracle rebuilds the identical
    position set from the portable double-hash stream."""
    from iatlas_cbioportal_export_spark.operators.sketch import (
        bloom_prefilter_report,
    )

    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem")
    dim = (
        sup.join(nat, sup["s_nationkey"] == nat["n_nationkey"])
        .filter(F.col("n_name") == "NATION_7")
        .select("s_suppkey")
    )
    return bloom_prefilter_report(
        li, dim, "l_suppkey", "s_suppkey", m_bits=256, k=4
    )


def q_sketch_hll_set_ops(spark, sf_dir):
    """HLL set algebra: audience overlap between urgent-order and
    low-priority-order customer sets — |A|, |B|, |A∪B| from a bucket-max
    register MERGE (no union re-scan), |A∩B| by inclusion-exclusion, all
    next to exact twins with a 3σ gate on the union estimate."""
    from iatlas_cbioportal_export_spark.operators.sketch import (
        hll_set_report,
    )

    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        "o_custkey"
    )
    return hll_set_report(a, b, "o_custkey", p=8)


def q_skyline_pareto(spark, sf_dir):
    """3-criteria skyline (Pareto frontier) over part: the set of parts
    with no strictly-better alternative under (price min, size max, name
    length min). Two-phase distributed prune — partition-local skylines
    via mapInPandas (zero shuffle), final prune over the survivor union —
    vs the oracle's quadratic NOT EXISTS anti-join, the only SQL shape of
    the operator and exactly the |T|² plan the distributed form avoids."""
    from iatlas_cbioportal_export_spark.operators.skyline import skyline

    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        "p_retailprice",
        F.length("p_name").alias("name_len"),
    )
    return skyline(
        part, {"p_retailprice": "min", "p_size": "max", "name_len": "min"}
    )


def q_sample_weighted(spark, sf_dir):
    """Efraimidis–Spirakis weighted sample without replacement: 50 docs
    drawn ∝ n_chars via the deterministic id-hash exponential race —
    narrow key computation + TakeOrderedAndProject (per-partition heaps,
    one k·P-row exchange). The oracle replays the identical hash, ln and
    ordering."""
    from iatlas_cbioportal_export_spark.operators.sampling import (
        weighted_sample,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", k=50)


def q_events_time_decay(spark, sf_dir):
    """Recency-weighted per-user engagement: value · 0.5^(age_days/30) at a
    fixed reference instant (2026-01-01 UTC), decimal-quantized per term so
    the sum is shuffle-order independent. The oracle mirrors the arithmetic
    association exactly (truncated-second ages, same pow shape)."""
    from iatlas_cbioportal_export_spark.streaming.events import (
        time_decayed_value,
    )

    events = _t(spark, sf_dir, "events")
    # 2026-01-01T00:00:00Z
    return time_decayed_value(events, ref_epoch_sec=1767225600, half_life_days=30.0)


def q_dedup_keep_best(spark, sf_dir):
    """Recrawl dedup: synthetic url_key = doc_id % 250 groups repeated
    captures; keep the highest-quality one (ties → smallest id) via the
    single-aggregate argmax — no window. Quality is the engine's heuristic
    score, reproduced by the oracle's formula."""
    docs = _t(spark, sf_dir, "documents")
    scored = text_ops.quality_score(docs).select(
        (F.col("doc_id") % 250).alias("url_key"), "doc_id", "quality_score"
    )
    return dedup_ops.keyed_keep_best(scored, ["url_key"], "quality_score")


def q_grouping_sets_revenue(spark, sf_dir):
    """The general grouping-set form next to rollup/cube: exactly the
    declared sets ((returnflag, linestatus), (shipmode), ()) — a shape
    neither rollup nor cube expresses (mixed dimensions, no cross products).
    Spark plans all sets through ONE Expand + single aggregate shuffle."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("long")
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["ship_year"], []],
            "l_returnflag",
            "l_linestatus",
            "ship_year",
        )
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            F.coalesce(F.col("ship_year").cast("string"), F.lit("ALL")).alias(
                "ship_year"
            ),
            "revenue",
            "n_rows",
        )
    )


def q_events_funnel(spark, sf_dir):
    """Ordered funnel (view → click → purchase): per-user greedy state
    machine folded over the event-time-sorted step events — single shuffle,
    no UDF/MATCH_RECOGNIZE. The deterministic order key is truncated-second
    epoch ·1e9 + event_id (both engines floor the seconds: Spark's
    timestamp→long cast, DuckDB's epoch_us // 1000000)."""
    from iatlas_cbioportal_export_spark.streaming.events import funnel_stages

    # thin the stream (deterministically) so stage counts differentiate —
    # at full density every user completes the funnel and the check
    # degenerates to one row
    events = _t(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    return funnel_stages(events)


def q_zorder_layout(spark, sf_dir):
    """Morton (Z-order) clustering values over part — the multi-dim layout
    key behind Delta/Iceberg ZORDER BY: bit-interleave of two bounded ranks
    as one pure codegen'd expression (sources/layout.py also provides the
    range-partitioned writer; the value computation is the oracle-checkable
    core). x = p_size rank at even bits, y = p_partkey rank at odd bits."""
    from iatlas_cbioportal_export_spark.sources.layout import z_order_value

    part = _t(spark, sf_dir, "part")
    x = (F.col("p_size") % 256).cast("long")
    y = (F.col("p_partkey") % 256).cast("long")
    return part.select(
        "p_partkey",
        x.alias("x"),
        y.alias("y"),
        z_order_value([x, y], bits=8).alias("zval"),
    )


def q_text_bigram_logprob(spark, sf_dir):
    """Order-2 interpolated LM quality score (CCNet filter, one order up
    from text_unigram_logprob): mean log10 p(cur|prev) under the corpus's
    own bigram model with unigram interpolation. Decimal-exact sums; the
    interpolation arithmetic is written with identical association on both
    engines (incl. the IEEE 1.0-0.7 constant)."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.bigram_logprob_score(docs, lambda_interp=0.7)


def q_cdc_apply_changelog(spark, sf_dir):
    """CDC MERGE: events replayed as a Debezium-style change log over the
    customer snapshot — purchase ⇒ delete the key, anything else ⇒ upsert
    the event's value as the new balance; latest event per key wins
    ((ts, event_id) — a deterministic total order). Untouched customers pass
    through. The oracle reproduces the window + anti-join + union fold."""
    customer = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.round(F.col("c_acctbal").cast("decimal(18,2)"), 2)
        .cast("double")
        .alias("acctbal"),
    )
    events = _t(spark, sf_dir, "events")
    log = events.select(
        F.col("user_id").alias("cust_id"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.round(F.col("value").cast("decimal(18,2)"), 2)
        .cast("double")
        .alias("acctbal"),
    )
    return agg_ops.apply_changelog(
        customer, log, ["cust_id"], ["ts", "event_id"]
    )


def q_pivot_status_counts(spark, sf_dir):
    """Long→wide pivot: order counts per priority × status. Values are named
    explicitly (at scale the inferred-values form adds a distinct-collect
    planning job and an unbounded schema); absent cells surface as 0 to
    match the conditional-aggregation oracle."""
    orders = _t(spark, sf_dir, "orders")
    return agg_ops.pivot_wide(
        orders, "o_orderpriority", "o_orderstatus", ["F", "O", "P"]
    )


def q_unpivot_part_metrics(spark, sf_dir):
    """Wide→long melt of part's numeric metrics via DataFrame.unpivot — a
    narrow per-split expansion (no shuffle, no per-column re-scan). Measures
    cast to double up front (unpivot needs one common type)."""
    part = _t(spark, sf_dir, "part")
    return agg_ops.unpivot_long(
        part, ["p_partkey"], ["p_size", "p_retailprice"]
    )


def q_text_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights (hashed unigram+bigram bag models,
    target vs raw log-ratio): the deterministic scoring pass of
    importance-resampling data selection. Target domain = docs with
    doc_id % 7 == 0 (a deterministic subset proxy). The oracle rebuilds both
    smoothed histograms and folds the per-bucket log-ratios in the same
    feature order; the portable rolling hash keeps bucketing engine-exact."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    return cur_ops.dsir_importance_weights(docs, target, dim=64)


def q_sim_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic near-dup pairs: k-means cells as the candidate
    generator (cluster-scoped compare) instead of LSH sign buckets. 20 scaled
    copies are planted with multiplier 2.0 — a power of two, so every
    centroid similarity of the copy is BIT-identical to its base's (scaling
    by 2 commutes with FP rounding) and the pair shares a cell regardless of
    where k-means puts the centroids; the corpus max natural cosine ~0.4
    keeps the 0.99 threshold planted-pairs-only. Oracle recomputes each
    pair's cosine from the stored vectors with the same sequential fold."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        "label",
    )
    return sim_ops.semantic_dedup_pairs(
        emb.unionByName(planted), threshold=0.99, n_cells=8, iterations=2
    )


def q_clinical_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curves per market segment (the survival
    analysis the reference's OS_MONTHS/OS_STATUS schema feeds): durations
    and censoring derived deterministically from customer; at-risk counts
    are a reverse running sum, the survival product a forward
    exp(Σ ln(1−d/n)) — window order fixes the float association so both
    engines fold identically."""
    from iatlas_cbioportal_export_spark.plans.clinical_pipeline import (
        kaplan_meier,
    )

    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        (
            F.abs(F.floor("c_acctbal").cast("long")) % 60 + 1
        ).alias("duration"),
        F.when(F.col("c_custkey") % 4 == 0, F.lit(0))
        .otherwise(F.lit(1))
        .alias("event"),
    )
    return kaplan_meier(cust, "c_mktsegment", "duration", "event")


def q_stats_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov D between URGENT and LOW order-value
    distributions (floor-cents): exact integer per-value counts, merged-
    grid cumulative CDFs, and a MAX — reduction-order independent by
    construction, no quantization lane needed."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        ks_two_sample,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).alias("c"),
    )
    return ks_two_sample(
        orders.filter(F.col("o_orderpriority") == "1-URGENT").select("c"),
        orders.filter(F.col("o_orderpriority") == "5-LOW").select("c"),
        "c",
    )


def q_stats_psi_drift(spark, sf_dir):
    """Population Stability Index of the event-value distribution: first
    half of the month (reference) vs second half (current), quartile
    boundaries from EXACT reference order statistics (histogram-refinement
    passes), Laplace-smoothed per-bin shares, per-bin ln terms rounded 9dp
    (no float reduction anywhere). The oracle recomputes the boundaries by
    rank and replays the same arithmetic."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        exact_order_statistics,
        psi_report,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.dayofmonth("ts").alias("dom"),
        F.floor(F.col("value") * 100).alias("c"),
    )
    ref = ev.filter(F.col("dom") <= 15).select("c")
    cur = ev.filter(F.col("dom") > 15).select("c")
    # r10: the three boundaries refine through SHARED histogram passes
    # (exact_order_statistics) instead of three independent
    # stats+refinement chains — same exact values, 1/3 the ref scans.
    _, res = exact_order_statistics(ref, "c", (0.25, 0.5, 0.75))
    bounds = [v for _k, v in res]
    return psi_report(ref, cur, "c", bounds)


def q_stats_linear_trend(spark, sf_dir):
    """Per-priority least-squares trend of order value (floor-cents) over
    order date (days since 1992-01-01): the five sums accumulate EXACTLY in
    DECIMAL(38,0), then the closed-form slope/intercept/R² runs on doubles
    derived from them — bit-stable under any partitioning; the oracle
    replays the identical formula."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        grouped_linear_fit,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.datediff("o_orderdate", F.lit("1992-01-01")).alias("x"),
        F.floor(F.col("o_totalprice") * 100).alias("y"),
    )
    return grouped_linear_fit(orders, "o_orderpriority", "x", "y")


def q_events_streaks(spark, sf_dir):
    """Gaps-and-islands: per-user consecutive-active-day streaks via the
    day − row_number() run constant — distinct-before-shuffle, one window
    per user, run groupBy reuses the user-hash exchange."""
    from iatlas_cbioportal_export_spark.streaming.events import (
        activity_streaks,
    )

    return activity_streaks(_t(spark, sf_dir, "events"))


def q_text_char_entropy(spark, sf_dir):
    """Per-document character entropy (gibberish/degeneracy detector):
    sorted-class fold fixes the double summation order, so the oracle
    replays the identical sequence over the same sorted distinct chars."""
    from iatlas_cbioportal_export_spark.operators.curation import (
        char_entropy_score,
    )

    return char_entropy_score(_t(spark, sf_dir, "documents"))


def q_events_time_to_convert(spark, sf_dir):
    """Conversion latency first-view → first-subsequent-purchase per user:
    exact integer second gaps, discrete median/p90 by rank-and-pick.
    Oracle replays the conditional mins and picks."""
    from iatlas_cbioportal_export_spark.streaming.events import (
        time_to_convert,
    )

    return time_to_convert(_t(spark, sf_dir, "events"))


def q_stats_mutual_information(spark, sf_dir):
    """Mutual information + marginal entropies between order priority and
    status — the information-theoretic dependency readout beside the
    chi-square row; per-cell ln terms decimal-quantized, oracle mirrors
    the arithmetic."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        mutual_information,
    )

    orders = _t(spark, sf_dir, "orders")
    return mutual_information(orders, "o_orderpriority", "o_orderstatus")


def q_graph_label_propagation(spark, sf_dir):
    """3-round synchronous label propagation over the co-purchase graph:
    majority vote with smallest-label ties, one join + one argmax
    aggregate per round. Generated chained-CTE oracle replays each vote
    with the identical (count desc, label asc) pick."""
    from iatlas_cbioportal_export_spark.operators.graph import (
        label_propagation,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.withColumnsRenamed({"l_partkey": "p1"})
    b = li.withColumnsRenamed({"l_partkey": "p2"})
    edges = (
        a.join(b, on="l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )
    return label_propagation(edges, rounds=3)


def _lpa_oracle(rounds: int) -> str:
    """Generated chained-CTE twin of q_graph_label_propagation."""
    sql = [
        """
        WITH e0 AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        e AS MATERIALIZED (
            SELECT u AS s, v AS t FROM e0 UNION SELECT v, u FROM e0
        ),
        l0 AS MATERIALIZED (
            SELECT DISTINCT s AS node, s AS label FROM e
        )"""
    ]
    for r in range(1, rounds + 1):
        sql.append(
            f""",
        v{r} AS MATERIALIZED (
            SELECT e.s AS n, l.label, count(*) AS c
            FROM e JOIN l{r - 1} l ON e.t = l.node GROUP BY 1, 2
        ),
        l{r} AS MATERIALIZED (
            SELECT n AS node, label FROM (
                SELECT n, label,
                       row_number() OVER (PARTITION BY n
                                          ORDER BY c DESC, label ASC) AS rn
                FROM v{r})
            WHERE rn = 1
        )"""
        )
    sql.append(f"\n        SELECT node, label FROM l{rounds}")
    return "".join(sql)


def q_stats_mad_outliers(spark, sf_dir):
    """Robust outlier profile per order priority: discrete median and MAD
    on floor-cents (integer end-to-end), outlier rule |x−med| > 5·MAD in
    exact integer arithmetic. Oracle replays the rank-and-pick picks with
    the same tie-break order."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        mad_outlier_profile,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).alias("c"),
    )
    return mad_outlier_profile(orders, "o_orderpriority", "c", k=5)


def q_events_seasonal_residuals(spark, sf_dir):
    """Hour-of-day seasonal-mean decomposition per event type: exact
    decimal hourly sums and seasonal totals, one double division per row,
    residual = hourly − seasonal mean. Oracle replays the identical
    deferred-division arithmetic."""
    from iatlas_cbioportal_export_spark.streaming.events import (
        seasonal_profile_residuals,
    )

    return seasonal_profile_residuals(_t(spark, sf_dir, "events"))


def q_sim_association_rules(spark, sf_dir):
    """Directed market-basket rules part→part over customer baskets:
    support/confidence/lift from exact co-occurrence counts, support ≥ 3,
    top-100 by support with deterministic tie-breaks. Oracle replays the
    same counts and divisions."""
    from iatlas_cbioportal_export_spark.operators.similarity import (
        association_rules,
    )

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    inter = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("item_id"),
    )
    return association_rules(inter, min_pair_support=3, top_n=100)


def q_graph_bfs(spark, sf_dir):
    """3-hop BFS distances from part 0 over the co-purchase graph:
    frontier-expansion joins on ids only, per-round lineage truncation;
    generated chained-CTE oracle replays the rounds."""
    from iatlas_cbioportal_export_spark.operators.graph import bfs_distances

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.withColumnsRenamed({"l_partkey": "p1"})
    b = li.withColumnsRenamed({"l_partkey": "p2"})
    edges = (
        a.join(b, on="l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )
    return bfs_distances(edges, source=0, rounds=3)


def _bfs_oracle(source: int, rounds: int) -> str:
    """Generated chained-CTE twin of q_graph_bfs."""
    sql = [
        f"""
        WITH e0 AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        e AS MATERIALIZED (
            SELECT u AS s, v AS t FROM e0 UNION SELECT v, u FROM e0
        ),
        d0 AS MATERIALIZED (SELECT CAST({source} AS BIGINT) AS node,
                                   0 AS dist)"""
    ]
    for r in range(1, rounds + 1):
        prev_all = " UNION ALL ".join(f"SELECT node FROM d{i}" for i in range(r))
        sql.append(
            f""",
        d{r} AS MATERIALIZED (
            SELECT DISTINCT e.t AS node, {r} AS dist
            FROM d{r - 1} f JOIN e ON f.node = e.s
            WHERE e.t NOT IN ({prev_all})
        )"""
        )
    unions = " UNION ALL ".join(f"SELECT * FROM d{i}" for i in range(rounds + 1))
    sql.append(f"\n        SELECT node, CAST(dist AS INTEGER) AS dist FROM ({unions})")
    return "".join(sql)


def q_stats_correlation(spark, sf_dir):
    """Pairwise Pearson correlations of four lineitem measures (quantity,
    price cents, discount bp, tax bp) — all sums exact in one aggregate
    pass, the closed form on doubles derived from them; the oracle replays
    identical arithmetic."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        correlation_matrix,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.floor("l_quantity").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100).alias("price_c"),
        F.floor(F.col("l_discount") * 10000).alias("disc_bp"),
        F.floor(F.col("l_tax") * 10000).alias("tax_bp"),
    )
    return correlation_matrix(li, ["qty", "price_c", "disc_bp", "tax_bp"])


def q_graph_kcore(spark, sf_dir):
    """Fixed-round (4) k-core peeling of the part co-purchase graph at
    k=90: per-round survivor counts as the periphery evaporates. The
    oracle replays the rounds as generated chained CTEs (the PageRank/BPE
    pattern)."""
    from iatlas_cbioportal_export_spark.operators.graph import kcore_peel

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.withColumnsRenamed({"l_partkey": "p1"})
    b = li.withColumnsRenamed({"l_partkey": "p2"})
    edges = (
        a.join(b, on="l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )
    return kcore_peel(edges, k=90, rounds=4)


def _kcore_oracle(k: int, rounds: int) -> str:
    """Generated chained-CTE twin of q_graph_kcore: one degree/alive/edge
    block per round, MATERIALIZED (same exponential-inlining reason as the
    BPE oracle)."""
    sql = [
        """
        WITH e0 AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        )"""
    ]
    for r in range(1, rounds + 1):
        sql.append(
            f""",
        d{r} AS MATERIALIZED (
            SELECT x, count(*) AS c FROM (
                SELECT u AS x FROM e{r - 1}
                UNION ALL SELECT v FROM e{r - 1}) GROUP BY x
        ),
        a{r} AS MATERIALIZED (SELECT x FROM d{r} WHERE c >= {k}),
        e{r} AS MATERIALIZED (
            SELECT e.u, e.v FROM e{r - 1} e
            JOIN a{r} au ON e.u = au.x
            JOIN a{r} av ON e.v = av.x
        ),
        s{r} AS (
            SELECT {r} AS round,
                   (SELECT CAST(count(DISTINCT x) AS BIGINT) FROM (
                        SELECT u AS x FROM e{r}
                        UNION ALL SELECT v FROM e{r})) AS n_nodes,
                   (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges
        )"""
        )
    unions = " UNION ALL ".join(f"SELECT * FROM s{r}" for r in range(1, rounds + 1))
    sql.append(f"\n        SELECT CAST(round AS INTEGER) AS round, n_nodes, n_edges FROM ({unions})")
    return "".join(sql)


def q_stats_ab_ztest(spark, sf_dir):
    """Two-proportion z-test over a deterministic A/B split (user_id mod 2):
    unit = user, success = "the user's FIRST event (funnel order key) is a
    purchase" — a rate that stays strictly inside (0,1) at every SF, unlike
    ever-purchased which saturates and zeroes the pooled variance. Exact
    integer counts, scalar float ops only; oracle replays the formula."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        two_proportion_ztest,
    )

    ev = _t(spark, sf_dir, "events")
    k = (
        F.col("ts").cast("timestamp").cast("long") * F.lit(1_000_000_000)
        + F.col("event_id")
    )
    units = (
        ev.select("user_id", k.alias("k"), "event_type")
        .groupBy("user_id")
        .agg(
            (F.min_by("event_type", "k") == "purchase")
            .cast("int")
            .alias("converted")
        )
        .select(
            "user_id",
            F.when(F.col("user_id") % 2 == 0, F.lit("A"))
            .otherwise(F.lit("B"))
            .alias("bucket"),
            "converted",
        )
    )
    return two_proportion_ztest(units, "user_id", "bucket", "converted")


def q_sim_item_cf(spark, sf_dir):
    """Item-item collaborative filtering over the customer↔part interaction
    log (orders ⋈ lineitem): cosine over binary user vectors =
    c_ij/√(c_i·c_j), per-user pair fan-out capped, top-100 by support. The
    oracle replays the same pair counts and division."""
    from iatlas_cbioportal_export_spark.operators.similarity import (
        item_cooccurrence_similarity,
    )

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    inter = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("item_id"),
    )
    return item_cooccurrence_similarity(inter, top_n=100)


def q_dedup_jaccard_prefix(spark, sf_dir):
    """EXACT token-set Jaccard self-join at J ≥ 0.9 via rarest-first prefix
    filtering (AllPairs/PPJoin family) — the exact-answer complement to the
    MinHash tier. The oracle brute-forces all pairs, so pair-set AND value
    equality is the completeness proof of the length+prefix filters."""
    from iatlas_cbioportal_export_spark.operators.dedup import (
        jaccard_prefix_join,
    )

    docs = _t(spark, sf_dir, "documents")
    return jaccard_prefix_join(docs, threshold=0.9)


def q_graph_triangles(spark, sf_dir):
    """Triangle count of the part co-purchase graph (parts sharing an
    order): degree-ordered wedge enumeration bounds the fan-out by √m per
    vertex; the count is orientation-independent, so the oracle counts the
    same triangles with the simple u<v<w three-way join."""
    from iatlas_cbioportal_export_spark.operators.graph import (
        count_triangles,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.withColumnsRenamed({"l_partkey": "p1"})
    b = li.withColumnsRenamed({"l_partkey": "p2"})
    edges = (
        a.join(b, on="l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )
    return count_triangles(edges)


def q_events_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix of event types per user stream
    (funnel's deterministic order key, one lag window, |types|²-bounded
    aggregate). Counts exact; probs are a single division mirrored by the
    oracle."""
    from iatlas_cbioportal_export_spark.streaming.events import (
        transition_matrix,
    )

    return transition_matrix(_t(spark, sf_dir, "events"))


def q_events_exp_smoothing(spark, sf_dir):
    """Single exponential smoothing (α=0.3) of each event type's hourly
    value series: exact decimal hourly sums, per-key ordered-array fold
    (series length bounded by time buckets) — the oracle seeds DuckDB's
    list_reduce with the first element exactly like the slice+seed fold."""
    from iatlas_cbioportal_export_spark.streaming.events import exp_smoothing

    return exp_smoothing(_t(spark, sf_dir, "events"), alpha=0.3)


def q_emb_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss projection 64 → 16 dims through the
    deterministic ±1 quadratic-parity matrix — narrow folds only, exploded to
    (id, pos, value) scalars; the oracle replays the identical index-order
    fold and sign formula."""
    from iatlas_cbioportal_export_spark.operators.similarity import (
        random_projection,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return random_projection(emb, dim_out=16)


def q_maf_gene_cooccurrence(spark, sf_dir):
    """Pairwise mutation co-occurrence vs independence over the top-10
    recurrent genes (the post-oncoprint exclusivity screen): exact integer
    pair counts incl. zero-overlap pairs from the full gene grid; expected
    and log2 ratio are single per-row float ops mirrored by the oracle."""
    from iatlas_cbioportal_export_spark.operators.maf import (
        gene_co_occurrence,
    )

    maf = _maf_shaped(spark, sf_dir).withColumn(
        "Hugo_Symbol",
        F.concat(F.lit("GENE"), (F.col("variant_id") % 40).cast("string")),
    )
    return gene_co_occurrence(maf, top_genes=10)


def q_stats_chi_square(spark, sf_dir):
    """Pearson chi-square independence test: order priority × order status
    contingency. Exact integer observed counts/marginals; per-cell
    (O−E)²/E terms rounded 9dp and summed as DECIMAL(28,9) — shuffle-order
    independent. The full r×c grid includes zero-observed cells (they
    contribute E)."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        chi_square_independence,
    )

    orders = _t(spark, sf_dir, "orders")
    return chi_square_independence(orders, "o_orderpriority", "o_orderstatus")


def q_maf_oncoprint(spark, sf_dir):
    """Oncoprint alteration matrix over the MAF shape: top-10 recurrently
    mutated genes (distinct mutated samples, TakeOrdered heap — no full
    sort) broadcast back as the matrix filter. Genes derive
    deterministically from the variant id; the oracle replays the ranking
    with a window and the same tie-breaks."""
    from iatlas_cbioportal_export_spark.operators.maf import oncoprint_matrix

    maf = _maf_shaped(spark, sf_dir).withColumn(
        "Hugo_Symbol",
        F.concat(F.lit("GENE"), (F.col("variant_id") % 40).cast("string")),
    )
    return oncoprint_matrix(maf, top_genes=10)


def q_clinical_logrank(spark, sf_dir):
    """Two-sample log-rank test (BUILDING vs MACHINERY survival): exact
    integer death/risk grids, per-time e/v terms rounded to 9dp and summed
    as DECIMAL(28,9) so the statistic is shuffle-order independent. The
    oracle mirrors the arithmetic parenthesization exactly."""
    from iatlas_cbioportal_export_spark.plans.clinical_pipeline import (
        logrank_test,
    )

    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        (
            F.abs(F.floor("c_acctbal").cast("long")) % 60 + 1
        ).alias("duration"),
        F.when(F.col("c_custkey") % 4 == 0, F.lit(0))
        .otherwise(F.lit(1))
        .alias("event"),
    )
    return logrank_test(
        cust, "c_mktsegment", "duration", "event", "BUILDING", "MACHINERY"
    )


def q_events_interval_overlap(spark, sf_dir):
    """Interval-interval overlap join: per-user event windows
    [ts, ts + (event_id mod 120) minutes] that overlap — grid-cell
    bucketed candidates (bounded explode), exact epoch-second integer
    arithmetic (both engines floor the fractional seconds), never a
    per-key cartesian. Oracle brute-forces the per-user pair predicate."""
    from iatlas_cbioportal_export_spark.operators.joins import (
        interval_self_overlap,
    )

    events = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").cast("long").alias("s"),
    )
    iv = events.withColumn(
        "e", F.col("s") + (F.col("event_id") % 120) * 60
    )
    return interval_self_overlap(
        iv, "user_id", "event_id", "s", "e", cell_width=3600
    )


def q_text_cooccurrence_pmi(spark, sf_dir):
    """Windowed co-occurrence counts + PMI (GloVe-style corpus statistic):
    ordered token pairs within 3 positions, exact integer counts, PMI as
    the only floating step (round 6dp; the oracle mirrors the exact
    division parenthesization). Narrow pair expansion; the shuffles carry
    only (token(s), count) rows; top-200 is TakeOrderedAndProject."""
    from iatlas_cbioportal_export_spark.operators.text import (
        cooccurrence_pmi,
    )

    docs = _t(spark, sf_dir, "documents")
    return cooccurrence_pmi(docs, window=3, top_n=200)


def q_lpm_join_categories(spark, sf_dir):
    """Longest-prefix-match join: parts tagged with the deepest matching
    token-prefix rule (all 1-token prefixes + the 2-token prefixes of every
    5th part as the rule table). Bounded prefix explosion + broadcast rule
    join + one argmax — the IP-route/category-tree lookup shape. Oracle
    matches rules by starts_with and arg_max's the depth."""
    from iatlas_cbioportal_export_spark.operators.joins import (
        longest_prefix_join,
    )

    part = _t(spark, sf_dir, "part")
    rules = (
        part.select(
            F.element_at(F.split("p_name", " "), 1).alias("prefix")
        )
        .union(
            part.filter(F.col("p_partkey") % 5 == 0).select(
                F.col("p_name").alias("prefix")
            )
        )
        .distinct()
    )
    return longest_prefix_join(
        part, rules, "p_partkey", "p_name", max_depth=2
    )


def q_equi_depth_bins(spark, sf_dir):
    """Equal-frequency binning of order values into quartile buckets:
    boundaries are exact order statistics from the histogram-refinement
    passes (no global sort / giant ntile window), assignment is a narrow
    CASE over the literal boundaries. Output is the per-bucket profile
    (count, min, max) — it validates both the boundaries and the
    assignment; the oracle ranks with a window and CASE-assigns."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        equi_depth_buckets,
    )

    v = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).alias("c")
    )
    _, assigned = equi_depth_buckets(v, "c")
    return assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("c").alias("min_c"),
        F.max("c").alias("max_c"),
    )


def q_window_rank_suite(spark, sf_dir):
    """All ranking/distribution window functions sharing ONE window
    exchange+sort: rank, dense_rank, percent_rank, cume_dist, ntile(4),
    lag/lead over (priority, price, orderkey). percent_rank/cume_dist are
    exact rationals of integer ranks; round(,9) absorbs the final double
    formatting."""
    from iatlas_cbioportal_export_spark.plans.analytics import rank_suite

    return rank_suite(_t(spark, sf_dir, "orders"))


def q_events_attribution_outer(spark, sf_dir):
    """Left-outer click→purchase attribution (batch twin of the
    stream-stream outer join): every click appears; NULL purchase columns
    where nothing followed within 30 minutes. The streaming form emits the
    null-extended rows on watermark expiry — min across BOTH sides' event
    times — pinned by the expiry pytest; this query oracle-checks the
    join semantics themselves."""
    from iatlas_cbioportal_export_spark.streaming.events import (
        attribute_purchases_outer,
    )

    events = _t(spark, sf_dir, "events")
    return attribute_purchases_outer(events)


def q_exact_quantiles(spark, sf_dir):
    """EXACT p50/p90 order statistics of l_extendedprice (in floor-cents)
    via iterative histogram refinement — 2-3 narrow scan+tiny-agg passes,
    never a value collect, the 100 TB-safe exact-quantile algorithm next to
    approx_profile's sketches. The integral domain (floor(x·100): identical
    IEEE arithmetic in both engines) makes the result value-hash exact; the
    oracle reads the k-th row off a window."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        exact_order_statistics,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100).alias("c")
    )
    qs = (0.5, 0.9)
    n, results = exact_order_statistics(li, "c", qs)
    rows = [(q, n, k, v) for q, (k, v) in zip(qs, results)]
    return spark.createDataFrame(
        rows, "q double, n long, k long, value long"
    )


def q_sketch_accuracy_gate(spark, sf_dir):
    """Sketch-accuracy gate over lineitem: HLL++ distinct (l_orderkey,
    estimation regime at every SF) and percentile_approx p50 of
    floor-cent prices, each reduced to the deterministic boolean "sketch
    met its published error bound" next to the EXACT statistic — the
    oracle-checkable contract for approximate operators whose raw sketch
    values are engine-defined (approx_profile's docstring caveat, made
    into a query)."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        sketch_accuracy_report,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.floor(F.col("l_extendedprice") * 100).alias("c")
    )
    return sketch_accuracy_report(li, distinct_col="l_orderkey", value_col="c")


_BPE_MERGES = [("e", "r"), ("o", "r"), ("i", "n"), ("o", "w")]


def q_text_bpe_segment(spark, sf_dir):
    """Tokenizer apply side: segment each document with a FIXED literal BPE
    merge table (the 4 merges this corpus family learns) — per-doc subword
    counts + an order-sensitive segmentation fingerprint. The plan is 100%
    narrow: merges are baked into the fold expression per occurrence, so
    nothing shuffles. Oracle replays the merges on the distinct-word
    dictionary with the same run-parity CTE machinery as training, then
    joins stats back through a positional unnest."""
    from iatlas_cbioportal_export_spark.operators.text import (
        bpe_segment_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return bpe_segment_stats(docs, _BPE_MERGES)


def _bpe_apply_oracle(merges: list[tuple[str, str]]) -> str:
    """DuckDB twin of q_text_bpe_segment: per-round CTEs identical to
    _bpe_oracle's merge machinery but with the round's pair CONSTANT, run
    over the distinct-word dictionary; per-doc stats come from a positional
    token unnest joined to the segmented dictionary. MATERIALIZED for the
    same exponential-inlining reason."""
    k = len(merges)
    sql = [
        f"""
        WITH t AS MATERIALIZED (
            SELECT doc_id, {_TOKS} AS toks FROM documents
        ),
        w AS MATERIALIZED (
            SELECT DISTINCT unnest(toks) AS word FROM t
        ),
        s0 AS MATERIALIZED (
            SELECT word,
                   list_transform(range(1, length(word) + 1),
                                  i -> substr(word, i, 1)) AS syms
            FROM w
        )"""
    ]
    for r, (a, b) in enumerate(merges):
        ae, be = a.replace("'", "''"), b.replace("'", "''")
        sql.append(
            f""",
        m{r} AS MATERIALIZED (
            SELECT s.word, u.i AS p, s.syms[u.i] AS sym,
                   CASE WHEN u.i < len(s.syms)
                             AND s.syms[u.i] = '{ae}'
                             AND s.syms[u.i + 1] = '{be}'
                        THEN 1 ELSE 0 END AS mt
            FROM s{r} s,
                 LATERAL (SELECT unnest(range(1, len(s.syms) + 1)) AS i) u
        ),
        g{r} AS MATERIALIZED (
            SELECT word, p,
                   p - row_number() OVER (PARTITION BY word ORDER BY p) AS grp
            FROM m{r} WHERE mt = 1
        ),
        keep{r} AS MATERIALIZED (
            SELECT word, p FROM (
                SELECT word, p,
                       row_number() OVER (PARTITION BY word, grp ORDER BY p)
                           AS rn
                FROM g{r})
            WHERE (rn - 1) % 2 = 0
        ),
        s{r + 1} AS MATERIALIZED (
            SELECT m.word,
                   list(CASE WHEN kk.p IS NOT NULL THEN '{ae}{be}'
                             ELSE m.sym END ORDER BY m.p) AS syms
            FROM m{r} m
            LEFT JOIN keep{r} kk ON kk.word = m.word AND kk.p = m.p
            LEFT JOIN keep{r} kc ON kc.word = m.word AND kc.p = m.p - 1
            WHERE kc.p IS NULL
            GROUP BY m.word
        )"""
        )
    sql.append(
        f""",
        seg AS MATERIALIZED (
            SELECT word, len(syms) AS n_sub,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(syms, sym ->
                           list_reduce(list_prepend(CAST(0 AS BIGINT),
                               list_transform(range(1, length(sym) + 1),
                                   i -> CAST(ascii(sym[i]) AS BIGINT))),
                               (acc, c) -> (acc * 31 + c) % 1000000007))),
                       (acc, h) -> (acc * 1000003 + h) % 1000000007) AS wh
            FROM s{k}
        ),
        e AS MATERIALIZED (
            SELECT t.doc_id, u.i AS pos, t.toks[u.i] AS word
            FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u
        ),
        per AS MATERIALIZED (
            SELECT e.doc_id,
                   CAST(sum(seg.n_sub) AS BIGINT) AS n_subwords,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list(seg.wh ORDER BY e.pos)),
                       (acc, h) -> (acc * 1000003 + h) % 1000000007) AS fp
            FROM e JOIN seg USING (word)
            GROUP BY e.doc_id
        )
        SELECT t.doc_id AS id, len(t.toks) AS n_tokens,
               coalesce(per.n_subwords, 0) AS n_subwords,
               coalesce(per.fp, 0) AS seg_fingerprint
        FROM t LEFT JOIN per USING (doc_id)"""
    )
    return "".join(sql)


def q_events_retention(spark, sf_dir):
    """Cohort retention triangle over the event log: users bucketed by
    first-activity day, counted per return-day offset. Distinct-before-
    shuffle keeps the wide stages on (user, day) pairs; the final rollup is
    a plain count because user-days are already unique."""
    from iatlas_cbioportal_export_spark.streaming.events import (
        retention_cohorts,
    )

    events = _t(spark, sf_dir, "events")
    return retention_cohorts(events)


def q_text_bpe_train(spark, sf_dir):
    """BPE vocabulary training (4 merge rounds) over the documents corpus —
    the tokenizer-learning step of an LLM pipeline as a distributed
    iterative algorithm: pair-count aggregate → one-row argmax to the driver
    → greedy left-to-right merge fold, per round. Output is the final
    (symbol, freq) table, which every merge decision reshapes — the oracle
    replays all four rounds as generated MATERIALIZED CTEs (inlined CTEs
    re-expand the round tree exponentially) with run-parity windows
    reproducing the fold's overlapping-match semantics."""
    from iatlas_cbioportal_export_spark.operators.text import (
        bpe_symbol_table,
        bpe_train_merges,
    )

    docs = _t(spark, sf_dir, "documents")
    _, state = bpe_train_merges(docs, n_merges=4)
    return bpe_symbol_table(state)


def _bpe_oracle(k: int) -> str:
    """Generated DuckDB twin of q_text_bpe_train: one CTE block per merge
    round. Greedy-overlap semantics: positions matching the round's best
    pair are grouped into consecutive runs (p − row_number), and only
    even-offset members merge — identical to the engine's left fold. Every
    CTE is MATERIALIZED: DuckDB inlines CTEs by default and each round
    references the previous state several times, so the un-materialized
    plan tree grows exponentially in k (hung at k=4; 0.1s materialized)."""
    sql = [
        f"""
        WITH w AS MATERIALIZED (
            SELECT t AS word, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest({_TOKS}) AS t FROM documents) GROUP BY t
        ),
        s0 AS MATERIALIZED (
            SELECT word, freq,
                   list_transform(range(1, length(word) + 1),
                                  i -> substr(word, i, 1)) AS syms
            FROM w
        )"""
    ]
    for r in range(k):
        sql.append(
            f""",
        p{r} AS MATERIALIZED (
            SELECT s.syms[u.i] AS a, s.syms[u.i + 1] AS b,
                   sum(s.freq) AS cnt
            FROM s{r} s, LATERAL (SELECT unnest(range(1, len(s.syms))) AS i) u
            GROUP BY 1, 2
        ),
        b{r} AS MATERIALIZED (
            SELECT a, b FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
        ),
        m{r} AS MATERIALIZED (
            SELECT s.word, s.freq, u.i AS p, s.syms[u.i] AS sym,
                   CASE WHEN u.i < len(s.syms)
                             AND s.syms[u.i] = (SELECT a FROM b{r})
                             AND s.syms[u.i + 1] = (SELECT b FROM b{r})
                        THEN 1 ELSE 0 END AS mt
            FROM s{r} s,
                 LATERAL (SELECT unnest(range(1, len(s.syms) + 1)) AS i) u
        ),
        g{r} AS MATERIALIZED (
            SELECT word, p,
                   p - row_number() OVER (PARTITION BY word ORDER BY p) AS grp
            FROM m{r} WHERE mt = 1
        ),
        keep{r} AS MATERIALIZED (
            SELECT word, p FROM (
                SELECT word, p,
                       row_number() OVER (PARTITION BY word, grp ORDER BY p)
                           AS rn
                FROM g{r})
            WHERE (rn - 1) % 2 = 0
        ),
        s{r + 1} AS MATERIALIZED (
            SELECT m.word, max(m.freq) AS freq,
                   list(CASE WHEN kk.p IS NOT NULL
                             THEN (SELECT a FROM b{r}) || (SELECT b FROM b{r})
                             ELSE m.sym END ORDER BY m.p) AS syms
            FROM m{r} m
            LEFT JOIN keep{r} kk ON kk.word = m.word AND kk.p = m.p
            LEFT JOIN keep{r} kc ON kc.word = m.word AND kc.p = m.p - 1
            WHERE kc.p IS NULL
            GROUP BY m.word
        )"""
        )
    sql.append(
        f"""
        SELECT sym AS symbol, CAST(sum(freq) AS BIGINT) AS freq
        FROM (SELECT word, freq, unnest(syms) AS sym FROM s{k})
        GROUP BY 1"""
    )
    return "".join(sql)


def q_graph_pagerank(spark, sf_dir):
    """Fixed-iteration (K=4) PageRank over the symmetrized part↔supplier
    graph from lineitem — the iterative-algorithm tier next to connected
    components. Exact integer micro-unit arithmetic (bigint `div`) makes the
    ranks reduction-order independent, so the oracle replays the identical
    four rounds as generated chained CTEs and value-hash matches."""
    from iatlas_cbioportal_export_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 1_000_000).alias("dst"),
    ).distinct()
    edges = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank(edges, iterations=4)


def _pagerank_oracle(iterations: int = 4, scale: int = 10**12) -> str:
    """Generated chained-CTE twin of q_graph_pagerank: one CTE per
    iteration, same integer arithmetic ((r*85) // (100*od), teleport
    = scale*15//100). DuckDB's sum(BIGINT) widens to HUGEINT — the per-round
    CAST back to BIGINT keeps the state type identical to Spark's."""
    teleport = scale * 15 // 100
    parts = [
        f"""
        WITH e0 AS (SELECT DISTINCT l_partkey AS src,
                           l_suppkey + 1000000 AS dst FROM lineitem),
        e AS (SELECT src, dst FROM e0
              UNION SELECT dst AS src, src AS dst FROM e0),
        deg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
        n AS (SELECT DISTINCT src AS node FROM e),
        r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank_int FROM n)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
        r{i} AS (
            SELECT n.node,
                   CAST({teleport} + coalesce(s.m, 0) AS BIGINT) AS rank_int
            FROM n LEFT JOIN (
                SELECT e.dst AS node,
                       sum((r.rank_int * 85) // (100 * deg.od)) AS m
                FROM e JOIN r{i - 1} r ON e.src = r.node
                       JOIN deg ON deg.src = e.src
                GROUP BY e.dst) s ON n.node = s.node)"""
        )
    parts.append(f"\n        SELECT node, rank_int FROM r{iterations}")
    return "".join(parts)


_PPR_SEEDS = [1, 2, 3, 4, 5]


def q_graph_ppr(spark, sf_dir):
    """Personalized PageRank (random walk with restart) from 5 part-node
    seeds over the same symmetrized part↔supplier graph as graph_pagerank:
    all teleport mass returns to the seeds, so rank orders nodes by
    proximity to the seed set. Exact integer micro-units; the oracle
    replays the seeded rounds as chained CTEs. Top-200 by (rank desc,
    node) keeps the surface small while covering seeds, their neighbors,
    and zero-rank tail cutoff."""
    from iatlas_cbioportal_export_spark.operators.graph import (
        personalized_pagerank,
    )

    li = _t(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 1_000_000).alias("dst"),
    ).distinct()
    edges = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = personalized_pagerank(edges, _PPR_SEEDS, iterations=4)
    return ranks.orderBy(F.col("rank_int").desc(), F.col("node").asc()).limit(
        200
    )


def _ppr_oracle(iterations: int = 4, scale: int = 10**12) -> str:
    """Seeded chained-CTE twin of q_graph_ppr: the r0 CASE plants scale on
    seeds, the per-round teleport CASE restricts restart mass to seeds."""
    teleport = scale * 15 // 100
    seeds = ", ".join(str(s) for s in _PPR_SEEDS)
    parts = [
        f"""
        WITH e0 AS (SELECT DISTINCT l_partkey AS src,
                           l_suppkey + 1000000 AS dst FROM lineitem),
        e AS (SELECT src, dst FROM e0
              UNION SELECT dst AS src, src AS dst FROM e0),
        deg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
        n AS (SELECT DISTINCT src AS node FROM e),
        r0 AS (SELECT node,
                      CAST(CASE WHEN node IN ({seeds}) THEN {scale}
                           ELSE 0 END AS BIGINT) AS rank_int FROM n)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
        r{i} AS (
            SELECT n.node,
                   CAST(CASE WHEN n.node IN ({seeds}) THEN {teleport}
                        ELSE 0 END + coalesce(s.m, 0) AS BIGINT) AS rank_int
            FROM n LEFT JOIN (
                SELECT e.dst AS node,
                       sum((r.rank_int * 85) // (100 * deg.od)) AS m
                FROM e JOIN r{i - 1} r ON e.src = r.node
                       JOIN deg ON deg.src = e.src
                GROUP BY e.dst) s ON n.node = s.node)"""
        )
    parts.append(
        f"""
        SELECT node, rank_int FROM r{iterations}
        ORDER BY rank_int DESC, node ASC LIMIT 200"""
    )
    return "".join(parts)


def q_events_variant_extract(spark, sf_dir):
    """Semi-structured extraction through Spark 4 VARIANT (parse_json +
    try_variant_get): one parse into the binary variant encoding, typed
    null-safe access without a declared schema — the third path next to
    get_json_object (events_json_extract) and from_json."""
    from iatlas_cbioportal_export_spark.functions.json import (
        variant_field_stats,
    )

    return variant_field_stats(_t(spark, sf_dir, "events")).orderBy(
        "event_type"
    )


def q_events_sliding_distinct(spark, sf_dir):
    """Rolling 6h/1h distinct-user counts (sliding MAU/DAU): distinct
    (hour, user) pairs first, 6-way map-side fan-out, re-distinct per
    window — the exact decomposition COUNT(DISTINCT) needs over
    overlapping windows. Integer epoch labels keep the comparison
    timezone-free."""
    from iatlas_cbioportal_export_spark.streaming.events import (
        sliding_distinct_users,
    )

    ev = _t(spark, sf_dir, "events")
    return sliding_distinct_users(ev, window_hours=6, slide_hours=1).orderBy(
        "window_end_epoch"
    )


def q_constraint_suite(spark, sf_dir):
    """Declarative data-quality rules (Deequ-surface) compiled to ONE fused
    aggregate pass + one FK anti-join over lineitem — deliberately mixing
    passing and failing rules so both statuses (and real violation counts)
    reach the oracle comparison."""
    from iatlas_cbioportal_export_spark.operators.validation import (
        constraint_suite,
    )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    rules = [
        {"kind": "not_null", "col": "l_orderkey"},
        {"kind": "range", "col": "l_quantity", "min": 1, "max": 50},
        {"kind": "range", "col": "l_discount", "min": 0.0, "max": 0.05,
         "name": "range_discount_tight"},
        {"kind": "in_set", "col": "l_returnflag", "values": ["R", "A", "N"]},
        {"kind": "in_set", "col": "l_linestatus", "values": ["O"],
         "name": "in_set_linestatus_open_only"},
        {"kind": "regex", "col": "l_returnflag", "pattern": "^[A-Z]$"},
        {"kind": "custom", "expr": "l_extendedprice > 0",
         "name": "price_positive"},
        {"kind": "custom", "expr": "l_tax < 0.05", "name": "tax_below_5pct"},
        {"kind": "unique", "cols": ["l_orderkey", "l_linenumber"]},
        {"kind": "min_rows", "threshold": 100},
        {"kind": "min_rows", "threshold": 10**9,
         "name": "min_rows_billion"},
        {"kind": "foreign_key", "col": "l_orderkey", "ref": o,
         "ref_col": "o_orderkey"},
    ]
    return constraint_suite(li, rules).orderBy("rule")


def q_running_revenue(spark, sf_dir):
    """Global running revenue — SUM(cents) OVER (ORDER BY days) — via the
    two-phase bucket decomposition (global_running_sum): NO single-
    partition window over the corpus, only over the KB-bounded bucket
    totals. RANGE tie semantics (same order date ⇒ same cumulative) match
    the SQL default, so the oracle is the plain windowed SUM. Integer
    cents keep the fold exact under any partitioning."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        global_running_sum,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    out = global_running_sum(o, order_col="d", value_col="cents",
                             bucket_width=64)
    return out.select(
        "o_orderkey", "d", F.col("running_cents").alias("running_cents")
    ).orderBy("o_orderkey")


def q_salted_skew_join(spark, sf_dir):
    """Deterministic salting for the pathological-skew join AQE cannot
    split (hot build key): 30% of lineitem rows are collapsed onto part
    key 1, then joined to the part dim through salted_join (key salted by
    a row hash, dim replicated 16×). The aggregate proves result
    equivalence with the unsalted join — the oracle IS the plain join —
    while the shuffle spreads the hot key over 16 reducers."""
    from iatlas_cbioportal_export_spark.operators.joins import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 10 < 3, F.lit(1))
        .otherwise(F.col("l_partkey"))
        .alias("k"),
        "l_quantity",
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"), "p_brand"
    )
    joined = salted_join(li, part, on="k", how="inner")
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.floor(F.col("l_quantity")).cast("long")).alias("qty"),
        )
        .orderBy("p_brand")
    )


def q_sketch_rank_quantile(spark, sf_dir):
    """Custom mergeable rank-sample quantile sketch (KLL level-0 uniform
    compaction) over floor-cent lineitem prices, reduced to its
    deterministic tie-safe contract: rank_hi(est) ≥ target AND
    rank_lo(est) < target + slack for p50/p90/p99. The raw samples are
    partitioning-defined, so
    the oracle checks the engine-portable gate rows (the
    sketch_accuracy_gate pattern) — a broken sketch flips within_bound."""
    from iatlas_cbioportal_export_spark.operators.sketch import (
        rank_sample_quantile_gate,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100).alias("c")
    )
    return rank_sample_quantile_gate(li, "c").orderBy("quantile")


def q_graph_hits(spark, sf_dir):
    """HITS hubs/authorities over the DIRECTED part→supplier graph (no
    symmetrization — the mutual hub↔authority recursion needs the
    bipartite direction): parts score as hubs, suppliers as authorities.
    Exact integer L1-normalized rounds; the oracle replays them as chained
    CTEs with HUGEINT products. Top-200 by greatest(hub, auth) covers the
    head of both sides with a deterministic (…, node) tiebreak."""
    from iatlas_cbioportal_export_spark.operators.graph import hits

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 1_000_000).alias("dst"),
    ).distinct()
    out = hits(edges, iterations=2)
    return out.orderBy(
        F.greatest("hub_int", "auth_int").desc(), F.col("node").asc()
    ).limit(200)


def q_text_cosine_pairs(spark, sf_dir):
    """EXACT all-pairs cosine ≥ 0.95 over tf vectors via inverted-index
    postings join — the no-recall-loss counterpart to dedup_minhash_lsh.
    Integer-exact threshold gate (num²·400 ≥ 361·na·nb in DECIMAL(38,0)),
    so the pair SET matches the oracle bit-for-bit; the reported cosine is
    one correctly-rounded double. doc_id < 2000 bounds the slice because
    this corpus's 31-term dense vocabulary is the worst case for postings
    pruning (Σ df² ~ all-pairs); at real-corpus sparsity the df cap +
    df≥2 prune carry the 100 TB story (operator docstring). exact=True is
    the explicit opt-in for this bounded slice: the DEFAULT now df-caps
    hot terms (> max_df_frac of the corpus) so a dense vocabulary cannot
    go quadratic by accident — full recall here requires the flag, and the
    oracle (true all-pairs SQL) matches only the exact path."""
    from iatlas_cbioportal_export_spark.operators.text import (
        cosine_similarity_pairs,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return cosine_similarity_pairs(docs, threshold=0.95, exact=True).orderBy(
        "doc_a", "doc_b"
    )


def q_text_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes trained on the doc_id%5!=0 split of the
    corpus (per-lang Laplace-smoothed token log-likelihoods) and applied
    to the held-out split — the TRAINED classifier counterpart to the
    fixed-literal text_quality_classifier. Likelihoods flow through the
    DECIMAL(28,12) lane before tf-multiply and summation so the argmax
    replays exactly; the oracle re-derives the whole model in SQL."""
    from iatlas_cbioportal_export_spark.operators.text import (
        naive_bayes_train_apply,
    )

    docs = _t(spark, sf_dir, "documents")
    return naive_bayes_train_apply(docs).orderBy("doc_id")


def q_profile_table(spark, sf_dir):
    """One-pass whole-table column profile of orders: per column null /
    exact-distinct counts, numeric min/max/mean (decimal-sum lane), string
    min/max and mean length — the single-scan reconnaissance that sizes
    broadcast/salting/bucketing decisions. The multi-count(distinct) rides
    ONE Expand+shuffle; the at-scale flag (exact_distinct=False) swaps in
    HLL with no Expand. o_orderdate is pre-cast to date so its string
    surface is ISO in any engine."""
    from iatlas_cbioportal_export_spark.operators.profiling import (
        table_profile,
    )

    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )
    return table_profile(orders)


def q_graph_sssp(spark, sf_dir):
    """Weighted single-source shortest paths (4 Bellman-Ford rounds) from
    part 1 over the part↔supplier bipartite graph, edge weight =
    min(l_quantity) — frontier-optimized min-plus relaxation with integer-
    exact distances; the oracle replays the rounds as chained CTEs."""
    from iatlas_cbioportal_export_spark.operators.graph import sssp_distances

    li = _t(spark, sf_dir, "lineitem")
    edges = li.groupBy(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 1_000_000).alias("dst"),
    ).agg(F.min(F.col("l_quantity").cast("long")).alias("w"))
    return sssp_distances(edges, source=1, rounds=4).orderBy("node")


def q_entity_fs_linkage(spark, sf_dir):
    """Fellegi-Sunter probabilistic linkage of customers against a
    deterministically perturbed planted copy (custkey%4 picks which field
    is damaged): u-probabilities estimated from the right table's exact
    value-frequency squares, literal m=0.95, log2 likelihood-ratio
    weights through the decimal lane, link/possible/non_link decisions.
    Blocking on (nationkey, custkey%50) yields true pairs plus incidental
    block collisions, so every decision branch is exercised."""
    from iatlas_cbioportal_export_spark.operators.entity import (
        fellegi_sunter_linkage,
    )

    cust = _t(spark, sf_dir, "customer")
    left = cust.select(
        F.col("c_custkey").alias("lid"),
        "c_nationkey",
        (F.col("c_custkey") % 50).alias("blk"),
        "c_name",
        F.col("c_acctbal").cast("string").alias("c_acctbal_s"),
        "c_mktsegment",
    )
    right = cust.select(
        (F.col("c_custkey") + 1_000_000).alias("rid"),
        "c_nationkey",
        (F.col("c_custkey") % 50).alias("blk"),
        F.when(F.col("c_custkey") % 4 == 0, F.upper("c_name"))
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        F.when(
            F.col("c_custkey") % 4 == 1,
            (F.col("c_acctbal") + 1).cast("string"),
        )
        .otherwise(F.col("c_acctbal").cast("string"))
        .alias("c_acctbal_s"),
        F.when(F.col("c_custkey") % 4 == 2, F.lit("PERTURBED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    return fellegi_sunter_linkage(
        left,
        right,
        "lid",
        "rid",
        block_cols=["c_nationkey", "blk"],
        compare_cols=["c_name", "c_acctbal_s", "c_mktsegment"],
    ).orderBy("l_id", "r_id")


def q_stats_ols_multi(spark, sf_dir):
    """Two-feature closed-form OLS per return flag: floor-cents revenue
    regressed on quantity and discount-percent — ten DECIMAL(38,0)-exact
    normal-equation sums in ONE map-side-combined aggregate, then
    Cramer's rule on doubles with an oracle-replayable parenthesization."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        grouped_multi_linear_fit,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100).alias("x2"),
        F.floor(F.col("l_extendedprice") * 100).alias("y"),
    )
    return grouped_multi_linear_fit(
        li, "l_returnflag", "x1", "x2", "y"
    ).orderBy("l_returnflag")


def q_sim_grid_dbscan(spark, sf_dir):
    """Grid-density (DBSCAN-cell) clustering over the first two embedding
    coordinates: eps=0.05 cells, min_pts=4 dense gate, 8-neighbor dense-
    cell merge via connected-components min-label, border attach by min
    adjacent cluster — corpus touched once; everything else is cell-graph
    sized. Oracle replays the merge as a recursive-CTE closure."""
    from iatlas_cbioportal_export_spark.operators.similarity import (
        grid_dbscan,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return (
        grid_dbscan(emb, eps=0.05, min_pts=4)
        .select(
            F.col("id").alias("vec_id"),
            F.col("cx").alias("cell_x"),
            F.col("cy").alias("cell_y"),
            "role",
            F.col("cluster").alias("cluster_id"),
        )
        .orderBy("vec_id")
    )


def q_sim_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ADC retrieval with exact-twin queries (vec_id<5 planted at
    +1e6): the corpus pass emits only (id, cell, codes) — the 16-64x
    memory story — and ADC top-10 must surface each twin's original at
    its PQ quantization error. The oracle re-derives the codes from the
    same seeded codebooks and replays the ADC double with the identical
    per-subspace fold nesting."""
    from iatlas_cbioportal_export_spark.operators.similarity import (
        ivfpq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    top = ivfpq_topk(emb, twins, k=10)
    orig = F.col("vec_id") == F.col("query_id") - 1_000_000
    return (
        top.groupBy("query_id")
        .agg(
            F.max(orig).alias("found_original"),
            F.max(F.when(orig, F.col("adc_d2"))).alias("adc_to_original"),
        )
        .orderBy("query_id")
    )


def q_eval_auc(spark, sf_dir):
    """Per-language exact ROC-AUC of the quality classifier's probability
    as a predictor of 'long document' (>= 500 chars) — the scorer-eval
    readout, computed over distinct scores only (tie-corrected pair
    counting; integer-exact numerator, one final double divide)."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        grouped_auc,
    )
    from iatlas_cbioportal_export_spark.operators.text import (
        quality_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = quality_classifier(docs).select("doc_id", "quality_prob")
    labeled = scored.join(
        docs.select(
            "doc_id", "lang", (F.length("text") >= 500).alias("pos")
        ),
        on="doc_id",
    )
    return grouped_auc(labeled, "quality_prob", "pos", "lang").orderBy(
        "lang"
    )


def q_stream_topk_snapshot(spark, sf_dir):
    """Batch twin of streaming/sinks.topk_snapshot_stream: top-10 users
    by event count, (cnt desc, key asc) tie-break — the incrementally-
    maintained materialization's final snapshot must equal this (proven
    stream≡batch over multi-micro-batch availableNow in pytest)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.col("user_id").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(10)
    )


def q_events_feature_matrix(spark, sf_dir):
    """Per-user feature-store matrix: every feature a conditional
    aggregate in ONE fused groupBy (one shuffle for the whole matrix) —
    decimal-lane money, DATE-typed day bounds, integer-ppm rate."""
    from iatlas_cbioportal_export_spark.streaming.events import (
        user_feature_matrix,
    )

    return user_feature_matrix(_t(spark, sf_dir, "events")).orderBy(
        "user_id"
    )


def q_stats_covariance_matrix(spark, sf_dir):
    """Exact 8x8 covariance of the leading embedding coordinates in ONE
    aggregate pass: decimal-lane moments (inputs quantized DECIMAL(18,9),
    products exact DECIMAL(37,18)), covariance doubles derived from the
    exact sums — partition-order-free, oracle replays the formula."""
    from iatlas_cbioportal_export_spark.operators.similarity import (
        covariance_matrix,
    )

    return covariance_matrix(_t(spark, sf_dir, "embeddings"), dims=8)


def q_profile_join_cardinality(spark, sf_dir):
    """Exact inner-join output size of the lineitem self-join on partkey,
    WITHOUT running the join: two key histograms + a histogram-sized
    join; products summed in DECIMAL(38,0). The pre-flight guardrail for
    the quadratic-blow-up joins a 100 TB cluster cannot afford to
    discover by running them."""
    from iatlas_cbioportal_export_spark.operators.profiling import (
        join_cardinality_report,
    )

    li = _t(spark, sf_dir, "lineitem")
    return join_cardinality_report(li, li, "l_partkey", "l_partkey")


def q_sample_class_balanced(spark, sf_dir):
    """Exact class balancing of documents by lang: every class keeps
    exactly the minority class's count, members chosen by the portable
    id-hash rank — deterministic under any partitioning; the oracle
    replays the ranking."""
    from iatlas_cbioportal_export_spark.operators.sampling import (
        class_balanced_sample,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return class_balanced_sample(docs, "doc_id", "lang").orderBy("doc_id")


def q_sample_leakage_safe_splits(spark, sf_dir):
    """Dedup-cluster-level train/val/test assignment over the planted-trio
    labeling: every member of a duplicate cluster lands in the SAME split
    (the benchmark-contamination guard); the split is the portable hash
    of the component id."""
    from iatlas_cbioportal_export_spark.operators.graph import (
        dedup_components,
    )
    from iatlas_cbioportal_export_spark.operators.sampling import (
        leakage_safe_splits,
    )

    pairs, corpus = _planted_trio_pairs(spark, sf_dir)
    labeled = dedup_components(pairs, corpus.select("vec_id"), id_col="vec_id")
    return leakage_safe_splits(labeled).orderBy("id")


def q_stats_winsorize(spark, sf_dir):
    """Winsorize floor-cents order totals at the exact p05/p95 (histogram
    refinement, no sort) and report clamp counts and exact before/after
    sums — the heavy-tail taming step in front of the moment-based
    stats tier."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        winsorize_report,
    )

    orders = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).alias("cents")
    )
    return winsorize_report(orders, "cents", q_low=0.05, q_high=0.95)


def q_eval_calibration(spark, sf_dir):
    """Decile reliability diagram for the quality classifier's
    probability against the 'long document' label — the calibration
    counterpart to eval_auc: per probability decile, exact counts, the
    decimal-lane mean predicted probability, and the observed positive
    rate as integer ppm."""
    from iatlas_cbioportal_export_spark.operators.text import (
        quality_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = quality_classifier(docs).select("doc_id", "quality_prob")
    labeled = scored.join(
        docs.select("doc_id", (F.length("text") >= 500).alias("pos")),
        on="doc_id",
    )
    bucket = F.least(
        F.floor(F.col("quality_prob") * 10).cast("int"), F.lit(9)
    )
    return (
        labeled.groupBy(bucket.alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("pos").cast("long")).alias("n_pos"),
            F.round(
                F.sum(F.col("quality_prob").cast("decimal(18,9)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_prob"),
            F.expr(
                "CAST(sum(CAST(pos AS LONG)) AS DECIMAL(38,0)) * 1000000"
                " div count(1)"
            ).alias("pos_rate_ppm"),
        )
        .orderBy("decile")
    )


def _cov_oracle(dims: int = 8) -> str:
    """Generated twin of q_stats_covariance_matrix: the same decimal
    moment sums in one aggregate, the same double formula per cell."""
    cols = ", ".join(
        f"CAST(CAST(embedding[{i + 1}] AS DOUBLE) AS DECIMAL(18,9)) AS e{i}"
        for i in range(dims)
    )
    sums = [f"CAST(count(*) AS BIGINT) AS n"]
    sums += [f"sum(e{i}) AS s_{i}" for i in range(dims)]
    sums += [
        f"sum(e{i} * e{j}) AS s_{i}_{j}"
        for i in range(dims)
        for j in range(i, dims)
    ]
    branches = []
    for i in range(dims):
        for j in range(i, dims):
            branches.append(
                f"""
        SELECT {i} AS i, {j} AS j, n,
               round((CAST(s_{i}_{j} AS DOUBLE)
                      - CAST(s_{i} AS DOUBLE) * CAST(s_{j} AS DOUBLE) / nd)
                     / (nd - 1.0), 9) AS cov
        FROM s"""
            )
    return f"""
        WITH v AS (SELECT {cols} FROM embeddings),
        s AS (SELECT {", ".join(sums)},
                     CAST(count(*) AS DOUBLE) AS nd FROM v)
        {" UNION ALL ".join(branches)}
        ORDER BY i, j
    """


def _sssp_oracle(source: int = 1, rounds: int = 4) -> str:
    """Generated chained-CTE twin of q_graph_sssp: one min-plus relaxation
    per CTE over the full distance table (equivalent to the operator's
    frontier-optimized rounds — delta-relaxation changes cost, not
    results)."""
    sql = [
        """
        WITH e0 AS MATERIALIZED (
            SELECT l_partkey AS s, l_suppkey + 1000000 AS t,
                   CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
            FROM lineitem GROUP BY 1, 2
        ),
        e AS MATERIALIZED (
            SELECT s, t, min(w) AS w FROM (
                SELECT s, t, w FROM e0
                UNION ALL SELECT t, s, w FROM e0
            ) GROUP BY 1, 2
        ),"""
        + f"""
        d0 AS (SELECT CAST({source} AS BIGINT) AS node,
                      CAST(0 AS BIGINT) AS dist)"""
    ]
    for r in range(1, rounds + 1):
        sql.append(
            f""",
        d{r} AS MATERIALIZED (
            SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM d{r - 1}
                UNION ALL
                SELECT e.t AS node, d{r - 1}.dist + e.w AS dist
                FROM d{r - 1} JOIN e ON e.s = d{r - 1}.node
            ) GROUP BY node
        )"""
        )
    sql.append(f"\n        SELECT node, dist FROM d{rounds} ORDER BY node")
    return "".join(sql)


def _hits_oracle(iterations: int = 2, scale: int = 10**6) -> str:
    """Chained-CTE twin of q_graph_hits: each half-round is one join-sum +
    one HUGEINT L1 rescale (DuckDB ``//`` floors = Spark decimal ``div``
    truncation on these non-negative values)."""
    parts = [
        f"""
        WITH e AS (SELECT DISTINCT l_partkey AS src,
                          l_suppkey + 1000000 AS dst FROM lineitem),
        n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        h0 AS (SELECT node, CAST({scale} AS BIGINT) AS h FROM n)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
        a{i}r AS (SELECT e.dst AS node, sum(h.h) AS r
                  FROM e JOIN h{i - 1} h ON e.src = h.node GROUP BY 1),
        a{i} AS (SELECT n.node,
                        CAST(CASE WHEN t.s > 0 THEN
                             (CAST(coalesce(r, 0) AS HUGEINT) * {scale}) // t.s
                             ELSE 0 END AS BIGINT) AS a
                 FROM n LEFT JOIN a{i}r USING (node)
                 CROSS JOIN (SELECT sum(CAST(r AS HUGEINT)) AS s FROM a{i}r) t),
        h{i}r AS (SELECT e.src AS node, sum(a.a) AS r
                  FROM e JOIN a{i} a ON e.dst = a.node GROUP BY 1),
        h{i} AS (SELECT n.node,
                        CAST(CASE WHEN t.s > 0 THEN
                             (CAST(coalesce(r, 0) AS HUGEINT) * {scale}) // t.s
                             ELSE 0 END AS BIGINT) AS h
                 FROM n LEFT JOIN h{i}r USING (node)
                 CROSS JOIN (SELECT sum(CAST(r AS HUGEINT)) AS s FROM h{i}r) t)"""
        )
    parts.append(
        f"""
        SELECT n.node, h{iterations}.h AS hub_int, a{iterations}.a AS auth_int
        FROM n JOIN h{iterations} USING (node) JOIN a{iterations} USING (node)
        ORDER BY greatest(h{iterations}.h, a{iterations}.a) DESC, n.node ASC
        LIMIT 200"""
    )
    return "".join(parts)


def q_fuzzy_join_names(spark, sf_dir):
    """Fuzzy entity-resolution join (symmetric-delete blocking): customer
    names vs a deterministically perturbed twin list (substitute / delete /
    identity by custkey mod 3), all pairs with levenshtein <= 1 — NO
    cartesian product: candidates share a ≤d-deletion variant hash (the
    SymSpell invariant provably covers every true match; candidates scale
    with match density, unlike gram blocking which exploded on these
    low-entropy names), then codegen'd threshold levenshtein verifies.
    The oracle brute-forces the same pair predicate; pair-set equality IS
    the blocking-completeness check."""
    from iatlas_cbioportal_export_spark.operators.entity import (
        fuzzy_join_edit_distance,
    )

    cust = _t(spark, sf_dir, "customer")
    left = cust.select("c_custkey", "c_name")
    pert = cust.select(
        (F.col("c_custkey") + 1_000_000).alias("r_key"),
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
            F.concat(
                F.substring("c_name", 1, 9), F.expr("substring(c_name, 11)")
            ),
        )
        .otherwise(F.col("c_name"))
        .alias("r_name"),
    )
    return fuzzy_join_edit_distance(
        left, pert, "c_custkey", "c_name", "r_key", "r_name",
        max_distance=1,
    )


def q_dedup_span_windows(spark, sf_dir):
    """Exact substring-span dedup (Lee et al. 2022 window analogue): per
    document, the count/fraction of 6-token sliding windows whose content
    occurs in ≥ 2 distinct documents — catches shared boilerplate that
    document-level dedup misses. Window identity is the two-level portable
    Horner fold (chars → token hash → window hash), so the oracle replays
    the identical bigint arithmetic; only (id, hash) longs ever shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.duplicated_spans(docs, k=6)


def q_profile_key_skew(spark, sf_dir):
    """Shuffle-key skew histogram over events.event_type: exact per-key
    counts, parts-per-million shares, x1000 skew ratio vs the uniform
    per-key mean, and the ceil-division salting factor that
    joins.salted_join / AQE skew handling would need — the measurement
    BEFORE the remedy. One map-side-combined groupBy over the raw table;
    everything after runs on |distinct keys| rows. All-integer `div`
    arithmetic, exactly reproduced by the oracle."""
    from iatlas_cbioportal_export_spark.operators.profiling import (
        key_skew_report,
    )

    events = _t(spark, sf_dir, "events")
    return key_skew_report(events, "event_type", top_k=10, num_partitions=32)


def q_layout_compaction(spark, sf_dir):
    """Small-file compaction end-to-end: documents fragmented into 16
    dribble files (the accreting-ingest pathology), then compacted to
    ceil(total_bytes / target) files via one round-robin repartition write
    (sources/layout.py). Returns per-source counts + exact n_chars sums from the
    COMPACTED files joined with engine-side booleans (fragmented file count
    == 16, compacted file count == planned target) — content equality and
    plan conformance in one oracle-checkable surface."""
    import tempfile

    from iatlas_cbioportal_export_spark.sources.layout import (
        compact_small_files,
        list_data_files,
    )

    docs = _t(spark, sf_dir, "documents")
    frag_dir = tempfile.mkdtemp(prefix="frag_docs_")
    comp_dir = tempfile.mkdtemp(prefix="compact_docs_")
    docs.repartition(16).write.mode("overwrite").parquet(frag_dir)
    n_frag = len(list_data_files(spark, frag_dir))
    plan = compact_small_files(
        spark, frag_dir, comp_dir, target_file_bytes=256 * 1024
    )
    n_target, n_out = plan["n_target"], plan["n_output_files"]
    compacted = spark.read.parquet(comp_dir)
    return compacted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.lit(n_frag == 16).alias("fragmented_16_files"),
        F.lit(n_out == n_target).alias("compacted_to_plan"),
    )


def q_zonemap_pruning(spark, sf_dir):
    """Zone-map data skipping end-to-end: orders is written clustered on
    deterministic o_orderkey buckets (floor(key/500) — partitionBy, so the
    file→key-range map is a pure function of the data, unlike sampled range
    bounds), then the per-bucket min/max zone map is scored against the
    range predicate o_orderkey BETWEEN 600 AND 2200: the skipping decision,
    the exact qualifying rows, and the never-prune-a-matching-bucket
    structural guarantee, one map-side-combined scan. The oracle replays
    the bucket arithmetic in SQL — the layout's zone maps are
    engine-reproducible, which is the point."""
    from iatlas_cbioportal_export_spark.sources.layout import (
        write_bucket_clustered,
        zone_map_pruning_report,
    )

    import tempfile

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="zonemap_orders_")
    write_bucket_clustered(orders, path, "o_orderkey", 500)
    return zone_map_pruning_report(
        spark, path, "o_orderkey", 600, 2200
    ).orderBy("zm_bucket")


def q_multimodal_binary_ingest(spark, sf_dir):
    """binaryFile-source ingestion: a 60-doc slice of the corpus is dumped
    as one UTF-8 payload file per doc (the object-store media-dump shape),
    re-ingested via the binaryFile source, ids parsed from filenames, and
    checked content-exactly — (doc_id, n_bytes, text_match). The oracle
    recomputes byte lengths from the table (encode → octet_length), so a
    truncated or re-encoded payload breaks the hash."""
    import tempfile

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        ingest_binary_files,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    dump = tempfile.mkdtemp(prefix="mm_ingest_")
    for r in docs.select("doc_id", "text").collect():  # 60 driver writes
        with open(os.path.join(dump, f"doc_{r['doc_id']}.txt"), "wb") as fh:
            fh.write(r["text"].encode("utf-8"))
    files = ingest_binary_files(spark, dump, "*.txt")
    parsed = files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.col("content").cast("string").alias("__decoded"),
    )
    return (
        parsed.join(docs.select("doc_id", "text"), on="doc_id")
        .select(
            "doc_id",
            "n_bytes",
            (F.col("__decoded") == F.col("text")).alias("text_match"),
        )
        .orderBy("doc_id")
    )


def q_parquet_schema_evolution(spark, sf_dir):
    """Schema-drift ingestion: two parquet generations of the documents
    table — v1 without, v2 with a `quality` column — read as ONE dataset
    via mergeSchema; v1 rows surface NULL quality (never a read error, and
    v2's column order does not leak into v1). The oracle unions the two
    generations with an explicit NULL. At 100 TB schema evolution is a
    footer-merge decision, not a rewrite — exactly what this checks."""
    import tempfile

    gen_dir = tempfile.mkdtemp(prefix="schema_evo_")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    v1 = docs.filter(F.col("doc_id") % 2 == 0)
    v2 = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "quality", (F.col("n_chars") % 100).cast("long")
    )
    v1.write.mode("overwrite").parquet(os.path.join(gen_dir, "g=1"))
    v2.write.mode("overwrite").parquet(os.path.join(gen_dir, "g=2"))
    merged = spark.read.option("mergeSchema", True).parquet(
        os.path.join(gen_dir, "g=1"), os.path.join(gen_dir, "g=2")
    )
    return merged.select(
        "doc_id", "lang", "source", "n_chars", "quality"
    ).orderBy("doc_id")


def q_snapshot_diff(spark, sf_dir):
    """Table-version diff: orders vs a deterministically mutated successor
    (keys ≡ 0 mod 97 deleted, keys ≡ 0 mod 101 repriced, keys < 100
    re-appended at a +10M offset) → one row per changed key labeled added/removed/changed via
    ONE full-outer join with null-safe column comparison (no hashing, so
    any engine agrees; NULL↔NULL is not a change)."""
    from iatlas_cbioportal_export_spark.operators.joins import snapshot_diff

    old = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    mx = 10_000_000  # fresh-key offset, disjoint from every SF's keyspace
    new = (
        old.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") < 100).select(
                (F.col("o_orderkey") + mx).alias("o_orderkey"),
                "o_custkey",
                "o_totalprice",
                "o_orderstatus",
            )
        )
    )
    return snapshot_diff(old, new, ["o_orderkey"]).orderBy("o_orderkey")


def q_events_resample_ffill(spark, sf_dir):
    """Hourly panel with forward fill over a 40-user slice: per (user,
    hour-of-global-span) the last observed value at-or-before the hour
    (struct-max tiebreak, engine-deterministic) and the hour's own event
    count. One corpus shuffle (the per-bucket groupBy); the grid and fill
    are panel-sized."""
    from iatlas_cbioportal_export_spark.streaming.events import resample_ffill

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return resample_ffill(ev).orderBy("user_id", "bucket_ts")


def q_sketch_bitmap_distinct(spark, sf_dir):
    """Exact mergeable-bitmap distinct count of l_orderkey per return flag:
    word = key div 64, OR-folded masks, sum(bit_count) — at most
    keyspace/64 combiner-reduced longs shuffle per group regardless of
    input rows, vs count(distinct)'s repartition of every occurrence. The
    oracle is plain COUNT(DISTINCT) — the bitmap is exact, that's the
    point."""
    from iatlas_cbioportal_export_spark.operators.sketch import bitmap_distinct

    li = _t(spark, sf_dir, "lineitem")
    return bitmap_distinct(li, "l_orderkey", ["l_returnflag"]).orderBy(
        "l_returnflag"
    )


def q_text_inverted_index(spark, sf_dir):
    """Retrieval-index construction: per term surviving the document-
    frequency gates (2 ≤ df ≤ 10% of docs — the stopword-postings OOM
    guard applied BEFORE lists assemble), the sorted posting list of doc
    ids containing the word BIGRAM (phrase retrieval; the synthetic
    unigram vocab is ~31 terms, bigrams give a real df spread, and both
    gates bite). Deterministic via sort_array, so the oracle value-hash
    covers the array payloads."""
    from iatlas_cbioportal_export_spark.operators.text import inverted_index

    docs = _t(spark, sf_dir, "documents")
    idx = inverted_index(docs, min_df=2, max_df_ratio=0.1, ngram=2)
    # postings rendered as a canonical CSV string: raw array columns
    # stringify differently under Arrow vs row-based collection (numpy
    # vs list repr), which breaks engine-agnostic value comparison
    return idx.select(
        "term",
        "df",
        F.array_join(
            F.transform("postings", lambda x: x.cast("string")), ","
        ).alias("postings_csv"),
    ).orderBy("term")


def q_text_quality_classifier(spark, sf_dir):
    """Fixed-literal-linear-model quality gate (the fasttext-classifier
    role, engine-portable): four interpretable features, literal weights,
    sigmoid, keep decision — a 100% narrow plan that runs at scan speed
    next to the other curation gates. Features are rounded before the
    dot product so the oracle replays bit-equal doubles."""
    from iatlas_cbioportal_export_spark.operators.text import quality_classifier

    docs = _t(spark, sf_dir, "documents")
    return quality_classifier(docs).orderBy("doc_id")


def q_sketch_heavy_hitters(spark, sf_dir):
    """Misra-Gries heavy hitters over the corpus token stream (k=30): for
    every TRUE heavy token (exact frequency > n/31), the deterministic MG
    contract booleans — found_by_sketch (every f > n/(k+1) item survives)
    and within_bound (0 ≤ exact − est ≤ n/(k+1)) — next to the exact count.
    The raw counter values are partitioning-defined, so the gate, not the
    counters, is the oracle surface (the sketch_accuracy_gate pattern)."""
    from iatlas_cbioportal_export_spark.functions.text import tokens
    from iatlas_cbioportal_export_spark.operators.sketch import (
        heavy_hitters_gate,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("token"))
    return heavy_hitters_gate(toks, "token", k=30)


def q_sim_mips_topk(spark, sf_dir):
    """Exact maximum-inner-product top-10 for 5 query vectors — the
    dot-product-trained dual-encoder retrieval scoring where cosine
    normalization would REORDER results (document norms carry learned
    importance). Broadcast query side, sequential-fold JVM scoring,
    no-shuffle partial top-k; mips_augment reduces large-|Q| MIPS to the
    cosine ANN paths (tested in test_similarity.py)."""
    from iatlas_cbioportal_export_spark.operators.similarity import mips_topk

    emb = _t(spark, sf_dir, "embeddings")
    return mips_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


def q_text_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary-growth curve at nested 25/50/75/100% id-hash
    corpus samples: is the corpus still yielding new vocabulary, or
    saturated? One token-dictionary aggregate serves ALL fractions
    (groupBy(token).min(sample_bucket)); fractions are columns of a 1-row
    conditional aggregate, unpivoted — adding curve points never re-scans
    the corpus."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.vocabulary_growth(docs, fractions=(0.25, 0.5, 0.75, 1.0))


def q_sample_mixture_weights(spark, sf_dir):
    """Corpus mixture weights per (source, lang) — the data-mixing step of
    a training pipeline: temperature-2 sampling weights (∝ sqrt(tokens),
    the one engine-portable temperature: sqrt is IEEE-correctly-rounded,
    pow is libm-dependent), quantized to integer micro-weights and
    normalized with exact integral DIV into ppm shares and a 10^12-token
    budget split. One combiner-reduced groupBy + a broadcast 1-row total;
    every output value is integer-exact."""
    from iatlas_cbioportal_export_spark.operators.sampling import (
        mixture_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    return mixture_weights(
        docs, ["source", "lang"], "n_chars", target_tokens=10**12
    ).orderBy("source", "lang")


def q_curation_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit (round 6) — the privacy gate before
    releasing/training on tabular records: customers bucketed into
    deliberately fine quasi-identifier classes (nation, market segment,
    custkey%20) are audited at k=3 with account-balance sign as the
    sensitive attribute; classes smaller than k or with a single
    sensitive value are reported. Bucket 7 plants an ALL-NULL sensitive
    column, pinning the round-7 fix: NULL is a distinct sensitive state
    (l_diversity = 1 → reported), where bare countDistinct would score 0
    and silently pass the homogeneous class. ONE map-side-combined
    groupBy — only (quasi tuple, count, distinct-count) rows shuffle; the
    violating tail is bounded by the class count, and skewed tuples land
    in the NON-violating side by construction."""
    from iatlas_cbioportal_export_spark.operators.curation import (
        k_anonymity_report,
    )

    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        (F.col("c_custkey") % 20).alias("bucket"),
        F.when(
            F.col("c_custkey") % 20 != 7, F.col("c_acctbal") > 0
        ).alias("positive_bal"),
    )
    return k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment", "bucket"], "positive_bal", k=3
    )


def q_meta_consistency(spark, sf_dir):
    """Meta-file ↔ bundle cross-consistency (round 6) — the study-descriptor
    tier of cBioPortal validateData.py, completing the native validator
    next to bundle_cross_checks (id level): synthetic metas derived from
    nation (study-id deviants at n_nationkey%7==3, an undefined
    MRNA_EXPRESSION/MAF datatype pair at %4==3, stable_id collisions via
    %10, data files missing from the bundle at %5==2) and a bundle listing
    (nation-named data files minus the planted gaps, five orphan
    data_extra_* files from region, plus the six reference-required
    files). Every join broadcasts KB-sized descriptor tables; the oracle
    replays all six violation counts closed-form."""
    from iatlas_cbioportal_export_spark.operators.validation import (
        meta_consistency_checks,
    )

    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    metas = n.select(
        F.concat(F.lit("meta_"), F.col("n_name")).alias("meta_name"),
        F.when(k % 7 == 3, F.lit("iatlas_y"))
        .otherwise(F.lit("iatlas_x"))
        .alias("cancer_study_identifier"),
        F.element_at(
            F.array(
                F.lit("CLINICAL"), F.lit("MUTATION_EXTENDED"),
                F.lit("MRNA_EXPRESSION"), F.lit("MRNA_EXPRESSION"),
            ),
            (k % 4 + 1).cast("int"),
        ).alias("genetic_alteration_type"),
        F.element_at(
            F.array(
                F.lit("PATIENT_ATTRIBUTES"), F.lit("MAF"),
                F.lit("CONTINUOUS"), F.lit("MAF"),
            ),
            (k % 4 + 1).cast("int"),
        ).alias("datatype"),
        F.concat(F.lit("sid_"), (k % 10).cast("string")).alias("stable_id"),
        F.concat(F.lit("data_"), F.col("n_name"), F.lit(".txt")).alias(
            "data_filename"
        ),
    )
    from iatlas_cbioportal_export_spark.operators.validation import (
        REQUIRED_BUNDLE_FILES,
    )

    bundle = (
        n.filter(k % 5 != 2)
        .select(
            F.concat(F.lit("data_"), F.col("n_name"), F.lit(".txt")).alias(
                "filename"
            )
        )
        .unionAll(
            _t(spark, sf_dir, "region").select(
                F.concat(
                    F.lit("data_extra_"), F.col("r_name"), F.lit(".txt")
                ).alias("filename")
            )
        )
        .unionAll(
            spark.createDataFrame(
                [(f,) for f in REQUIRED_BUNDLE_FILES], "filename string"
            )
        )
    )
    return meta_consistency_checks(metas, bundle)


def q_header_conformance(spark, sf_dir):
    """Clinical attribute-HEADER conformance (round 7) — the header tier of
    cBioPortal validateData.py's clinical validator: synthetic attribute
    rows derived from customer (datatype FLOAT planted at k%4==3,
    non-integer priority at k%5==2, empty display names at k%11==5,
    ragged-header files at k%6==4, duplicate column ids from the k%40
    id space folding into k%6 files, PATIENT_ID present only in files
    reached by k%50==0) are checked in ONE aggregate pass. The oracle
    rebuilds the same attribute table and recounts every rule."""
    from iatlas_cbioportal_export_spark.operators.validation import (
        clinical_header_conformance,
    )

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    k = F.col("c_custkey")
    attrs = c.select(
        F.concat(F.lit("data_clinical_"), (k % 6).cast("string")).alias(
            "filename"
        ),
        F.when(k % 50 == 0, F.lit("PATIENT_ID"))
        .otherwise(F.concat(F.lit("COL_"), (k % 40).cast("string")))
        .alias("column_id"),
        F.when(k % 11 == 5, F.lit(""))
        .otherwise(F.concat(F.lit("Attr "), k.cast("string")))
        .alias("display_name"),
        F.lit("desc").alias("description"),
        F.element_at(
            F.array(
                F.lit("STRING"), F.lit("NUMBER"),
                F.lit("BOOLEAN"), F.lit("FLOAT"),
            ),
            (k % 4 + 1).cast("int"),
        ).alias("datatype"),
        F.when(k % 5 == 2, F.lit("high"))
        .otherwise((k % 10).cast("string"))
        .alias("priority"),
        (k % 6 != 4).alias("arity_ok"),
    )
    return clinical_header_conformance(attrs)


def q_sample_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (round 6) — the GPT-style
    batching step: documents concatenated in doc_id order into one global
    token stream, sliced into 256-token training sequences; output is the
    (chunk, doc) manifest with per-chunk offsets. The global exclusive
    prefix sum runs as the two-phase bucketed cumsum (NO single-partition
    window over the corpus — only the KB-bounded bucket-totals table sees
    an unpartitioned window); chunk expansion is sequence/explode
    JVM-side. Offsets are pure integer arithmetic over whitespace token
    counts, so the DuckDB oracle replays the manifest exactly."""
    from iatlas_cbioportal_export_spark.functions import text as T
    from iatlas_cbioportal_export_spark.operators.sampling import (
        pack_sequences,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(T.tokens("text")).cast("long").alias("n_tokens")
    )
    return pack_sequences(
        docs, "n_tokens", "doc_id", seq_len=256, bucket_width=1_000
    )


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition metrics per document (Rae et al. 2021
    §A1.1): character mass of the most-repeated word 2-gram and of all
    duplicated word 3-grams, integer-ppm exact, top-gram tie-broken by
    (count desc, gram asc) via one min-struct. Token arrays bind once per
    n; only combiner-reduced (doc, gram, count) rows shuffle."""
    from iatlas_cbioportal_export_spark.operators.text import (
        repetition_metrics,
    )

    docs = _t(spark, sf_dir, "documents")
    return repetition_metrics(docs).orderBy("doc_id")


def q_eval_confusion(spark, sf_dir):
    """Per-class confusion-matrix report (precision/recall/F1, integer-ppm
    via division-free integral forms) of the stopword-vote language
    identifier against the documents table's lang labels — the
    classification-eval leg next to eval_auc (ranking) and
    eval_calibration (probability quality). Classes are the union of
    predicted and actual labels; never-predicted classes surface with NULL
    precision rather than vanishing."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        confusion_matrix_report,
    )
    from iatlas_cbioportal_export_spark.operators.text import language_id

    docs = _t(spark, sf_dir, "documents")
    pred = language_id(docs)
    joined = pred.join(docs.select("doc_id", "lang"), "doc_id")
    return confusion_matrix_report(joined, "predicted_lang", "lang").orderBy(
        "class"
    )


def q_dedup_containment(spark, sf_dir):
    """EXACT directed containment join over word 5-gram shingle sets —
    the decontamination shape Jaccard misses: 80-char excerpts planted as
    'benchmark items' (doc_id+1e6, every 50th doc) must surface inside
    their source documents at containment ≈ 1 while Jaccard against the
    full doc is tiny. Prefix filter on the a-side rarest shingles bounds
    candidates; verification is exact array_intersect with an integer
    micro-unit gate."""
    from iatlas_cbioportal_export_spark.operators.dedup import (
        containment_join,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.substring("text", 1, 80).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(bench)
    return containment_join(corpus, threshold=0.9, exact=True).orderBy(
        "id_a", "id_b"
    )


def q_dedup_containment_capped(spark, sf_dir):
    """The DEFAULT hot-shingle-capped path of containment_join under the
    driver gate (the exact path is dedup_containment): every corpus doc
    gets a shared boilerplate footer whose internal 5-gram shingles have
    df = n_docs (way past the 5% cap) and are dropped from candidate
    generation; a footer-ONLY document — contained at C=1 in every single
    doc, the quadratic blow-up the cap exists to fence — surfaces zero
    pairs, while the planted excerpt→source pairs ride their rare
    shingles through the cap unharmed. The capped result is provably
    'pairs with C ≥ t on the FULL arrays that share ≥1 kept shingle'
    (the prefix over kept tokens covers every kept shared token), which
    is exactly what the oracle replays."""
    from iatlas_cbioportal_export_spark.operators.dedup import (
        containment_join,
    )

    footer = (
        "common legal boilerplate footer applies to every document in "
        "this corpus"
    )
    docs = _t(spark, sf_dir, "documents")
    body = docs.select(
        "doc_id", F.concat("text", F.lit(" " + footer)).alias("text")
    )
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.substring("text", 1, 80).alias("text"),
    )
    hot_only = spark.range(1).select(
        F.lit(2_000_000).alias("doc_id"), F.lit(footer).alias("text")
    )
    corpus = body.unionByName(bench).unionByName(hot_only)
    return containment_join(corpus, threshold=0.9).orderBy("id_a", "id_b")


def q_entity_golden_record(spark, sf_dir):
    """ER survivorship: each customer cluster (the original + two
    deterministically damaged copies — every 3rd mktsegment blanked, every
    5th name case-mangled on copy 1; every 4th balance digit-bumped on
    copy 2) collapses to ONE canonical record by per-field majority vote, ties
    to the smallest value. With 3 members per cluster the mode provably
    recovers the undamaged value wherever at most one copy is damaged."""
    from iatlas_cbioportal_export_spark.operators.entity import golden_record

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    base = c.select(
        k.alias("cluster_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("string").alias("balance"),
        F.col("c_mktsegment").alias("segment"),
    )
    copy1 = c.select(
        k.alias("cluster_id"),
        F.when(k % 5 == 0, F.upper("c_name")).otherwise(F.col("c_name")).alias("name"),
        F.col("c_acctbal").cast("string").alias("balance"),
        F.when(k % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )
    copy2 = c.select(
        k.alias("cluster_id"),
        F.col("c_name").alias("name"),
        F.when(
            k % 4 == 0, F.concat(F.col("c_acctbal").cast("string"), F.lit("9"))
        )
        .otherwise(F.col("c_acctbal").cast("string"))
        .alias("balance"),
        F.col("c_mktsegment").alias("segment"),
    )
    records = base.unionByName(copy1).unionByName(copy2)
    return golden_record(
        records, "cluster_id", ["name", "balance", "segment"]
    ).orderBy("cluster_id")


def q_text_cosine_capped(spark, sf_dir):
    """The DEFAULT df-capped path of cosine_similarity_pairs under the
    driver gate (the exact path is text_cosine_pairs): planted near-dup
    pairs share a rare 'zzz<k>' token, the 31-word dense base vocabulary
    exceeds the 50% df cap and is dropped from candidate generation, and
    every surviving pair's dot/cosine is verified against the FULL tf
    vectors — the oracle replays the capped candidate semantics and the
    integer threshold gate (t²=81/100) bit-for-bit."""
    from iatlas_cbioportal_export_spark.operators.text import (
        cosine_similarity_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 40 == 0)
    zzz = F.concat(F.col("text"), F.lit(" zzz"), F.col("doc_id").cast("string"))
    corpus = docs.unionByName(
        planted.select((F.col("doc_id") + 1_000_000).alias("doc_id"), zzz.alias("text"))
    ).unionByName(
        planted.select((F.col("doc_id") + 2_000_000).alias("doc_id"), zzz.alias("text"))
    )
    return cosine_similarity_pairs(corpus, threshold=0.9).orderBy(
        "doc_a", "doc_b"
    )


def q_text_nfc_normalize(spark, sf_dir):
    """REAL Unicode NFC normalization under the driver gate: every 5th doc
    carries a planted decomposed sequence ('e' + COMBINING ACUTE U+0301)
    that NFC composes to the single codepoint 'é' — the canonical pass
    that keeps exact dedup/fingerprints from treating visually identical
    strings as different documents. Output compares char lengths
    before/after, the changed flag, and the normalized tail; the oracle
    replays via DuckDB's utf8proc nfc_normalize."""
    from iatlas_cbioportal_export_spark.operators.curation import (
        nfc_normalize,
    )

    k = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            k % 5 == 0, F.concat(F.col("text"), F.lit(" cafe\u0301"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = nfc_normalize(docs)
    joined = out.join(docs, "doc_id")
    return joined.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_before"),
        F.length("text_nfc").cast("long").alias("n_chars_after"),
        (F.col("text") != F.col("text_nfc")).alias("changed"),
        F.substring("text_nfc", -4, 4).alias("tail"),
    ).orderBy("doc_id")


def q_eval_mrr(spark, sf_dir):
    """Reciprocal-rank retrieval eval of the brute-force cosine top-10:
    relevance = same-label embeddings (the labels column is the ground
    truth), so each query's first same-label neighbor's rank drives
    rr_ppm = 1e6 DIV rank — integral MRR with zero floats. Queries whose
    top-10 holds no same-label doc surface with NULL rank / rr 0. The
    oracle nests the exact cosine ranking and replays the min-rank and
    integral reciprocal."""
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        reciprocal_rank_report,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    results = sim_ops.brute_force_topk(emb, queries, k=10).withColumnRenamed(
        "vec_id", "doc_id"
    )
    q_lab = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("__ql")
    )
    relevance = (
        emb.select(F.col("vec_id").alias("doc_id"), "label")
        .join(q_lab, F.col("label") == F.col("__ql"))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id")
    )
    return reciprocal_rank_report(results, relevance).orderBy("query_id")


def q_graph_link_prediction(spark, sf_dir):
    """Common-neighbor link prediction on the part↔supplier bipartite
    graph: with max_degree=50 the high-degree supplier nodes are excluded
    from candidate generation (the hub cap — Adamic-Adar's insight as a
    hard threshold), so the predicted links are supplier-supplier pairs
    that share parts. Exact common counts, full-degree Jaccard ppm via
    integral DIV, existing edges anti-joined away, deterministic top-200.
    The oracle replays the cap, the counts and the ordering."""
    from iatlas_cbioportal_export_spark.operators.graph import (
        link_prediction,
    )

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 1_000_000).alias("dst"),
    ).distinct()
    return link_prediction(edges, top_k=200, max_degree=50)


def q_sketch_kmv_distinct(spark, sf_dir):
    """KMV (bottom-k) distinct-count sketch per order priority — the third
    mergeable cardinality estimator (register-max HLL, exact bitmap, now
    bottom-k): k=256 smallest portable scrambled hashes of o_custkey per
    group; estimate = (k-1)·p // h_(k) in exact integers, exact when the
    group has < k distinct hashes. The oracle replays the fold, the
    scramble rounds, the bottom-k window and the integral estimate."""
    from iatlas_cbioportal_export_spark.operators.sketch import kmv_distinct

    orders = _t(spark, sf_dir, "orders")
    return kmv_distinct(
        orders, "o_custkey", k=256, group_cols=["o_orderpriority"]
    ).orderBy("o_orderpriority")


def q_curation_pii_pseudonyms(spark, sf_dir):
    """Key-preserving PII pseudonymization map (the GDPR-shaped complement
    to redaction): planted emails (every 7th doc, key doc_id%50 so values
    REPEAT across docs and exercise n_docs), IPv4s (every 11th) and phone
    numbers (every 13th) are extracted per kind, reduced to the distinct
    (kind, value) dictionary with doc/occurrence counts, and assigned the
    portable Horner-fingerprint pseudonym — same value, same token, any
    engine, any partitioning. The oracle replays the regexes, the counts
    and the fingerprint fold."""
    from iatlas_cbioportal_export_spark.operators.curation import (
        pii_pseudonym_map,
    )

    k = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                k % 7 == 0,
                F.concat(
                    F.lit(" user"),
                    (k % 50).cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                k % 11 == 0,
                F.concat(F.lit(" 10.0.0."), (k % 250).cast("string")),
            ).otherwise(F.lit("")),
            F.when(k % 13 == 0, F.lit(" 555-123-4567")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_pseudonym_map(docs).orderBy("kind", "value")


def q_multimodal_wav_roundtrip(spark, sf_dir):
    """REAL audio decode under the driver gate — not the fake extractor:
    deterministic PCM (s_i = ((media_id·31 + i·7) % 256) − 128, 256
    samples) is RIFF/WAV-encoded in one Arrow stage, then decoded by the
    stdlib ``wave`` parser inside extract_features(stdlib_decoder), with
    per-bucket integer mean-abs-amplitude ppm exploded to rows. The oracle
    computes the same envelope from the closed-form signal, so the
    encode→decode round trip (44-byte header + 512 PCM bytes, bucket
    arithmetic) is value-hash checked end to end. mp3/jpeg remain behind
    the honest NotImplementedError stub."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        extract_features,
        stdlib_decoder,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 200)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import io
        import struct
        import wave

        import pandas as pd

        for batch in batches:
            payloads = []
            for mid in batch["media_id"]:
                mid = int(mid)
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(
                        b"".join(
                            struct.pack("<h", ((mid * 31 + i * 7) % 256) - 128)
                            for i in range(256)
                        )
                    )
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "audio",
                    "mime_type": "audio/wav",
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    feats = extract_features(media, extractor=stdlib_decoder)
    return feats.select(
        "media_id",
        "n_bytes",
        F.posexplode("feature").alias("bucket", "amp_ppm"),
    )


def q_multimodal_image_resize(spark, sf_dir):
    """REAL image pipeline under the driver gate: deterministic 16x12 P5
    greyscale images (pixel(x,y) = (media_id*7 + y*16 + x*3) % 256) are
    netpbm-encoded in one Arrow stage, nearest-neighbour resized to 8x6 by
    resize_images (src = (2x, 2y) — integer sampling any engine replays),
    then decoded by the stdlib netpbm parser. The oracle computes the
    sampled-pixel mean from the closed-form image, so encode→resize→decode
    is value-hash checked end to end."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        extract_features,
        resize_images,
        stdlib_decoder,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 200)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        for batch in batches:
            payloads = []
            for mid in batch["media_id"]:
                mid = int(mid)
                pix = bytes(
                    (mid * 7 + y * 16 + x * 3) % 256
                    for y in range(12)
                    for x in range(16)
                )
                payloads.append(b"P5\n16 12\n255\n" + pix)
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "image",
                    "mime_type": "image/x-portable-graymap",
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    small = resize_images(media, 8, 6)
    feats = extract_features(small, extractor=stdlib_decoder)
    return feats.select(
        "media_id",
        F.element_at("feature", 1).cast("long").alias("width"),
        F.element_at("feature", 2).cast("long").alias("height"),
        F.element_at("feature", 3).alias("mean_ppm"),
    )


def q_multimodal_png_roundtrip(spark, sf_dir):
    """REAL PNG decode under the driver gate — the last multimodal codec
    the container can honestly support (stdlib zlib inflate + scanline
    unfiltering): deterministic 16x12 images (pixel c(x,y) =
    (media_id*7 + y*16 + x*3 + c*11) % 256; greyscale for even ids, RGB
    for odd) are PNG-encoded in one Arrow stage with the scanline filter
    CYCLING ALL FIVE TYPES (None/Sub/Up/Average/Paeth, y%5), then decoded
    by the stdlib PNG parser. The oracle computes the channel-0 mean from
    the closed-form pixel formula, so deflate→inflate→unfilter is
    value-hash checked end to end across every filter type."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        extract_features,
        png_encode,
        stdlib_decoder,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 200)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        for batch in batches:
            payloads = []
            for mid in batch["media_id"]:
                mid = int(mid)
                channels = 1 if mid % 2 == 0 else 3
                pix = bytes(
                    (mid * 7 + y * 16 + x * 3 + c * 11) % 256
                    for y in range(12)
                    for x in range(16)
                    for c in range(channels)
                )
                payloads.append(
                    png_encode(pix, 16, 12, channels=channels,
                               filters=(0, 1, 2, 3, 4))
                )
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "image",
                    "mime_type": "image/png",
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    feats = extract_features(media, extractor=stdlib_decoder)
    return feats.select(
        "media_id",
        F.element_at("feature", 1).cast("long").alias("width"),
        F.element_at("feature", 2).cast("long").alias("height"),
        (F.size("feature") - 2).cast("long").alias("n_channels"),
        F.element_at("feature", 3).alias("mean_c0_ppm"),
    )


def q_multimodal_zip_index(spark, sf_dir):
    """ZIP member indexing (round 7): the archive twin of the tar-shard
    index — deterministic STORED zips (2+id%3 members named
    {id:05d}.{j}.bin, sizes 100+(id·7+j·13)%90, stdlib ``zipfile`` as
    the REAL encoder) are indexed by the central-directory walker, which
    resolves data offsets through each LOCAL header (the classic
    zip-parsing trap). The oracle replays the offset arithmetic
    closed-form: local header = 30 + len(name) bytes, members
    back-to-back. Archive bytes never shuffle."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        extract_zip_index,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 30)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import io
        import zipfile

        import pandas as pd

        for batch in batches:
            payloads = []
            for mid in batch["media_id"]:
                mid = int(mid)
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w") as z:
                    for j in range(2 + mid % 3):
                        zi = zipfile.ZipInfo(
                            f"{mid:05d}.{j}.bin",
                            date_time=(1980, 1, 1, 0, 0, 0),
                        )
                        size = 100 + (mid * 7 + j * 13) % 90
                        z.writestr(zi, bytes([j % 256]) * size)
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "shard",
                    "mime_type": "application/zip",
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    return extract_zip_index(media).select(
        "media_id", "name", "method", "size", "compressed_size",
        "data_offset",
    )


def q_multimodal_zip64_index(spark, sf_dir):
    """ZIP64 central-directory indexing (round 8): the >4GB / >65k-member
    archive layout a 100 TB corpus shard actually hits. Archives are
    hand-assembled with the ZIP64 EOCD locator + record and per-entry
    0x0001 extra fields carrying the real usize/csize/local-header offset
    behind 0xFFFFFFFF sentinels — the routing ``zip_index`` must take
    (stdlib ``zipfile`` won't emit ZIP64 structures for small archives,
    so the builder writes the format directly). Member naming/sizing is
    identical to the r7 ``multimodal_zip_index`` query, so the oracle
    replays the same closed-form offset arithmetic: local header =
    30 + len(name) bytes, members back-to-back."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        extract_zip_index,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 30)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        def build(mid: int) -> bytes:
            out = bytearray()
            centrals = []
            for j in range(2 + mid % 3):
                name = f"{mid:05d}.{j}.bin".encode()
                data = bytes([j % 256]) * (100 + (mid * 7 + j * 13) % 90)
                lho = len(out)
                out += b"PK\x03\x04" + (45).to_bytes(2, "little")
                out += b"\x00\x00" + (0).to_bytes(2, "little")
                out += bytes(4) + bytes(4)
                out += len(data).to_bytes(4, "little") * 2
                out += len(name).to_bytes(2, "little")
                out += (0).to_bytes(2, "little")
                out += name + data
                extra = (
                    (0x0001).to_bytes(2, "little")
                    + (24).to_bytes(2, "little")
                    + len(data).to_bytes(8, "little") * 2
                    + lho.to_bytes(8, "little")
                )
                c = bytearray()
                c += b"PK\x01\x02" + (45).to_bytes(2, "little") * 2
                c += b"\x00\x00" + (0).to_bytes(2, "little")
                c += bytes(4) + bytes(4)
                c += (0xFFFFFFFF).to_bytes(4, "little") * 2
                c += len(name).to_bytes(2, "little")
                c += len(extra).to_bytes(2, "little")
                c += (0).to_bytes(2, "little")
                c += bytes(4) + bytes(4)
                c += (0xFFFFFFFF).to_bytes(4, "little")
                c += name + extra
                centrals.append(bytes(c))
            cd_off = len(out)
            for c in centrals:
                out += c
            cd_size = len(out) - cd_off
            z64 = len(out)
            out += b"PK\x06\x06" + (44).to_bytes(8, "little")
            out += (45).to_bytes(2, "little") * 2 + bytes(8)
            out += len(centrals).to_bytes(8, "little") * 2
            out += cd_size.to_bytes(8, "little")
            out += cd_off.to_bytes(8, "little")
            out += b"PK\x06\x07" + bytes(4) + z64.to_bytes(8, "little")
            out += (1).to_bytes(4, "little")
            out += b"PK\x05\x06" + bytes(4)
            out += (0xFFFF).to_bytes(2, "little") * 2
            out += (0xFFFFFFFF).to_bytes(4, "little") * 2
            out += (0).to_bytes(2, "little")
            return bytes(out)

        for batch in batches:
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "shard",
                    "mime_type": "application/zip",
                    "payload": [build(int(m)) for m in batch["media_id"]],
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    return extract_zip_index(media).select(
        "media_id", "name", "method", "size", "compressed_size",
        "data_offset",
    )


def q_dedup_containment_word(spark, sf_dir):
    """Word-token containment (round 8): ``containment_join`` in its
    ``ngram_n=None`` short-text/set-valued mode, ``exact=True`` (no df
    cap) so the oracle replays plain all-pairs distinct-word containment.
    Probes are 60-char excerpts of every 21st doc: an excerpt's distinct
    words are (modulo the cut word) a subset of its source's, so true
    containments surface at t=0.8 while unrelated docs stay below. This
    pins the round-8 hash-first candidate path end-to-end in word mode
    (token-hash postings, PPJoin+ positional filter, candidate-only
    string verification)."""
    from iatlas_cbioportal_export_spark.operators.dedup import (
        containment_join,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    body = docs.select("doc_id", "text")
    probes = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.substring("text", 1, 60).alias("text"),
    )
    corpus = body.unionByName(probes)
    return containment_join(
        corpus, threshold=0.8, ngram_n=None, exact=True
    ).orderBy("id_a", "id_b")


def q_f9_remove_pandas_float(spark, sf_dir):
    """F9 under the driver gate (round 8 — previously documented as dead
    code in the reference, now implemented natively for completeness):
    render a small ordered frame as TSV text with the reference's blunt
    textual .0 strip (utils.py:133-153) and return the whole document as
    one scalar row; the oracle rebuilds the identical text with
    string_agg + replace. Driver-side by design — the reference
    materializes the frame into one string for KB-scale artifacts."""
    from iatlas_cbioportal_export_spark.sources.sinks import (
        tsv_text_remove_pandas_float,
    )

    frame = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 50)
        .select(
            "c_custkey",
            (F.col("c_custkey") % 5).cast("double").alias("f"),
            "c_name",
        )
        .orderBy("c_custkey")
    )
    text = tsv_text_remove_pandas_float(frame, header=True)
    return spark.createDataFrame([(text,)], "rendered string")


def q_maf_error_report(spark, sf_dir):
    """r9: the error side-band as a first-class output. The reference
    routes failed annotations into a separate error report
    (``maf.py:133-178``: per-chunk ``data_mutations_error_report_{i}.txt``
    concatenated, UNfiltered by the chrM postprocessing); here the FAILED
    rows (null variant key → Annotation_Status FAILED, every annotation
    NULL) split from the annotated frame via ``split_annotation_errors``
    and carry their identifying columns. Whole-frame semantics pinned
    against the actual reference assembly by the r9 differential
    (tests/test_reference_differential_maf.py::test_error_report_assembly
    _differential)."""
    ann = maf_ops.annotate(_maf_shaped(spark, sf_dir))
    _ok, failed = maf_ops.split_annotation_errors(ann)
    return failed.select(
        "variant_id",
        "Chromosome",
        "Start_Position",
        "Tumor_Sample_Barcode",
        "Annotation_Status",
        "HGVSp_Short",
    )


def q_s5_float_g_format(spark, sf_dir):
    """r9: the reference's artifact float rendering — C ``%.12g``
    (``to_csv(float_format="%.12g")``, ``clinical.py:585-620``) — as a
    value-hash-checked query over lineitem doubles: an integral double
    must render bare ("17", not "17.0") and a long fraction must round to
    12 significant digits, exactly as the oracle's C-style ``printf``
    does. The formatter is the Arrow-batched ``pandas_udf`` the bundle
    writer uses (``sources/sinks.py:with_pandas_float_format``), so the
    driver gate covers the byte-parity path itself."""
    from iatlas_cbioportal_export_spark.sources.sinks import (
        with_pandas_float_format,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("qty_g"),
        (F.col("l_extendedprice").cast("double") / F.lit(3.0)).alias(
            "frac_g"
        ),
    )
    return with_pandas_float_format(li)


def q_multimodal_image_dhash(spark, sf_dir):
    """Perceptual image dedup (round 8): planted 16x12 P6 duplicate
    groups (content key = media_id % 12; horizontal slope 3+8*key so
    groups differ STRUCTURALLY — dHash is brightness-shift invariant by
    design) are hashed by the integer-exact dHash (9x8 nearest-neighbour
    grid, BT.601 fixed-point luma, 64 comparison bits split into two
    32-bit halves) and grouped. The oracle replays the entire hash
    closed-form — sampling indices, luma, comparisons, bit packing — and
    groups by the recomputed hash, so even accidental cross-key hash
    collisions stay consistent. Pixels never shuffle; only 64-bit
    sketches do."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        dhash_duplicate_groups,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 96)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        def ppm(key: int) -> bytes:
            w, h = 16, 12
            pix = bytearray()
            for y in range(h):
                for x in range(w):
                    base = y * 16 + x * (3 + 8 * key)
                    pix += bytes(
                        [base % 256, (base + 11) % 256, (base + 22) % 256]
                    )
            return b"P6\n%d %d\n255\n" % (w, h) + bytes(pix)

        for batch in batches:
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "image",
                    "mime_type": "image/x-portable-pixmap",
                    "payload": [ppm(int(m) % 12) for m in batch["media_id"]],
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    # member list as CSV — the repo's array-column oracle pattern
    # (plain-session toPandas stringifies lists and DuckDB stringifies
    # numpy arrays DIFFERENTLY, so raw array columns can't value-hash)
    return dhash_duplicate_groups(media).select(
        "dhash_hi",
        "dhash_lo",
        F.concat_ws(",", "member_ids").alias("member_ids_csv"),
        "n_copies",
    )


def q_multimodal_vad_segments(spark, sf_dir):
    """Energy-VAD speech segmentation (round 8): deterministic 16-bit
    mono PCM with block-aligned speech/silence patterns — even ids use
    3-speech-1-silence blocks (exercises the consecutive-frame MERGE),
    odd ids alternate (isolated segments) — segmented by the integer
    frame-energy VAD. The oracle replays the segment starts/lengths
    closed-form from the planting arithmetic. Audio bytes never shuffle;
    downstream speech selection range-reads (start_ms, duration_ms)."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        extract_vad_segments,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 200)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import io
        import struct
        import wave

        import pandas as pd

        def synth(mid: int) -> bytes:
            nb = 2 + mid % 3  # frames per block
            amp = 300 + (mid * 37) % 500
            frame_len = 160  # 20ms at 8kHz
            samples = []
            for b in range(8):
                speech = (b % 4 != 3) if mid % 2 == 0 else ((b + mid) % 2 == 0)
                samples += [amp if speech else 0] * (nb * frame_len)
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(8000)
                w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
            return buf.getvalue()

        for batch in batches:
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "audio",
                    "mime_type": "audio/wav",
                    "payload": [synth(int(m)) for m in batch["media_id"]],
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    return extract_vad_segments(media, frame_ms=20, threshold=200)


def q_multimodal_bmp_roundtrip(spark, sf_dir):
    """REAL BMP decode under the driver gate (round 7): deterministic
    16x12 images (pixel c(x,y) = (media_id*7 + y*16 + x*3 + c*11) % 256;
    8-bit greyscale palette for even ids, 24-bit RGB for odd) are
    BMP-encoded in one Arrow stage — bottom-up rows, BGR order, 4-byte
    row padding, the format's three classic traps — then decoded by the
    stdlib parser. Same oracle shape as the PNG round trip: channel-0
    mean ppm recomputed closed-form."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        bmp_encode,
        extract_features,
        stdlib_decoder,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 170)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        for batch in batches:
            payloads = []
            for mid in batch["media_id"]:
                mid = int(mid)
                channels = 1 if mid % 2 == 0 else 3
                pix = bytes(
                    (mid * 7 + y * 16 + x * 3 + c * 11) % 256
                    for y in range(12)
                    for x in range(16)
                    for c in range(channels)
                )
                payloads.append(bmp_encode(pix, 16, 12, channels))
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "image",
                    "mime_type": "image/bmp",
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    feats = extract_features(media, extractor=stdlib_decoder)
    return feats.select(
        "media_id",
        F.element_at("feature", 1).cast("long").alias("width"),
        F.element_at("feature", 2).cast("long").alias("height"),
        (F.size("feature") - 2).cast("long").alias("n_channels"),
        F.element_at("feature", 3).alias("mean_c0_ppm"),
    )


def q_multimodal_jpeg_roundtrip(spark, sf_dir):
    """REAL baseline JPEG decode under the driver gate (round 7) — the
    full T.81 entropy path (Annex K Huffman tables, dequantize, IDCT),
    not just the marker layer: deterministic 16x16 images made of solid
    8x8 tiles (tile value (media_id*13 + by*2 + bx*5 + 37) % 256;
    grayscale for even ids, gray-in-RGB 4:4:4 for odd; restart markers
    every MCU for ids % 3 == 0) are JPEG-encoded at quality 100 in one
    Arrow stage and decoded by the stdlib+numpy baseline decoder. At
    quality 100 the quantization tables are all ones, a solid block
    carries only DC = 8·(v-128), and the DC-only IDCT path reproduces v
    EXACTLY — so the oracle replays every pixel closed-form and the
    Huffman coder, byte stuffing, RSTn handling, and (for odd ids) the
    YCbCr transform are value-hash checked end to end. Payload bytes
    never shuffle (encode and decode live in the same Arrow stages)."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.jpeg_codec import (
        jpeg_encode,
    )
    from iatlas_cbioportal_export_spark.operators.multimodal import (
        extract_features,
        stdlib_decoder,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 200)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        for batch in batches:
            payloads = []
            for mid in batch["media_id"]:
                mid = int(mid)
                channels = 1 if mid % 2 == 0 else 3
                pix = bytes(
                    v
                    for y in range(16)
                    for x in range(16)
                    for v in [(mid * 13 + (y // 8) * 2 + (x // 8) * 5 + 37) % 256]
                    * channels
                )
                payloads.append(
                    jpeg_encode(
                        pix, 16, 16, channels=channels, quality=100,
                        restart_interval=1 if mid % 3 == 0 else 0,
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "image",
                    "mime_type": "image/jpeg",
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    feats = extract_features(media, extractor=stdlib_decoder)
    return feats.select(
        "media_id",
        F.element_at("feature", 1).cast("long").alias("width"),
        F.element_at("feature", 2).cast("long").alias("height"),
        (F.size("feature") - 2).cast("long").alias("n_channels"),
        F.element_at("feature", 3).alias("mean_c0_ppm"),
    )


def q_multimodal_container_metadata(spark, sf_dir):
    """REAL container-metadata extraction across the codec-stubbed formats
    (round 6): deterministic VALID mp4 / mp3 / jpeg payloads (modality by
    media_id%3; mp4 mvhd timescale=1000 duration=1000+id·37 with 1+id%5
    traks; mp3 2+id%5 MPEG-1 Layer III frames at 128kbps/44.1kHz behind an
    ID3v2 tag; jpeg SOF0 (16+id%7)×(12+(3·id)%5) 3-component) are encoded
    in one Arrow stage and parsed by the stdlib bitstream walkers
    (ISO-BMFF box walk / frame-header walk with syncsafe ID3 skip / T.81
    marker walk) in extract_container_metadata — the audit/filter hop a
    media pipeline runs BEFORE any decode; payload bytes never shuffle.
    The oracle computes the same fields closed-form, so box framing,
    frame stepping (144·kbps·1000//rate), syncsafe skip, and marker
    arithmetic are all value-hash checked. Pixel/audio DECODE for these
    formats remains honestly stubbed (needs codec libs)."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        extract_container_metadata,
        jpeg_encode_headers,
        mp3_encode,
        mp4_encode,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 180)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        for batch in batches:
            modalities, mimes, payloads = [], [], []
            for mid in batch["media_id"]:
                mid = int(mid)
                if mid % 3 == 0:
                    modalities.append("video")
                    mimes.append("video/mp4")
                    payloads.append(
                        mp4_encode(1000, 1000 + mid * 37, n_tracks=1 + mid % 5)
                    )
                elif mid % 3 == 1:
                    modalities.append("audio")
                    mimes.append("audio/mpeg")
                    payloads.append(
                        mp3_encode(2 + mid % 5, 128, 44100,
                                   id3_payload=b"t" * (100 + mid % 50))
                    )
                else:
                    modalities.append("image")
                    mimes.append("image/jpeg")
                    payloads.append(
                        jpeg_encode_headers(16 + mid % 7, 12 + (3 * mid) % 5, 3)
                    )
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": modalities,
                    "mime_type": mimes,
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    return extract_container_metadata(media).select(
        "media_id", "container", "brand", "width", "height",
        "duration_ms", "sample_rate", "n_tracks", "n_frames",
    )


def q_multimodal_mp4_samples(spark, sf_dir):
    """REAL ISO-BMFF demux (round 7): the sample-table layer UNDER frame
    sampling. Deterministic single-track mp4s (3+id%5 samples; size
    50+(id·7+i·13)%40; stts runs 512-then-1024; chunks of 2 via a
    compressed stsc map; stss keyframes every 2+id%3) are encoded in one
    Arrow stage and demuxed by ``mp4_sample_table`` — run-length stts
    expansion, stsc chunk mapping, stco offset walk, stss sync lookup —
    into one row per sample: the (offset, size) byte ranges + timestamps
    a video pipeline needs to read ONLY chosen frames at 100 TB. Payload
    bytes never shuffle. The oracle rebuilds every field closed-form
    (offsets/dts as prefix-sum windows), so the whole box-walk arithmetic
    is value-hash checked."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        extract_mp4_samples,
        mp4_encode_track,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 40)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        for batch in batches:
            payloads = []
            for mid in batch["media_id"]:
                mid = int(mid)
                n = 3 + mid % 5
                sizes = [50 + (mid * 7 + i * 13) % 40 for i in range(n)]
                deltas = [512 if i < n // 2 else 1024 for i in range(n)]
                spc = [2] * (n // 2) + ([1] if n % 2 else [])
                payloads.append(
                    mp4_encode_track(
                        sizes, deltas,
                        sync_every=2 + mid % 3,
                        samples_per_chunk=spc,
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "video",
                    "mime_type": "video/mp4",
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    return extract_mp4_samples(media).select(
        "media_id", "track_id", "sample_idx", "chunk_idx",
        "offset", "size", "dts", "duration", "is_sync",
    )


def q_multimodal_mp3_frames(spark, sf_dir):
    """REAL MP3 frame indexing (round 7): the audio twin of the mp4 sample
    table — deterministic MPEG-1 Layer III streams (2+id%6 frames at
    96/128/160/192 kbps by id%4, behind a 20+id%30-byte ID3v2 tag) are
    walked frame-by-frame into (offset, size, dts_ms) byte ranges that
    parallel workers could decode independently. The oracle replays the
    frame-length arithmetic (144·kbps·1000//rate) and syncsafe tag skip
    closed-form."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        extract_mp3_frames,
        mp3_encode,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 60)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        kbps_table = (96, 128, 160, 192)
        for batch in batches:
            payloads = []
            for mid in batch["media_id"]:
                mid = int(mid)
                payloads.append(
                    mp3_encode(
                        2 + mid % 6,
                        kbps_table[mid % 4],
                        44100,
                        id3_payload=b"t" * (20 + mid % 30),
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "audio",
                    "mime_type": "audio/mpeg",
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    return extract_mp3_frames(media).select(
        "media_id", "frame_idx", "offset", "size", "dts_ms", "bitrate_kbps",
    )


def q_multimodal_gif_roundtrip(spark, sf_dir):
    """REAL GIF decode under the driver gate (round 7): deterministic
    16x12 indexed images (8-color palette with channel values
    (id·5+p·7)%256 / (id·3+p·11)%256 / (p·29+id)%256; pixel index
    (id+3x+5y)%8; interlaced for odd ids) are GIF-encoded — real LZW with
    variable code width — in one Arrow stage, then decoded by the stdlib
    LZW+palette parser. The oracle recomputes the per-channel mean ppm
    closed-form from the palette/index formulas over the 192-pixel grid,
    so compress→decompress→palette-expand (and the interlace reorder) is
    value-hash checked end to end."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.gif_codec import gif_encode
    from iatlas_cbioportal_export_spark.operators.multimodal import (
        extract_features,
        stdlib_decoder,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 150)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        for batch in batches:
            payloads = []
            for mid in batch["media_id"]:
                mid = int(mid)
                palette = [
                    (
                        (mid * 5 + p * 7) % 256,
                        (mid * 3 + p * 11) % 256,
                        (p * 29 + mid) % 256,
                    )
                    for p in range(8)
                ]
                idx = bytes(
                    (mid + 3 * x + 5 * y) % 8
                    for y in range(12)
                    for x in range(16)
                )
                payloads.append(
                    gif_encode(16, 12, idx, palette, interlaced=mid % 2 == 1)
                )
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "image",
                    "mime_type": "image/gif",
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    feats = extract_features(media, extractor=stdlib_decoder)
    return feats.select(
        "media_id",
        F.element_at("feature", 1).cast("long").alias("width"),
        F.element_at("feature", 2).cast("long").alias("height"),
        F.element_at("feature", 3).alias("mean_r_ppm"),
        F.element_at("feature", 4).alias("mean_g_ppm"),
        F.element_at("feature", 5).alias("mean_b_ppm"),
    )


def q_multimodal_id3_tags(spark, sf_dir):
    """REAL ID3v2 catalog extraction (round 7): deterministic mp3 streams
    carrying ID3v2.3 (odd ids — plain frame sizes) or ID3v2.4 (even ids —
    syncsafe frame sizes) tags with UTF-8 TIT2/TPE1/TALB text frames are
    parsed by the stdlib frame walker in one Arrow stage — the catalog
    pass an audio corpus runs before any decode. The oracle rebuilds the
    planted strings closed-form, so frame-size decoding in BOTH tag
    versions is value-hash checked."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        extract_id3_tags,
        id3v2_encode,
        mp3_encode,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 160)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        for batch in batches:
            payloads = []
            for mid in batch["media_id"]:
                mid = int(mid)
                tag = id3v2_encode(
                    {
                        "TIT2": f"Track {mid}",
                        "TPE1": f"Artist {mid % 7}",
                        "TALB": f"Album {mid // 10}",
                    },
                    version=3 if mid % 2 else 4,
                )
                payloads.append(tag + mp3_encode(1, 128, 44100))
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "audio",
                    "mime_type": "audio/mpeg",
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    return extract_id3_tags(media).select(
        "media_id", "title", "artist", "album"
    )


def q_multimodal_webdataset_index(spark, sf_dir):
    """WebDataset shard indexing (round 7): multimodal training data
    ships as tar shards of (image, caption, …) member groups — this is
    the layer that turns an opaque shard into ranged-readable byte
    ranges. Deterministic USTAR shards (2+id%3 members, sizes
    300+(id·7+j·13)%400 so data blocks straddle the 512 boundary,
    stdlib ``tarfile`` as the REAL encoder) are indexed by the header
    walker; the oracle replays the 512-block arithmetic
    (offset = 512·(j+1) + Σ ceil512(prev sizes)) closed-form, so octal
    size decoding and block stepping are value-hash checked. Shard
    bytes never shuffle."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        extract_tar_index,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 30)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import io
        import tarfile

        import pandas as pd

        for batch in batches:
            payloads = []
            for mid in batch["media_id"]:
                mid = int(mid)
                buf = io.BytesIO()
                with tarfile.open(
                    fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
                ) as t:
                    for j in range(2 + mid % 3):
                        size = 300 + (mid * 7 + j * 13) % 400
                        ti = tarfile.TarInfo(f"{mid:05d}.{j}.bin")
                        ti.size = size
                        ti.mtime = 0
                        ti.uid = ti.gid = 0
                        ti.mode = 0o644
                        t.addfile(ti, io.BytesIO(bytes([j % 256]) * size))
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "shard",
                    "mime_type": "application/x-tar",
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    return extract_tar_index(media).select(
        "media_id", "name", "offset", "size", "typeflag", "mtime"
    )


def q_multimodal_keyframe_ranges(spark, sf_dir):
    """Keyframe-only byte-range rollup (round 7) — the downstream use of
    the mp4 sample table: same synthetic streams as multimodal_mp4_samples,
    demuxed, then reduced per media to what a frame-sampling reader needs
    to budget: total samples/bytes vs keyframe-only samples/bytes (the
    fraction a keyframe-only pass actually reads — at 100 TB the video
    bytes stay in object storage and ONLY these ranges are fetched). Pure
    DataFrame algebra over the demux stage; one conditional aggregate."""
    samples = q_multimodal_mp4_samples(spark, sf_dir)
    return samples.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(F.when(F.col("is_sync"), 1).otherwise(0))
        .cast("long")
        .alias("n_keyframes"),
        F.sum("size").cast("long").alias("total_bytes"),
        F.sum(F.when(F.col("is_sync"), F.col("size")).otherwise(0))
        .cast("long")
        .alias("keyframe_bytes"),
    )


def q_multimodal_audio_features(spark, sf_dir):
    """REAL audio curation features (round 7): deterministic 16-bit mono
    PCM square waves (amplitude 50+(id·13)%1000 — some below the silence
    threshold, half-period 2+id%5, 40+id%7 samples at 8 kHz) are written
    with the stdlib ``wave`` module in one Arrow stage and decoded by
    ``wav_audio_features`` into INTEGER-EXACT gating signals: peak,
    mean-abs ppm, mean-square energy, zero-crossing count, silence ppm.
    The oracle reproduces every field closed-form from the square-wave
    parameters (crossings = (n-1)//h for a block wave), so the whole
    decode+DSP path is value-hash checked."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        extract_audio_features,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 120)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import io
        import struct
        import wave

        import pandas as pd

        for batch in batches:
            payloads = []
            for mid in batch["media_id"]:
                mid = int(mid)
                amp = 50 + (mid * 13) % 1000
                half = 2 + mid % 5
                n = 40 + mid % 7
                samples = [
                    amp if (i // half) % 2 == 0 else -amp for i in range(n)
                ]
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(
                        b"".join(struct.pack("<h", s) for s in samples)
                    )
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "audio",
                    "mime_type": "audio/wav",
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    return extract_audio_features(media).select(
        "media_id", "n_samples", "sample_rate", "duration_ms", "peak",
        "mean_abs_ppm", "energy", "zero_crossings", "silence_ppm",
    )


def q_multimodal_g711_stats(spark, sf_dir):
    """REAL G.711 companded-audio decode (round 7): deterministic µ-law /
    A-law WAV files (law by id%2; 10+id%5 samples whose code bytes are
    (id·7+j·11)%256, mapped onto the exact G.711 lattice) are encoded and
    then DECODED — RIFF chunk walk + the integer-exact ITU-T expansion
    formulas, no codec library — in one Arrow stage emitting linear-PCM
    stats. The oracle replays the µ-law (bias-132 segment shift) and
    A-law (0x55 toggle) expansions closed-form in SQL, so the decode math
    itself is value-hash checked."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iatlas_cbioportal_export_spark.operators.multimodal import (
        _ALAW_TABLE,
        _MULAW_TABLE,
        g711_wav_encode,
        g711_wav_stats,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 100)
    )
    media_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("modality", StringType()),
            StructField("mime_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        for batch in batches:
            payloads = []
            for mid in batch["media_id"]:
                mid = int(mid)
                law = "mulaw" if mid % 2 == 0 else "alaw"
                table = _MULAW_TABLE if mid % 2 == 0 else _ALAW_TABLE
                n = 10 + mid % 5
                samples = [table[(mid * 7 + j * 11) % 256] for j in range(n)]
                payloads.append(g711_wav_encode(samples, 8000, law))
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": "audio",
                    "mime_type": "audio/basic",
                    "payload": payloads,
                }
            )

    media = ids.mapInPandas(encode, schema=media_schema)
    return g711_wav_stats(media).select(
        "media_id", "sample_rate", "n_samples", "sum_pcm", "min_pcm",
        "max_pcm",
    )


def q_text_trigram_backoff(spark, sf_dir):
    """Order-3 stupid-backoff LM scoring (round 7, Brants et al. 2007) —
    completes the n-gram quality-filter family (unigram, interpolated
    bigram, now trigram with backoff). The model trains on the doc_id%3!=0
    TWO-THIRDS of the corpus and scores ALL docs, so held-out docs carry
    unseen trigrams and every backoff tier (trigram ratio → α·bigram →
    α²·unigram → floor) actually fires under the oracle gate. Decimal-lane
    per-doc sums; the oracle replays the count tables and the exact
    double-arithmetic order."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    model = docs.filter(F.col("doc_id") % 3 != 0)
    return text_ops.trigram_backoff_score(docs, model=model)


def q_dedup_paragraphs(spark, sf_dir):
    """Paragraph-level exact dedup (round 7) — the C4/Dolma sub-document
    pass whole-doc dedup can't see: every doc carries a corpus-wide cookie
    banner (survives only in the first doc), a family-shared paragraph
    (doc_id//10 — survives in each family's first doc), and its own unique
    body. First corpus-order occurrence wins via a hash-partitioned window
    (no join back; text shuffles once), survivors reassemble per doc. The
    oracle replays winner selection with a window over the same paragraph
    table."""
    from iatlas_cbioportal_export_spark.operators.dedup import (
        dedup_paragraphs,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.lit("cookie notice please accept"),
            F.concat(F.lit("fam "), (d / 10).cast("long").cast("string")),
            F.concat(
                F.lit("own "), d.cast("string"), F.lit(": "),
                F.substring("text", 1, 60),
            ),
        ).alias("text"),
    )
    return dedup_paragraphs(docs)


def q_dedup_url_canonical(spark, sf_dir):
    """URL canonicalization → exact dedup, the first hop of web-corpus
    pipelines: deterministic URL variants derived from doc_id (scheme/host
    case, default :80 port, utm_*/gclid tracking params, shuffled query
    order, fragments, trailing slashes — every doc_id%5 family collapses
    to ONE canonical URL; %5==4 rows get a distinct page) are
    canonicalized JVM-side (parse_url + array_sort, no UDF) and grouped:
    keep the min doc_id per canonical URL, report cluster sizes. The
    oracle replays the canonicalization with regex parsing."""
    from iatlas_cbioportal_export_spark.operators.curation import (
        canonicalize_urls,
    )

    d = F.col("doc_id")
    fam = (d / 5).cast("long")
    variant = d % 5
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            variant == 0,
            F.concat(
                F.lit("HTTP://Example.COM:80/site/page"),
                fam.cast("string"),
                F.lit("/?utm_source=feed&b=2&a=1"),
            ),
        )
        .when(
            variant == 1,
            F.concat(
                F.lit("http://example.com/site/page"),
                fam.cast("string"),
                F.lit("?a=1&b=2#section"),
            ),
        )
        .when(
            variant == 2,
            F.concat(
                F.lit("http://EXAMPLE.com/site/page"),
                fam.cast("string"),
                F.lit("?b=2&gclid=XYZ&a=1"),
            ),
        )
        .when(
            variant == 3,
            F.concat(
                F.lit("https://example.com/site/page"),  # https ≠ http
                fam.cast("string"),
                F.lit("?a=1&b=2"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://other.org/item/"), d.cast("string")
            )
        )
        .alias("url"),
    )
    canon = canonicalize_urls(docs)
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
        .orderBy("canonical_url")
    )


def q_clinical_field_conformance(spark, sf_dir):
    """Per-field CLINICAL value checks — the clinical-file half of
    cBioPortal validateData.py next to maf_field_conformance's 17 MAF
    rules (reference shells the bundle out at validate.py:211-216; its own
    remap produces the OS/PFS vocabularies at clinical.py:403-422). The
    clinical shape derives from customer with planted violations: every
    97th PATIENT_ID carries a space, every 83rd AGE is non-numeric (every
    79th is the legal 'NA'), every 73rd boolean is 'yes' (every 71st 'na'
    is legal case-insensitively), every 67th OS_STATUS is an un-remapped
    raw '1', every 61st PFS_STATUS lacks the code prefix."""
    k = F.col("c_custkey")
    cli = _t(spark, sf_dir, "customer").select(
        F.when(k % 97 == 0, F.concat(F.lit("P "), k.cast("string")))
        .otherwise(F.concat(F.lit("P-"), k.cast("string")))
        .alias("PATIENT_ID"),
        F.when(k % 89 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("S_"), k.cast("string")))
        .alias("SAMPLE_ID"),
        F.when(k % 83 == 0, F.lit("abc"))
        .when(k % 79 == 0, F.lit("NA"))
        .otherwise((k % 500).cast("string"))
        .alias("AGE"),
        F.when(k % 73 == 0, F.lit("yes"))
        .when(k % 71 == 0, F.lit("na"))
        .otherwise(F.when(k % 2 == 0, F.lit("TRUE")).otherwise(F.lit("false")))
        .alias("MSI_STATUS"),
        F.when(k % 67 == 0, F.lit("1"))
        .otherwise(
            F.when(k % 2 == 0, F.lit("0:LIVING")).otherwise(F.lit("1:DECEASED"))
        )
        .alias("OS_STATUS"),
        F.when(k % 61 == 0, F.lit("progression"))
        .otherwise(F.lit("0:CENSORED"))
        .alias("PFS_STATUS"),
    )
    return val_ops.clinical_value_conformance(
        cli, number_cols=["AGE"], boolean_cols=["MSI_STATUS"]
    ).orderBy("check")


def q_bundle_cross_checks(spark, sf_dir):
    """Cross-FILE referential bundle validation — the validateData.py
    tier the reference only reaches via its subprocess call
    (validate.py:211-216): sample-file patients ⊆ patient file, data-file
    samples ⊆ clinical samples, case-list members ⊆ clinical samples and
    duplicate-free, patients-without-samples WARN. The bundle shape
    derives from customer/orders/lineitem with planted violations on
    coprime moduli: every o_orderkey%97 sample row points at a patient id
    the patient file never defines ('P-X…'), every l_orderkey%89 MAF
    barcode and every (o_orderkey%83 of the %3 expression slice) matrix
    sample is unknown ('S-X…'/'S-Y…'), the %5 case list gets unknown
    members at %79 and duplicated members at %73. Only DISTINCT id
    columns shuffle — data rows never move."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")

    ok_ = F.col("o_orderkey")
    patients = cust.select(
        F.concat(F.lit("P-"), F.col("c_custkey").cast("string")).alias("PATIENT_ID")
    )
    samples = orders.select(
        F.when(
            ok_ % 97 == 0,
            F.concat(F.lit("P-X"), F.col("o_custkey").cast("string")),
        )
        .otherwise(F.concat(F.lit("P-"), F.col("o_custkey").cast("string")))
        .alias("PATIENT_ID"),
        F.concat(F.lit("S-"), ok_.cast("string")).alias("SAMPLE_ID"),
    )
    lk = F.col("l_orderkey")
    maf = lineitem.select(
        F.when(lk % 89 == 0, F.concat(F.lit("S-X"), lk.cast("string")))
        .otherwise(F.concat(F.lit("S-"), lk.cast("string")))
        .alias("Tumor_Sample_Barcode")
    )
    rna = orders.filter(ok_ % 3 == 0).select(
        F.when(ok_ % 83 == 0, F.concat(F.lit("S-Y"), ok_.cast("string")))
        .otherwise(F.concat(F.lit("S-"), ok_.cast("string")))
        .alias("SAMPLE_ID")
    )
    base_members = orders.filter(ok_ % 5 == 0).select(
        F.when(ok_ % 79 == 0, F.concat(F.lit("S-UNK"), ok_.cast("string")))
        .otherwise(F.concat(F.lit("S-"), ok_.cast("string")))
        .alias("member_id")
    )
    members = base_members.unionAll(
        orders.filter((ok_ % 5 == 0) & (ok_ % 73 == 0)).select(
            F.when(ok_ % 79 == 0, F.concat(F.lit("S-UNK"), ok_.cast("string")))
            .otherwise(F.concat(F.lit("S-"), ok_.cast("string")))
            .alias("member_id")
        )
    )
    return val_ops.cross_file_referential_checks(
        patients,
        samples,
        data_files={
            "maf": (maf, "Tumor_Sample_Barcode"),
            "rna_seq": (rna, "SAMPLE_ID"),
        },
        case_lists={"sequenced": members},
    ).orderBy("check")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is load-bearing: the driver's correctness harness
    checks the FIRST 50 entries only. Since round 5 every registry entry
    has a driver-green CORRECTNESS row, so the round-11 window (the
    ``_R11_WINDOW`` list below — applied as a reorder over the full
    registry) is: re-check slots for every query whose operator path
    changed this round (graph.py sssp round sizing; dedup.py asymmetric
    deletion depth; plans/bundle.py threaded artifact chains), then
    freshness re-checks of the LONGEST-unchecked previously-green entries
    (per CORRECTNESS_r01-r10: the full remaining r3 cohort — 32 entries —
    then the oldest 15 of the r4 cohort)."""
    all_q = {
        "bundle_cross_checks": q_bundle_cross_checks,
        "multimodal_png_roundtrip": q_multimodal_png_roundtrip,
        "multimodal_jpeg_roundtrip": q_multimodal_jpeg_roundtrip,
        "multimodal_container_metadata": q_multimodal_container_metadata,
        "multimodal_mp4_samples": q_multimodal_mp4_samples,
        "multimodal_mp3_frames": q_multimodal_mp3_frames,
        "multimodal_audio_features": q_multimodal_audio_features,
        "multimodal_g711_stats": q_multimodal_g711_stats,
        "multimodal_keyframe_ranges": q_multimodal_keyframe_ranges,
        "multimodal_gif_roundtrip": q_multimodal_gif_roundtrip,
        "multimodal_id3_tags": q_multimodal_id3_tags,
        "multimodal_webdataset_index": q_multimodal_webdataset_index,
        "multimodal_bmp_roundtrip": q_multimodal_bmp_roundtrip,
        "multimodal_zip_index": q_multimodal_zip_index,
        "multimodal_zip64_index": q_multimodal_zip64_index,
        "dedup_containment_word": q_dedup_containment_word,
        "f9_remove_pandas_float": q_f9_remove_pandas_float,
        "multimodal_image_dhash": q_multimodal_image_dhash,
        "multimodal_vad_segments": q_multimodal_vad_segments,
        "dedup_containment_capped": q_dedup_containment_capped,
        "dedup_url_canonical": q_dedup_url_canonical,
        "dedup_paragraphs": q_dedup_paragraphs,
        "text_trigram_backoff": q_text_trigram_backoff,

        "xml_roundtrip": q_xml_roundtrip,
        "zonemap_pruning": q_zonemap_pruning,
        "sketch_heavy_hitters": q_sketch_heavy_hitters,
        "text_inverted_index": q_text_inverted_index,
        "text_quality_classifier": q_text_quality_classifier,
        "sketch_bitmap_distinct": q_sketch_bitmap_distinct,
        "snapshot_diff": q_snapshot_diff,
        "parquet_schema_evolution": q_parquet_schema_evolution,
        "multimodal_binary_ingest": q_multimodal_binary_ingest,
        "events_resample_ffill": q_events_resample_ffill,
        "graph_ppr": q_graph_ppr,
        "text_cosine_pairs": q_text_cosine_pairs,
        "graph_hits": q_graph_hits,
        "sketch_rank_quantile": q_sketch_rank_quantile,
        "running_revenue": q_running_revenue,
        "salted_skew_join": q_salted_skew_join,
        "constraint_suite": q_constraint_suite,
        "events_sliding_distinct": q_events_sliding_distinct,
        "events_variant_extract": q_events_variant_extract,
        "text_naive_bayes": q_text_naive_bayes,
        "profile_table": q_profile_table,
        "graph_sssp": q_graph_sssp,
        "entity_fs_linkage": q_entity_fs_linkage,
        "stats_ols_multi": q_stats_ols_multi,
        "sim_grid_dbscan": q_sim_grid_dbscan,
        "sim_ivfpq_topk": q_sim_ivfpq_topk,
        "eval_auc": q_eval_auc,
        "stream_topk_snapshot": q_stream_topk_snapshot,
        "events_feature_matrix": q_events_feature_matrix,
        "stats_covariance_matrix": q_stats_covariance_matrix,
        "profile_join_cardinality": q_profile_join_cardinality,
        "dedup_cluster_report": q_dedup_cluster_report,
        "sample_class_balanced": q_sample_class_balanced,
        "sample_leakage_safe_splits": q_sample_leakage_safe_splits,
        "stats_winsorize": q_stats_winsorize,
        "eval_calibration": q_eval_calibration,
        "sample_mixture_weights": q_sample_mixture_weights,
        "sample_pack_sequences": q_sample_pack_sequences,
        "meta_consistency": q_meta_consistency,
        "header_conformance": q_header_conformance,
        "curation_k_anonymity": q_curation_k_anonymity,
        "text_repetition": q_text_repetition,
        "eval_confusion": q_eval_confusion,
        "dedup_containment": q_dedup_containment,
        "clinical_field_conformance": q_clinical_field_conformance,
        "text_cosine_capped": q_text_cosine_capped,
        "entity_golden_record": q_entity_golden_record,
        "text_nfc_normalize": q_text_nfc_normalize,
        "eval_mrr": q_eval_mrr,
        "graph_link_prediction": q_graph_link_prediction,
        "sketch_kmv_distinct": q_sketch_kmv_distinct,
        "curation_pii_pseudonyms": q_curation_pii_pseudonyms,
        "multimodal_wav_roundtrip": q_multimodal_wav_roundtrip,
        "multimodal_image_resize": q_multimodal_image_resize,
        "maf_field_conformance": q_maf_field_conformance,
        "maf_annotate_pipeline": q_maf_annotate_pipeline,
        "maf_annotation_wide": q_maf_annotation_wide,
        "maf_error_report": q_maf_error_report,
        "s5_float_g_format": q_s5_float_g_format,
        "sim_ivf_topk": q_sim_ivf_topk,
        "v_validation_suite": q_v_validation_suite,
        "sim_semantic_dedup": q_sim_semantic_dedup,
        "clinical_e2e_preprocess": q_clinical_e2e_preprocess,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "text_tfidf": q_text_tfidf,
        "curation_pipeline": q_curation_pipeline,
        "graph_pagerank": q_graph_pagerank,
        "layout_compaction": q_layout_compaction,
        "stream_hourly_counts": q_stream_hourly_counts,
        "events_sessionize": q_events_sessionize,
        "events_attribution_outer": q_events_attribution_outer,
        "flagship_case_lists": flagship_case_lists,
        "window_rank_suite": q_window_rank_suite,
        "equi_depth_bins": q_equi_depth_bins,
        "lpm_join_categories": q_lpm_join_categories,
        "text_cooccurrence_pmi": q_text_cooccurrence_pmi,
        "events_interval_overlap": q_events_interval_overlap,
        "clinical_kaplan_meier": q_clinical_kaplan_meier,
        "clinical_logrank": q_clinical_logrank,
        "maf_oncoprint": q_maf_oncoprint,
        "stats_chi_square": q_stats_chi_square,
        "events_streaks": q_events_streaks,
        "stats_linear_trend": q_stats_linear_trend,
        "stats_psi_drift": q_stats_psi_drift,
        "stats_ks_test": q_stats_ks_test,
        "maf_gene_cooccurrence": q_maf_gene_cooccurrence,
        "emb_random_projection": q_emb_random_projection,
        "events_exp_smoothing": q_events_exp_smoothing,
        "events_transition_matrix": q_events_transition_matrix,
        "graph_triangles": q_graph_triangles,
        "dedup_jaccard_prefix": q_dedup_jaccard_prefix,
        "sim_item_cf": q_sim_item_cf,
        "stats_ab_ztest": q_stats_ab_ztest,
        "graph_kcore": q_graph_kcore,
        "stats_correlation": q_stats_correlation,
        "graph_bfs": q_graph_bfs,
        "sim_association_rules": q_sim_association_rules,
        "events_seasonal_residuals": q_events_seasonal_residuals,
        "stats_mad_outliers": q_stats_mad_outliers,
        "graph_label_propagation": q_graph_label_propagation,
        "stats_mutual_information": q_stats_mutual_information,
        "events_time_to_convert": q_events_time_to_convert,
        "text_char_entropy": q_text_char_entropy,
        "sketch_accuracy_gate": q_sketch_accuracy_gate,
        "profile_key_skew": q_profile_key_skew,
        "sim_mips_topk": q_sim_mips_topk,
        "text_vocab_growth": q_text_vocab_growth,
        "sketch_hll_distinct": q_sketch_hll_distinct,
        "sketch_bloom_prefilter": q_sketch_bloom_prefilter,
        "sketch_hll_set_ops": q_sketch_hll_set_ops,
        "skyline_pareto": q_skyline_pareto,
        "sample_weighted": q_sample_weighted,
        "sim_topk_bruteforce": q_sim_topk_bruteforce,
        "tpch_q1_pricing_summary": q_tpch_q1,
        "text_bm25": q_text_bm25,
        "stream_dedup_keys": q_stream_dedup_keys,
        "text_chunking": q_text_chunking,
        "sim_quantize_codes": q_sim_quantize_codes,
        "data_splits": q_data_splits,
        "source_mixture": q_source_mixture,
        "sim_pq_codes": q_sim_pq_codes,
        "dedup_components_star": q_dedup_components_star,
        "events_session_window": q_events_session_window,
        "stream_enriched_counts": q_stream_enriched_counts,
        "events_incremental_rollup": q_events_incremental_rollup,
        "events_sliding_counts": q_events_sliding_counts,
        "events_scd2": q_events_scd2,
        "events_point_in_time": q_events_point_in_time,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "orc_roundtrip": q_orc_roundtrip,
        "sequence_packing": q_sequence_packing,
        "dedup_cross_corpus": q_dedup_cross_corpus,
        "text_normalize": q_text_normalize,
        "text_hashed_embedding": q_text_hashed_embedding,
        "text_unigram_logprob": q_text_unigram_logprob,
        "text_length_histogram": q_text_length_histogram,
        "text_to_ann_pipeline": q_text_to_ann_pipeline,
        "emb_l2_normalize": q_emb_l2_normalize,
        "emb_mean_pool": q_emb_mean_pool,
        "maf_annotate_by_variant": q_maf_annotate_by_variant,
        "pii_redaction": q_pii_redaction,
        "decontamination": q_decontamination,
        "repetition_removal": q_repetition_removal,
        "gopher_quality": q_gopher_quality,
        "text_dsir_weights": q_text_dsir_weights,
        "cdc_apply_changelog": q_cdc_apply_changelog,
        "text_bigram_logprob": q_text_bigram_logprob,
        "zorder_layout": q_zorder_layout,
        "events_funnel": q_events_funnel,
        "grouping_sets_revenue": q_grouping_sets_revenue,
        "dedup_keep_best": q_dedup_keep_best,
        "events_time_decay": q_events_time_decay,
        "sketch_count_min": q_sketch_count_min,
        "events_anomaly_zscore": q_events_anomaly_zscore,
        "pivot_status_counts": q_pivot_status_counts,
        "unpivot_part_metrics": q_unpivot_part_metrics,
        "dedup_span_windows": q_dedup_span_windows,
        "fuzzy_join_names": q_fuzzy_join_names,
        "text_bpe_train": q_text_bpe_train,
        "events_retention": q_events_retention,
        "text_bpe_segment": q_text_bpe_segment,
        "exact_quantiles": q_exact_quantiles,
        "p2_neq_filter_keep_nulls": q_p2_neq_filter_keep_nulls,
        "f5_days_to_months": q_f5_days_to_months,
        "multimodal_features": q_multimodal_features,
        "dedup_simhash": q_dedup_simhash,
        "sim_ann_lsh": q_sim_ann_lsh,
        "sim_ivf_trained": q_sim_ivf_trained,
        "embedding_near_dup": q_embedding_near_dup,
        "tpch_q2_min_cost_supplier": q_tpch_q2,
        "tpch_q6_forecast_revenue": q_tpch_q6,
        "tpch_q7_volume_shipping": q_tpch_q7,
        "tpch_q8_market_share": q_tpch_q8,
        "tpch_q9_product_profit": q_tpch_q9,
        "tpch_q10_returned_items": q_tpch_q10,
        "tpch_q11_important_parts": q_tpch_q11,
        "tpch_q12_late_priority": q_tpch_q12,
        "tpch_q13_order_distribution": q_tpch_q13,
        "tpch_q14_promo_share": q_tpch_q14,
        "tpch_q15_top_supplier": q_tpch_q15,
        "tpch_q16_supplier_counts": q_tpch_q16,
        "tpch_q17_small_qty_revenue": q_tpch_q17,
        "tpch_q18_large_volume": q_tpch_q18,
        "tpch_q19_brand_bands": q_tpch_q19,
        "tpch_q20_excess_shipping": q_tpch_q20,
        "tpch_q21_waiting_suppliers": q_tpch_q21,
        "tpch_q22_sales_opportunity": q_tpch_q22,
        "asof_join_last_purchase": q_asof_join_last_purchase,
        "range_join_qty_size": q_range_join_qty_size,
        "window_topk_per_group": q_window_topk_per_group,
        "rollup_revenue": q_rollup_revenue,
        "cube_revenue": q_cube_revenue,
        "window_moving_avg": q_window_moving_avg,
        "percentiles_by_segment": q_percentiles_by_segment,
        "events_attribution": q_events_attribution,
        "events_json_extract": q_events_json_extract,
        "multimodal_frame_sample": q_multimodal_frame_sample,
        "dedup_components": q_dedup_components,
        "text_top_ngrams": q_text_top_ngrams,
        "s3_header_roundtrip": q_s3_header_roundtrip,
        "f8_case_list_render": q_f8_case_list_render,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_exact_groups": q_dedup_exact_groups,
        "a8_keep_latest": q_a8_keep_latest,
        "f1_strip_suffix_first": q_f1_strip_suffix_first,
        "j6_keyset_equality": q_j6_keyset_equality,
        "a1_case_lists": q_a1_case_lists,
        "p1_regex_filter_scoped": q_p1_regex_filter_scoped,
        "p5_prune_all_null": q_p5_prune_all_null,
        "j1_broadcast_left_join": q_j1_broadcast_left_join,
        "j2_left_join_null_audit": q_j2_left_join_null_audit,
        "j3_outer_join_growth_audit": q_j3_outer_join_growth_audit,
        "j4_code_expansion": q_j4_code_expansion,
        "j5_semi_join": q_j5_semi_join,
        "a2_distinct_counts": q_a2_distinct_counts,
        "a4_null_profile": q_a4_null_profile,
        "a5_duplicate_rows": q_a5_duplicate_rows,
        "a6_keyed_duplicates": q_a6_keyed_duplicates,
        "a7_drop_duplicates": q_a7_drop_duplicates,
        "s2_union_by_name": q_s2_union_by_name,
        "s4_chunk_assignment": q_s4_chunk_assignment,
        "f2_case_normalization": q_f2_case_normalization,
        "f3_value_recode": q_f3_value_recode,
        "f7_case_list_slug": q_f7_case_list_slug,
        "f4_coalesce_remap": q_f4_coalesce_remap,
        "p4_patient_sample_split": q_p4_patient_sample_split,
        "text_token_stats": q_text_token_stats,
        "text_quality_score": q_text_quality_score,
        "text_language_id": q_text_language_id,
        "text_fingerprint": q_text_fingerprint,
        "text_language_report": q_text_language_report,
        "text_bpe_token_count": q_text_bpe_token_count,
        "tpch_q3_shipping_priority": q_tpch_q3,
        "tpch_q4_order_priority": q_tpch_q4,
        "tpch_q5_local_supplier": q_tpch_q5,
    }
    assert len(_R11_WINDOW) <= 50, (
        f"driver checks only the first 50 registry slots; window has "
        f"{len(_R11_WINDOW)} entries (r9 ADVICE: entries past 50 are "
        "silently unchecked)"
    )
    window = [n for n in _R11_WINDOW if n in all_q]
    assert len(window) == len(_R11_WINDOW), (
        f"window names missing from registry: "
        f"{set(_R11_WINDOW) - set(all_q)}"
    )
    rest = [n for n in all_q if n not in set(window)]
    return {n: all_q[n] for n in [*window, *rest]}


# Round-11 driver window (first 50 entries, asserted <=50): re-check
# slots for the three r11-touched code paths (operators/graph.py
# sssp_distances round-shuffle sizing; operators/dedup.py asymmetric
# deletion-neighborhood depth; plans/bundle.py threaded artifact chains
# behind v_validation_suite), then PURE freshness: CORRECTNESS_r01-r10
# leave the oldest last-checked cohort at r3 (32 entries, all below) and
# r4 (33 entries; the alphabetically-first 15 fill the window). Histogram
# after the r10 window: 32 x r3, 33 x r4, 35 x r5, then r6+.
_R11_WINDOW = [
    # r11-touched code paths
    "graph_sssp",
    "dedup_jaccard_prefix",
    "v_validation_suite",
    # freshness: last driver-checked r3 (all 32)
    "emb_mean_pool",
    "events_anomaly_zscore",
    "events_funnel",
    "events_incremental_rollup",
    "events_point_in_time",
    "events_retention",
    "events_scd2",
    "events_sliding_counts",
    "events_time_decay",
    "gopher_quality",
    "grouping_sets_revenue",
    "jsonl_roundtrip",
    "orc_roundtrip",
    "pivot_status_counts",
    "repetition_removal",
    "sim_pq_codes",
    "sim_quantize_codes",
    "source_mixture",
    "stream_dedup_keys",
    "stream_enriched_counts",
    "text_bigram_logprob",
    "text_bpe_segment",
    "text_bpe_train",
    "text_chunking",
    "text_dsir_weights",
    "text_hashed_embedding",
    "text_length_histogram",
    "text_normalize",
    "text_to_ann_pipeline",
    "text_unigram_logprob",
    "unpivot_part_metrics",
    "zorder_layout",
    # freshness: last driver-checked r4 (oldest 15 of 33)
    "emb_random_projection",
    "equi_depth_bins",
    "events_attribution_outer",
    "events_exp_smoothing",
    "events_interval_overlap",
    "events_seasonal_residuals",
    "events_streaks",
    "events_time_to_convert",
    "events_transition_matrix",
    "graph_bfs",
    "graph_kcore",
    "graph_label_propagation",
    "graph_triangles",
    "layout_compaction",
    "lpm_join_categories",
]


# ---------------------------------------------------------------------------
# DuckDB oracle twins
# ---------------------------------------------------------------------------

_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"


def _cosine_twin_oracle(mult: float, n_twins: int) -> str:
    """Oracle for the planted-scaled-twin ANN checks: the expected top-1 of
    twin (id+1e6, vec·mult) is its original at the cosine the engines both
    compute — recomputed here from the stored vectors with the SAME
    sequential left fold (not hardcoded 1.0), rounded to 6 dp."""
    return f"""
        WITH q AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE) * {mult}) AS qv,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                   FROM embeddings WHERE vec_id < {n_twins})
        SELECT vec_id + 1000000 AS query_id, vec_id,
               round(
                 list_reduce(list_transform(range(1, len(qv) + 1),
                             i -> qv[i] * cv[i]), (x, y) -> x + y)
                 / (sqrt(list_reduce(list_transform(range(1, len(qv) + 1),
                             i -> qv[i] * qv[i]), (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(range(1, len(cv) + 1),
                             i -> cv[i] * cv[i]), (x, y) -> x + y))),
                 6) AS cosine_sim,
               CAST(1 AS INTEGER) AS rank
        FROM q
    """


def _maf_wide_oracle() -> str:
    """DuckDB twin of q_maf_annotation_wide: replicates the fake annotator's
    documented derivations (string col -> '<name>=' || key, HGVSp_Short ->
    'p.' || key, double col i -> ((len(key)*31 + i*7) % 9973) / 9973) over
    the same orders-derived MAF shape."""
    from iatlas_cbioportal_export_spark.operators.maf import (
        _DBL_ANNOTATION_COLS,
        _STR_ANNOTATION_COLS,
    )

    cols = []
    for name in _STR_ANNOTATION_COLS:
        if name == "Variant_Type":
            # vocabulary-constrained: the fake leaves it NULL (maf.py)
            cols.append(f"CAST(NULL AS VARCHAR) AS \"{name}\"")
            continue
        if name == "Variant_Classification":
            cols.append(
                "CASE WHEN key IS NOT NULL THEN 'Missense_Mutation' END"
                f" AS \"{name}\""
            )
            continue
        prefix = "p." if name == "HGVSp_Short" else f"{name}="
        cols.append(f"'{prefix}' || key AS \"{name}\"")
    for i, name in enumerate(_DBL_ANNOTATION_COLS):
        cols.append(
            f"round(CAST((length(key) * 31 + {i * 7}) % 9973 AS DOUBLE)"
            f" / 9973, 6) AS \"{name}\""
        )
    cols.append(
        "CASE WHEN key IS NOT NULL THEN 'SUCCESS' ELSE 'FAILED' END"
        " AS Annotation_Status"
    )
    return f"""
        WITH maf AS (
            SELECT o_orderkey AS variant_id,
                   CASE WHEN o_orderkey % 25 = 0 THEN 'chrM'
                        WHEN o_orderkey % 17 = 0 THEN NULL
                        ELSE 'chr' || CAST(o_orderkey % 22 + 1 AS VARCHAR)
                   END AS Chromosome,
                   CAST(o_orderkey % 100000 + 1 AS BIGINT) AS Start_Position
            FROM orders
        ),
        keyed AS (
            SELECT *, Chromosome || ':' || CAST(Start_Position AS VARCHAR) AS key
            FROM maf
        )
        SELECT variant_id, Chromosome, Start_Position, {", ".join(cols)}
        FROM keyed
    """


def _mm_lane_sql(j: int) -> str:
    """DuckDB twin of fake_feature_extractor lane j: rolling hash
    (acc*31 + byte) % 1000003 over bytes at positions ≡ j (mod 8). The corpus
    is ASCII (octet_length == length verified), so ascii(char) == byte."""
    return (
        "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(list_filter(range(0, length(text)), i -> i % 8 = {j}), "
        "i -> CAST(ascii(substr(text, i + 1, 1)) AS BIGINT))), "
        f"(a, x) -> (a * 31 + x) % 1000003) AS DOUBLE) / 1000003 AS f{j}"
    )


def oracle_sql() -> dict[str, str]:
    d = {
        "flagship_case_lists": _FLAGSHIP_ORACLE,
        "multimodal_jpeg_roundtrip": """
            WITH ids AS (
                SELECT doc_id AS media_id FROM documents WHERE doc_id < 200
            ),
            blocks AS (
                SELECT i.media_id,
                       (i.media_id * 13 + by.by * 2 + bx.bx * 5 + 37) % 256
                           AS v
                FROM ids i,
                     generate_series(0, 1) AS by(by),
                     generate_series(0, 1) AS bx(bx)
            )
            SELECT media_id,
                   CAST(16 AS BIGINT) AS width,
                   CAST(16 AS BIGINT) AS height,
                   CAST(CASE WHEN media_id % 2 = 0 THEN 1 ELSE 3 END
                        AS BIGINT) AS n_channels,
                   CAST(sum(v) * 64 * 1000000 // 256 AS DOUBLE)
                       AS mean_c0_ppm
            FROM blocks
            GROUP BY media_id
        """,
        "multimodal_png_roundtrip": """
            WITH ids AS (
                SELECT doc_id AS media_id FROM documents WHERE doc_id < 200
            ),
            px AS (
                SELECT i.media_id,
                       (i.media_id * 7 + y.y * 16 + x.x * 3) % 256 AS v
                FROM ids i,
                     generate_series(0, 11) AS y(y),
                     generate_series(0, 15) AS x(x)
            )
            SELECT media_id,
                   CAST(16 AS BIGINT) AS width,
                   CAST(12 AS BIGINT) AS height,
                   CAST(CASE WHEN media_id % 2 = 0 THEN 1 ELSE 3 END
                        AS BIGINT) AS n_channels,
                   CAST(sum(v) * 1000000 // 192 AS DOUBLE) AS mean_c0_ppm
            FROM px
            GROUP BY media_id
        """,
        "multimodal_container_metadata": """
            SELECT doc_id AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'mp4'
                                   WHEN 1 THEN 'mp3'
                                   ELSE 'jpeg' END AS container,
                   CASE doc_id % 3 WHEN 0 THEN 'isom'
                                   WHEN 2 THEN 'baseline' END AS brand,
                   CAST(CASE WHEN doc_id % 3 = 2
                             THEN 16 + doc_id % 7 END AS BIGINT) AS width,
                   CAST(CASE WHEN doc_id % 3 = 2
                             THEN 12 + (3 * doc_id) % 5 END AS BIGINT)
                       AS height,
                   CAST(CASE doc_id % 3
                        WHEN 0 THEN 1000 + doc_id * 37
                        WHEN 1 THEN ((2 + doc_id % 5) * 1152 * 1000) // 44100
                        END AS BIGINT) AS duration_ms,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 1000
                                        WHEN 1 THEN 44100 END AS BIGINT)
                       AS sample_rate,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 1 + doc_id % 5
                                        WHEN 1 THEN 1
                                        ELSE 3 END AS BIGINT) AS n_tracks,
                   CAST(CASE WHEN doc_id % 3 = 1
                             THEN 2 + doc_id % 5 END AS BIGINT) AS n_frames
            FROM documents WHERE doc_id < 180
        """,
        "multimodal_mp4_samples": """
            WITH m AS (
                SELECT doc_id AS media_id, 3 + doc_id % 5 AS n
                FROM documents WHERE doc_id < 40
            ),
            s AS (
                SELECT media_id, n,
                       unnest(generate_series(0, n - 1)) AS sample_idx
                FROM m
            ),
            f AS (
                SELECT media_id, n, sample_idx,
                       50 + (media_id * 7 + sample_idx * 13) % 40 AS size,
                       CASE WHEN sample_idx < n // 2
                            THEN 512 ELSE 1024 END AS duration
                FROM s
            )
            SELECT media_id,
                   CAST(1 AS BIGINT) AS track_id,
                   CAST(sample_idx AS BIGINT) AS sample_idx,
                   CAST(sample_idx // 2 AS BIGINT) AS chunk_idx,
                   CAST(28 + COALESCE(SUM(size) OVER (
                            PARTITION BY media_id ORDER BY sample_idx
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS BIGINT)
                       AS offset,
                   CAST(size AS BIGINT) AS size,
                   CAST(COALESCE(SUM(duration) OVER (
                            PARTITION BY media_id ORDER BY sample_idx
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS BIGINT) AS dts,
                   CAST(duration AS BIGINT) AS duration,
                   sample_idx % (2 + media_id % 3) = 0 AS is_sync
            FROM f
        """,
        "dedup_paragraphs": """
            WITH d AS (
                SELECT doc_id,
                       ['cookie notice please accept',
                        'fam ' || CAST(doc_id // 10 AS VARCHAR),
                        'own ' || CAST(doc_id AS VARCHAR) || ': '
                            || substr(text, 1, 60)] AS ps
                FROM documents
            ),
            e AS (
                SELECT doc_id, unnest(generate_series(1, len(ps))) AS i, ps
                FROM d
            ),
            p AS (
                SELECT doc_id, i, ps[i] AS para FROM e WHERE ps[i] <> ''
            ),
            r AS (
                SELECT doc_id, i, para,
                       row_number() OVER (PARTITION BY para
                                          ORDER BY doc_id, i) AS rn
                FROM p
            ),
            k AS (SELECT doc_id, i, para FROM r WHERE rn = 1)
            SELECT doc_id,
                   CAST(3 AS BIGINT) AS n_paragraphs,
                   CAST(COUNT(*) AS BIGINT) AS n_kept,
                   string_agg(para, chr(10) || chr(10) ORDER BY i) AS text
            FROM k GROUP BY doc_id
        """,
        "f9_remove_pandas_float": """
            WITH rows AS (
                SELECT c_custkey,
                       CAST(c_custkey % 5 AS DOUBLE) AS f,
                       c_name
                FROM customer WHERE c_custkey <= 50
            ),
            body AS (
                SELECT string_agg(
                           CAST(c_custkey AS VARCHAR) || chr(9)
                               || CAST(f AS VARCHAR) || chr(9) || c_name,
                           chr(10) ORDER BY c_custkey) AS b
                FROM rows
            )
            SELECT replace(replace(
                       'c_custkey' || chr(9) || 'f' || chr(9) || 'c_name'
                           || chr(10) || b || chr(10),
                       '.0' || chr(9), chr(9)),
                       '.0' || chr(10), chr(10)) AS rendered
            FROM body
        """,
        "multimodal_image_dhash": """
            -- replay the dHash closed-form: 9x8 nearest-neighbour grid over
            -- the planted 16x12 P6 gradients (key = media_id % 12), BT.601
            -- fixed-point luma, 64 horizontal comparison bits packed into
            -- two 32-bit halves; group by the RECOMPUTED hash
            WITH keys AS (SELECT unnest(generate_series(0, 11)) AS k),
            grid AS (
                SELECT keys.k, gy.y AS gy, gx.x AS gx,
                       ((gy.y * 12 // 8) * 16
                        + (gx.x * 16 // 9) * (3 + 8 * keys.k)) AS base
                FROM keys,
                     generate_series(0, 7) AS gy(y),
                     generate_series(0, 8) AS gx(x)
            ),
            lum AS (
                SELECT k, gy, gx,
                       (299 * (base % 256) + 587 * ((base + 11) % 256)
                        + 114 * ((base + 22) % 256)) // 1000 AS lum
                FROM grid
            ),
            bits AS (
                SELECT l.k, l.gy, l.gx,
                       CASE WHEN l.lum < r.lum THEN 1 ELSE 0 END AS b
                FROM lum l JOIN lum r
                  ON l.k = r.k AND l.gy = r.gy AND r.gx = l.gx + 1
                WHERE l.gx < 8
            ),
            hashes AS (
                SELECT k,
                       SUM(CASE WHEN gy >= 4
                           THEN b * (CAST(1 AS BIGINT) << ((gy - 4) * 8 + gx))
                           ELSE 0 END) AS dhash_hi,
                       SUM(CASE WHEN gy < 4
                           THEN b * (CAST(1 AS BIGINT) << (gy * 8 + gx))
                           ELSE 0 END) AS dhash_lo
                FROM bits GROUP BY k
            ),
            members AS (
                SELECT doc_id AS media_id, doc_id % 12 AS k
                FROM documents WHERE doc_id < 96
            )
            SELECT CAST(h.dhash_hi AS BIGINT) AS dhash_hi,
                   CAST(h.dhash_lo AS BIGINT) AS dhash_lo,
                   array_to_string(list_sort(list(m.media_id)), ',')
                       AS member_ids_csv,
                   COUNT(*) AS n_copies
            FROM members m JOIN hashes h USING (k)
            GROUP BY h.dhash_hi, h.dhash_lo
            HAVING COUNT(*) > 1
        """,
        "multimodal_vad_segments": """
            -- closed-form replay of the planted speech patterns: even ids
            -- 3-speech-1-silence blocks (two merged 3*nb-frame segments),
            -- odd ids alternate (four isolated nb-frame segments);
            -- nb = 2 + id % 3 frames per block, 20ms frames
            WITH ids AS (
                SELECT doc_id AS media_id, 2 + doc_id % 3 AS nb
                FROM documents WHERE doc_id < 200
            ),
            even_segs AS (
                SELECT media_id, CAST(s.k AS BIGINT) AS segment_idx,
                       CAST(s.k * 4 * nb AS BIGINT) AS start_frame,
                       CAST(3 * nb AS BIGINT) AS n_frames
                FROM ids, generate_series(0, 1) AS s(k)
                WHERE media_id % 2 = 0
            ),
            odd_segs AS (
                SELECT media_id, CAST(s.k AS BIGINT) AS segment_idx,
                       CAST((2 * s.k + 1) * nb AS BIGINT) AS start_frame,
                       CAST(nb AS BIGINT) AS n_frames
                FROM ids, generate_series(0, 3) AS s(k)
                WHERE media_id % 2 = 1
            ),
            segs AS (SELECT * FROM even_segs UNION ALL SELECT * FROM odd_segs)
            SELECT media_id, segment_idx, start_frame, n_frames,
                   start_frame * 20 AS start_ms,
                   n_frames * 20 AS duration_ms
            FROM segs
        """,
        "multimodal_zip64_index": """
            -- identical member naming/sizing to multimodal_zip_index; the
            -- hand-built ZIP64 local headers carry no extra field, so the
            -- same closed-form offset arithmetic applies
            WITH m AS (
                SELECT doc_id AS media_id, 2 + doc_id % 3 AS n
                FROM documents WHERE doc_id < 30
            ),
            s AS (
                SELECT media_id, unnest(generate_series(0, n - 1)) AS j
                FROM m
            ),
            f AS (
                SELECT media_id, j,
                       100 + (media_id * 7 + j * 13) % 90 AS size
                FROM s
            )
            SELECT media_id,
                   lpad(CAST(media_id AS VARCHAR), 5, '0') || '.'
                       || CAST(j AS VARCHAR) || '.bin' AS name,
                   'stored' AS method,
                   CAST(size AS BIGINT) AS size,
                   CAST(size AS BIGINT) AS compressed_size,
                   CAST(41 * (j + 1) + COALESCE(SUM(size) OVER (
                            PARTITION BY media_id ORDER BY j
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS BIGINT)
                       AS data_offset
            FROM f
        """,
        "dedup_containment_word": """
            WITH src AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
                UNION ALL
                SELECT doc_id + 1000000, substring(text, 1, 60)
                FROM documents WHERE doc_id % 7 = 0 AND doc_id % 3 = 0
            ),
            ts AS (
                SELECT doc_id,
                       list_distinct(list_filter(
                           regexp_split_to_array(text, '\\s+'),
                           x -> x <> '')) AS ts
                FROM src
            ),
            ne AS (SELECT * FROM ts WHERE len(ts) > 0)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(a.ts) AS BIGINT) AS n_a,
                   CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
                   CAST(len(list_intersect(a.ts, b.ts)) * 1000000
                        // len(a.ts) AS BIGINT) AS containment_ppm
            FROM ne a JOIN ne b ON a.doc_id <> b.doc_id
            WHERE len(list_intersect(a.ts, b.ts)) * 1000000
                  >= 800000 * len(a.ts)
        """,
        "multimodal_zip_index": """
            WITH m AS (
                SELECT doc_id AS media_id, 2 + doc_id % 3 AS n
                FROM documents WHERE doc_id < 30
            ),
            s AS (
                SELECT media_id, unnest(generate_series(0, n - 1)) AS j
                FROM m
            ),
            f AS (
                SELECT media_id, j,
                       100 + (media_id * 7 + j * 13) % 90 AS size
                FROM s
            )
            SELECT media_id,
                   lpad(CAST(media_id AS VARCHAR), 5, '0') || '.'
                       || CAST(j AS VARCHAR) || '.bin' AS name,
                   'stored' AS method,
                   CAST(size AS BIGINT) AS size,
                   CAST(size AS BIGINT) AS compressed_size,
                   CAST(41 * (j + 1) + COALESCE(SUM(size) OVER (
                            PARTITION BY media_id ORDER BY j
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS BIGINT)
                       AS data_offset
            FROM f
        """,
        "multimodal_bmp_roundtrip": """
            WITH ids AS (
                SELECT doc_id AS media_id FROM documents WHERE doc_id < 170
            ),
            px AS (
                SELECT i.media_id,
                       (i.media_id * 7 + y.y * 16 + x.x * 3) % 256 AS v
                FROM ids i,
                     generate_series(0, 11) AS y(y),
                     generate_series(0, 15) AS x(x)
            )
            SELECT media_id,
                   CAST(16 AS BIGINT) AS width,
                   CAST(12 AS BIGINT) AS height,
                   CAST(CASE WHEN media_id % 2 = 0 THEN 1 ELSE 3 END
                        AS BIGINT) AS n_channels,
                   CAST(sum(v) * 1000000 // 192 AS DOUBLE) AS mean_c0_ppm
            FROM px
            GROUP BY media_id
        """,
        "multimodal_webdataset_index": """
            WITH m AS (
                SELECT doc_id AS media_id, 2 + doc_id % 3 AS n
                FROM documents WHERE doc_id < 30
            ),
            s AS (
                SELECT media_id, unnest(generate_series(0, n - 1)) AS j
                FROM m
            ),
            f AS (
                SELECT media_id, j,
                       300 + (media_id * 7 + j * 13) % 400 AS size
                FROM s
            )
            SELECT media_id,
                   lpad(CAST(media_id AS VARCHAR), 5, '0') || '.'
                       || CAST(j AS VARCHAR) || '.bin' AS name,
                   CAST(512 * (j + 1) + COALESCE(SUM((size + 511) // 512
                            * 512) OVER (PARTITION BY media_id ORDER BY j
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS BIGINT)
                       AS offset,
                   CAST(size AS BIGINT) AS size,
                   '0' AS typeflag,
                   CAST(0 AS BIGINT) AS mtime
            FROM f
        """,
        "multimodal_id3_tags": """
            SELECT doc_id AS media_id,
                   'Track ' || CAST(doc_id AS VARCHAR) AS title,
                   'Artist ' || CAST(doc_id % 7 AS VARCHAR) AS artist,
                   'Album ' || CAST(doc_id // 10 AS VARCHAR) AS album
            FROM documents WHERE doc_id < 160
        """,
        "multimodal_gif_roundtrip": """
            WITH m AS (
                SELECT doc_id AS media_id FROM documents WHERE doc_id < 150
            ),
            px AS (
                SELECT media_id, unnest(generate_series(0, 15)) AS x FROM m
            ),
            pxy AS (
                SELECT media_id, x, unnest(generate_series(0, 11)) AS y
                FROM px
            ),
            c AS (
                SELECT media_id, (media_id + 3 * x + 5 * y) % 8 AS p
                FROM pxy
            ),
            s AS (
                SELECT media_id,
                       SUM((media_id * 5 + p * 7) % 256) AS r,
                       SUM((media_id * 3 + p * 11) % 256) AS g,
                       SUM((p * 29 + media_id) % 256) AS b
                FROM c GROUP BY media_id
            )
            SELECT media_id,
                   CAST(16 AS BIGINT) AS width,
                   CAST(12 AS BIGINT) AS height,
                   CAST(r * 1000000 // 192 AS DOUBLE) AS mean_r_ppm,
                   CAST(g * 1000000 // 192 AS DOUBLE) AS mean_g_ppm,
                   CAST(b * 1000000 // 192 AS DOUBLE) AS mean_b_ppm
            FROM s
        """,
        "multimodal_keyframe_ranges": """
            WITH m AS (
                SELECT doc_id AS media_id, 3 + doc_id % 5 AS n
                FROM documents WHERE doc_id < 40
            ),
            s AS (
                SELECT media_id, n,
                       unnest(generate_series(0, n - 1)) AS sample_idx
                FROM m
            ),
            f AS (
                SELECT media_id, n, sample_idx,
                       50 + (media_id * 7 + sample_idx * 13) % 40 AS size,
                       sample_idx % (2 + media_id % 3) = 0 AS is_sync
                FROM s
            )
            SELECT media_id,
                   CAST(COUNT(*) AS BIGINT) AS n_samples,
                   CAST(SUM(CASE WHEN is_sync THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_keyframes,
                   CAST(SUM(size) AS BIGINT) AS total_bytes,
                   CAST(SUM(CASE WHEN is_sync THEN size ELSE 0 END)
                        AS BIGINT) AS keyframe_bytes
            FROM f GROUP BY media_id
        """,
        "multimodal_g711_stats": """
            WITH m AS (
                SELECT doc_id AS media_id,
                       10 + doc_id % 5 AS n,
                       doc_id % 2 = 0 AS is_mu
                FROM documents WHERE doc_id < 100
            ),
            j AS (
                SELECT media_id, n, is_mu,
                       unnest(generate_series(0, n - 1)) AS i
                FROM m
            ),
            c AS (
                SELECT media_id, n, is_mu,
                       (media_id * 7 + i * 11) % 256 AS code
                FROM j
            ),
            e AS (
                SELECT media_id, n,
                  CASE WHEN is_mu THEN
                    CASE WHEN (255 - code) >= 128
                      THEN 132 - (((255 - code) % 16) * 8 + 132)
                               * (1 << (((255 - code) // 16) % 8))
                      ELSE (((255 - code) % 16) * 8 + 132)
                               * (1 << (((255 - code) // 16) % 8)) - 132
                    END
                  ELSE
                    CASE WHEN xor(code, 85) >= 128 THEN 1 ELSE -1 END *
                    CASE WHEN ((xor(code, 85) // 16) % 8) = 0
                      THEN (xor(code, 85) % 16) * 16 + 8
                      ELSE ((xor(code, 85) % 16) * 16 + 264)
                               * (1 << (((xor(code, 85) // 16) % 8) - 1))
                    END
                  END AS s
                FROM c
            )
            SELECT media_id,
                   CAST(8000 AS BIGINT) AS sample_rate,
                   CAST(n AS BIGINT) AS n_samples,
                   CAST(SUM(s) AS BIGINT) AS sum_pcm,
                   CAST(MIN(s) AS BIGINT) AS min_pcm,
                   CAST(MAX(s) AS BIGINT) AS max_pcm
            FROM e GROUP BY media_id, n
        """,
        "multimodal_audio_features": """
            WITH m AS (
                SELECT doc_id AS media_id,
                       50 + (doc_id * 13) % 1000 AS amp,
                       2 + doc_id % 5 AS h,
                       40 + doc_id % 7 AS n
                FROM documents WHERE doc_id < 120
            )
            SELECT media_id,
                   CAST(n AS BIGINT) AS n_samples,
                   CAST(8000 AS BIGINT) AS sample_rate,
                   CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
                   CAST(amp AS BIGINT) AS peak,
                   CAST(amp * 1000000 AS BIGINT) AS mean_abs_ppm,
                   CAST(amp * amp AS BIGINT) AS energy,
                   CAST((n - 1) // h AS BIGINT) AS zero_crossings,
                   CAST(CASE WHEN amp <= 100 THEN 1000000 ELSE 0 END
                        AS BIGINT) AS silence_ppm
            FROM m
        """,
        "multimodal_mp3_frames": """
            WITH m AS (
                SELECT doc_id AS media_id,
                       2 + doc_id % 6 AS n,
                       CASE doc_id % 4 WHEN 0 THEN 96 WHEN 1 THEN 128
                                       WHEN 2 THEN 160 ELSE 192 END AS kbps
                FROM documents WHERE doc_id < 60
            ),
            s AS (
                SELECT media_id, kbps,
                       144 * kbps * 1000 // 44100 AS frame_len,
                       unnest(generate_series(0, n - 1)) AS frame_idx
                FROM m
            )
            SELECT media_id,
                   CAST(frame_idx AS BIGINT) AS frame_idx,
                   CAST(30 + media_id % 30 + frame_idx * frame_len
                        AS BIGINT) AS offset,
                   CAST(frame_len AS BIGINT) AS size,
                   CAST(frame_idx * 1152 * 1000 // 44100 AS BIGINT) AS dts_ms,
                   CAST(kbps AS BIGINT) AS bitrate_kbps
            FROM s
        """,
        "bundle_cross_checks": """
            WITH patients AS (
                SELECT 'P-' || CAST(c_custkey AS VARCHAR) AS patient_id
                FROM customer
            ),
            samples AS (
                SELECT CASE WHEN o_orderkey % 97 = 0
                            THEN 'P-X' || CAST(o_custkey AS VARCHAR)
                            ELSE 'P-' || CAST(o_custkey AS VARCHAR) END
                           AS patient_id,
                       'S-' || CAST(o_orderkey AS VARCHAR) AS sample_id
                FROM orders
            ),
            maf AS (
                SELECT CASE WHEN l_orderkey % 89 = 0
                            THEN 'S-X' || CAST(l_orderkey AS VARCHAR)
                            ELSE 'S-' || CAST(l_orderkey AS VARCHAR) END
                           AS barcode
                FROM lineitem
            ),
            rna AS (
                SELECT CASE WHEN o_orderkey % 83 = 0
                            THEN 'S-Y' || CAST(o_orderkey AS VARCHAR)
                            ELSE 'S-' || CAST(o_orderkey AS VARCHAR) END
                           AS sample_id
                FROM orders WHERE o_orderkey % 3 = 0
            ),
            members AS (
                SELECT CASE WHEN o_orderkey % 79 = 0
                            THEN 'S-UNK' || CAST(o_orderkey AS VARCHAR)
                            ELSE 'S-' || CAST(o_orderkey AS VARCHAR) END
                           AS member_id
                FROM orders WHERE o_orderkey % 5 = 0
                UNION ALL
                SELECT CASE WHEN o_orderkey % 79 = 0
                            THEN 'S-UNK' || CAST(o_orderkey AS VARCHAR)
                            ELSE 'S-' || CAST(o_orderkey AS VARCHAR) END
                FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 73 = 0
            ),
            counts AS (
                SELECT
                  (SELECT count(*) FROM
                     (SELECT DISTINCT patient_id FROM samples) s
                   WHERE s.patient_id NOT IN
                     (SELECT patient_id FROM patients)) AS v_sp,
                  (SELECT count(*) FROM
                     (SELECT DISTINCT patient_id FROM patients) p
                   WHERE p.patient_id NOT IN
                     (SELECT patient_id FROM samples)) AS v_childless,
                  (SELECT count(*) FROM
                     (SELECT DISTINCT barcode FROM maf) m
                   WHERE m.barcode NOT IN
                     (SELECT sample_id FROM samples)) AS v_maf,
                  (SELECT count(*) FROM
                     (SELECT DISTINCT sample_id FROM rna) r
                   WHERE r.sample_id NOT IN
                     (SELECT sample_id FROM samples)) AS v_rna,
                  (SELECT count(*) FROM
                     (SELECT DISTINCT member_id FROM members) c
                   WHERE c.member_id NOT IN
                     (SELECT sample_id FROM samples)) AS v_cl,
                  (SELECT count(*) FROM
                     (SELECT member_id FROM members
                      GROUP BY member_id HAVING count(*) > 1) d) AS v_dup
            ),
            rules AS (
                SELECT 'case_list_sequenced_duplicate_members' AS check,
                       v_dup AS n, 'ERROR' AS bad,
                       'case list sequenced ids listed more than once'
                           AS detail
                FROM counts
                UNION ALL SELECT 'case_list_sequenced_members_in_clinical',
                       v_cl, 'ERROR',
                       'case list sequenced ids absent from clinical samples'
                FROM counts
                UNION ALL SELECT 'xref_maf_samples_in_clinical',
                       v_maf, 'ERROR',
                       'maf sample ids absent from clinical samples'
                FROM counts
                UNION ALL SELECT 'xref_patients_have_samples',
                       v_childless, 'WARN', 'patients with no samples'
                FROM counts
                UNION ALL SELECT 'xref_rna_seq_samples_in_clinical',
                       v_rna, 'ERROR',
                       'rna_seq sample ids absent from clinical samples'
                FROM counts
                UNION ALL SELECT 'xref_sample_patients_in_patient_file',
                       v_sp, 'ERROR',
                       'sample-file patient ids absent from patient file'
                FROM counts
            )
            SELECT "check",
                   CASE WHEN n = 0 THEN 'OK' ELSE bad END AS status,
                   CAST(n AS BIGINT) AS observed,
                   CAST(0 AS BIGINT) AS expected,
                   detail
            FROM rules
            ORDER BY "check"
        """,
        "text_nfc_normalize": """
            WITH src AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0
                            THEN text || ' cafe' || chr(769)
                            ELSE text END AS text
                FROM documents
            ),
            norm AS (
                SELECT doc_id, text, nfc_normalize(text) AS text_nfc FROM src
            )
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_before,
                   CAST(length(text_nfc) AS BIGINT) AS n_chars_after,
                   text <> text_nfc AS changed,
                   CASE WHEN length(text_nfc) >= 4
                        THEN substr(text_nfc, length(text_nfc) - 3, 4)
                        ELSE text_nfc END AS tail
            FROM norm
        """,
        "eval_mrr": """
            WITH q AS (SELECT vec_id AS query_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv,
                              label AS ql
                       FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv,
                              label AS cl
                       FROM embeddings),
                 scored AS (
                    SELECT q.query_id, c.vec_id, c.cl, q.ql,
                           round(
                             list_reduce(list_transform(range(1, len(qv) + 1),
                                         i -> qv[i] * cv[i]), (x, y) -> x + y)
                             / (sqrt(list_reduce(list_transform(range(1, len(qv) + 1),
                                         i -> qv[i] * qv[i]), (x, y) -> x + y))
                              * sqrt(list_reduce(list_transform(range(1, len(cv) + 1),
                                         i -> cv[i] * cv[i]), (x, y) -> x + y))),
                             6) AS cosine_sim
                    FROM q JOIN c ON q.query_id <> c.vec_id
                 ),
                 ranked AS (
                    SELECT *, row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY cosine_sim DESC, vec_id ASC) AS rank
                    FROM scored
                 ),
                 top10 AS (SELECT * FROM ranked WHERE rank <= 10),
                 firsts AS (
                    SELECT query_id, CAST(min(rank) AS INTEGER)
                               AS first_rel_rank
                    FROM top10 WHERE cl = ql GROUP BY query_id
                 )
            SELECT t.query_id, f.first_rel_rank,
                   CAST(CASE WHEN f.first_rel_rank IS NOT NULL
                        THEN 1000000 // f.first_rel_rank
                        ELSE 0 END AS BIGINT) AS rr_ppm
            FROM (SELECT DISTINCT query_id FROM top10) t
            LEFT JOIN firsts f USING (query_id)
        """,
        "graph_link_prediction": """
            WITH e AS (
                SELECT DISTINCT l_partkey AS src,
                       l_suppkey + 1000000 AS dst
                FROM lineitem
            ),
            und AS (
                SELECT src AS n, dst AS m FROM e
                UNION
                SELECT dst, src FROM e
            ),
            deg AS (SELECT n, count(*) AS deg FROM und GROUP BY n),
            hubs AS (SELECT n FROM deg WHERE deg > 50),
            nh AS (
                SELECT u.n, u.m FROM und u
                WHERE u.m NOT IN (SELECT n FROM hubs)
            ),
            common AS (
                SELECT a.n AS u, b.n AS v, count(*) AS common
                FROM nh a JOIN nh b ON a.m = b.m AND a.n < b.n
                GROUP BY a.n, b.n
            ),
            fresh AS (
                SELECT c.* FROM common c
                WHERE NOT EXISTS (
                    SELECT 1 FROM und x
                    WHERE x.n = c.u AND x.m = c.v
                )
            )
            SELECT u, v, CAST(common AS BIGINT) AS common,
                   CAST(common * 1000000
                        // (du.deg + dv.deg - common) AS BIGINT)
                       AS jaccard_ppm
            FROM fresh
            JOIN deg du ON du.n = fresh.u
            JOIN deg dv ON dv.n = fresh.v
            ORDER BY common DESC, jaccard_ppm DESC, u ASC, v ASC
            LIMIT 200
        """,
        "sketch_kmv_distinct": """
            WITH keyed AS (
                SELECT DISTINCT o_orderpriority AS grp,
                       CAST(o_custkey AS VARCHAR) AS ks
                FROM orders WHERE o_custkey IS NOT NULL
            ),
            h0 AS (
                SELECT grp,
                       list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, length(ks) + 1),
                                          i -> CAST(ascii(ks[i]) AS BIGINT))),
                           (a, c) -> (a * 31 + c) % 1000000007) AS h
                FROM keyed
            ),
            h1 AS (SELECT grp, (h * h + 654435755) % 1000000007 AS h FROM h0),
            h2 AS (SELECT grp, (h * h + 654435755) % 1000000007 AS h FROM h1),
            dh AS (SELECT DISTINCT grp, h FROM h2),
            ranked AS (
                SELECT grp, h,
                       row_number() OVER (PARTITION BY grp ORDER BY h ASC) AS r
                FROM dh
            ),
            agg AS (
                SELECT grp, count(*) AS n_hashes_kept, max(h) AS kth_min
                FROM ranked WHERE r <= 256 GROUP BY grp
            )
            SELECT grp AS o_orderpriority,
                   CAST(n_hashes_kept AS BIGINT) AS n_hashes_kept,
                   CAST(kth_min AS BIGINT) AS kth_min,
                   CAST(CASE WHEN n_hashes_kept < 256 THEN n_hashes_kept
                        ELSE CAST(255 AS HUGEINT) * 1000000007
                             // CAST(kth_min AS HUGEINT)
                   END AS BIGINT) AS est_distinct
            FROM agg
        """,
        "curation_pii_pseudonyms": """
            WITH src AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 7 = 0
                               THEN ' user' || CAST(doc_id % 50 AS VARCHAR)
                                    || '@example.com' ELSE '' END
                       || CASE WHEN doc_id % 11 = 0
                               THEN ' 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
                               ELSE '' END
                       || CASE WHEN doc_id % 13 = 0
                               THEN ' 555-123-4567' ELSE '' END AS text
                FROM documents
            ),
            m AS (
                SELECT doc_id, 'email' AS kind,
                       unnest(regexp_extract_all(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                           AS value
                FROM src
                UNION ALL
                SELECT doc_id, 'ipv4',
                       unnest(regexp_extract_all(text,
                           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                FROM src
                UNION ALL
                SELECT doc_id, 'phone',
                       unnest(regexp_extract_all(text,
                           '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b'))
                FROM src
            ),
            g AS (
                SELECT kind, value,
                       count(DISTINCT doc_id) AS n_docs,
                       count(*) AS n_occurrences
                FROM m GROUP BY kind, value
            )
            SELECT kind, value,
                   '<' || upper(kind) || '_' || CAST(
                       CASE WHEN length(value) = 0 THEN 0
                            ELSE list_reduce(
                                list_transform(range(1, length(value) + 1),
                                               i -> CAST(ascii(value[i]) AS BIGINT)),
                                (acc, c) -> (acc * 31 + c) % 1000000007)
                       END AS VARCHAR) || '>' AS pseudonym,
                   n_docs, n_occurrences
            FROM g
        """,
        "multimodal_image_resize": """
            WITH ids AS (
                SELECT doc_id AS media_id FROM documents WHERE doc_id < 200
            ),
            sampled AS (
                SELECT media_id,
                       (media_id * 7 + (2 * y) * 16 + (2 * x) * 3) % 256 AS v
                FROM ids,
                     unnest(range(0, 8)) AS tx(x),
                     unnest(range(0, 6)) AS ty(y)
            )
            SELECT media_id, CAST(8 AS BIGINT) AS width,
                   CAST(6 AS BIGINT) AS height,
                   CAST(sum(v) * 1000000 // count(*) AS DOUBLE) AS mean_ppm
            FROM sampled GROUP BY media_id
        """,
        "multimodal_wav_roundtrip": """
            WITH ids AS (
                SELECT doc_id AS media_id FROM documents WHERE doc_id < 200
            ),
            samples AS (
                SELECT media_id, i,
                       abs(((media_id * 31 + i * 7) % 256) - 128) AS a
                FROM ids, unnest(range(0, 256)) AS t(i)
            ),
            b AS (
                SELECT media_id, CAST(i // 32 AS INT) AS bucket,
                       sum(a) AS s, count(*) AS n
                FROM samples GROUP BY media_id, CAST(i // 32 AS INT)
            )
            SELECT media_id, CAST(556 AS BIGINT) AS n_bytes, bucket,
                   CAST(s * 1000000 // n AS DOUBLE) AS amp_ppm
            FROM b
        """,
        "entity_golden_record": """
            WITH records AS (
                SELECT c_custkey AS cluster_id, c_name AS name,
                       CAST(c_acctbal AS VARCHAR) AS balance,
                       c_mktsegment AS segment
                FROM customer
                UNION ALL
                SELECT c_custkey,
                       CASE WHEN c_custkey % 5 = 0 THEN upper(c_name)
                            ELSE c_name END,
                       CAST(c_acctbal AS VARCHAR),
                       CASE WHEN c_custkey % 3 = 0 THEN NULL
                            ELSE c_mktsegment END
                FROM customer
                UNION ALL
                SELECT c_custkey, c_name,
                       CASE WHEN c_custkey % 4 = 0
                            THEN CAST(c_acctbal AS VARCHAR) || '9'
                            ELSE CAST(c_acctbal AS VARCHAR) END,
                       c_mktsegment
                FROM customer
            ),
            melted AS (
                SELECT cluster_id, 'name' AS field, name AS value FROM records
                UNION ALL
                SELECT cluster_id, 'balance', balance FROM records
                UNION ALL
                SELECT cluster_id, 'segment', segment FROM records
            ),
            counts AS (
                SELECT cluster_id, field, value, count(*) AS cnt
                FROM melted WHERE value IS NOT NULL
                GROUP BY cluster_id, field, value
            ),
            best AS (
                SELECT cluster_id, field, value
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY cluster_id, field
                          ORDER BY cnt DESC, value ASC) AS rn
                      FROM counts)
                WHERE rn = 1
            ),
            members AS (
                SELECT cluster_id, count(*) AS n_members FROM records
                GROUP BY cluster_id
            )
            SELECT m.cluster_id, m.n_members,
                   nm.value AS name, ph.value AS balance, sg.value AS segment
            FROM members m
            LEFT JOIN best nm ON nm.cluster_id = m.cluster_id AND nm.field = 'name'
            LEFT JOIN best ph ON ph.cluster_id = m.cluster_id AND ph.field = 'balance'
            LEFT JOIN best sg ON sg.cluster_id = m.cluster_id AND sg.field = 'segment'
        """,
        "text_cosine_capped": """
            WITH src AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000,
                       text || ' zzz' || CAST(doc_id AS VARCHAR)
                FROM documents WHERE doc_id % 40 = 0
                UNION ALL
                SELECT doc_id + 2000000,
                       text || ' zzz' || CAST(doc_id AS VARCHAR)
                FROM documents WHERE doc_id % 40 = 0
            ),
            toks AS (
                SELECT doc_id, lower(t) AS term
                FROM src,
                     unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS u(t)
            ),
            tf AS (
                SELECT doc_id, term, count(*) AS tf FROM toks
                GROUP BY doc_id, term
            ),
            norms AS (
                SELECT doc_id, sum(tf * tf) AS n2 FROM tf GROUP BY doc_id
            ),
            nd AS (SELECT count(*) AS n_docs FROM src),
            dfreq AS (
                SELECT term, count(*) AS dfv FROM tf GROUP BY term
            ),
            kept AS (
                SELECT term FROM dfreq, nd
                WHERE dfv >= 2
                  AND dfv <= greatest(2, CAST(ceil(0.5 * n_docs) AS BIGINT))
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM tf a
                JOIN kept k ON a.term = k.term
                JOIN tf b ON b.term = a.term AND a.doc_id < b.doc_id
            ),
            dots AS (
                SELECT c.doc_a, c.doc_b, sum(fa.tf * fb.tf) AS dot
                FROM cand c
                JOIN tf fa ON fa.doc_id = c.doc_a
                JOIN tf fb ON fb.doc_id = c.doc_b AND fb.term = fa.term
                GROUP BY c.doc_a, c.doc_b
            )
            SELECT dots.doc_a, dots.doc_b, CAST(dot AS BIGINT) AS dot,
                   round(dot / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)), 6)
                       AS cosine
            FROM dots
            JOIN norms na ON na.doc_id = dots.doc_a
            JOIN norms nb ON nb.doc_id = dots.doc_b
            WHERE CAST(dot AS HUGEINT) * dot * 100
                  >= 81 * CAST(na.n2 AS HUGEINT) * nb.n2
        """,
        "clinical_field_conformance": """
            WITH cli AS (
                SELECT
                  CASE WHEN c_custkey % 97 = 0
                       THEN 'P ' || CAST(c_custkey AS VARCHAR)
                       ELSE 'P-' || CAST(c_custkey AS VARCHAR)
                  END AS patient_id,
                  CASE WHEN c_custkey % 89 = 0 THEN NULL
                       ELSE 'S_' || CAST(c_custkey AS VARCHAR)
                  END AS sample_id,
                  CASE WHEN c_custkey % 83 = 0 THEN 'abc'
                       WHEN c_custkey % 79 = 0 THEN 'NA'
                       ELSE CAST(c_custkey % 500 AS VARCHAR)
                  END AS age,
                  CASE WHEN c_custkey % 73 = 0 THEN 'yes'
                       WHEN c_custkey % 71 = 0 THEN 'na'
                       ELSE CASE WHEN c_custkey % 2 = 0
                                 THEN 'TRUE' ELSE 'false' END
                  END AS msi,
                  CASE WHEN c_custkey % 67 = 0 THEN '1'
                       ELSE CASE WHEN c_custkey % 2 = 0
                                 THEN '0:LIVING' ELSE '1:DECEASED' END
                  END AS osv,
                  CASE WHEN c_custkey % 61 = 0 THEN 'progression'
                       ELSE '0:CENSORED' END AS pfv
                FROM customer
            ),
            counts AS (
                SELECT
                  sum(CASE WHEN patient_id IS NOT NULL AND NOT
                        regexp_matches(patient_id, '^[A-Za-z0-9._-]+$')
                      THEN 1 ELSE 0 END) AS v_pid,
                  sum(CASE WHEN sample_id IS NOT NULL AND NOT
                        regexp_matches(sample_id, '^[A-Za-z0-9._-]+$')
                      THEN 1 ELSE 0 END) AS v_sid,
                  sum(CASE WHEN age IS NOT NULL AND age <> 'NA' AND NOT
                        regexp_matches(age,
                          '^-?[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?$')
                      THEN 1 ELSE 0 END) AS v_age,
                  sum(CASE WHEN msi IS NOT NULL AND upper(msi) NOT IN
                        ('TRUE','FALSE','NA')
                      THEN 1 ELSE 0 END) AS v_msi,
                  sum(CASE WHEN osv IS NOT NULL AND lower(osv) NOT IN
                        ('0:living','1:deceased')
                      THEN 1 ELSE 0 END) AS v_os,
                  sum(CASE WHEN pfv IS NOT NULL AND lower(pfv) NOT IN
                        ('0:censored','1:progression')
                      THEN 1 ELSE 0 END) AS v_pfs
                FROM cli
            ),
            rules AS (
                SELECT 'clinical_patient_id_format' AS check, v_pid AS n FROM counts
                UNION ALL SELECT 'clinical_sample_id_format', v_sid FROM counts
                UNION ALL SELECT 'clinical_number_age', v_age FROM counts
                UNION ALL SELECT 'clinical_boolean_msi_status', v_msi FROM counts
                UNION ALL SELECT 'clinical_os_status_vocabulary', v_os FROM counts
                UNION ALL SELECT 'clinical_pfs_status_vocabulary', v_pfs FROM counts
            )
            SELECT "check",
                   CASE WHEN n = 0 THEN 'OK' ELSE 'ERROR' END AS status,
                   CAST(n AS BIGINT) AS observed,
                   CAST(0 AS BIGINT) AS expected,
                   'violating rows' AS detail
            FROM rules
            ORDER BY "check"
        """,
        "curation_k_anonymity": """
            WITH s AS (
                SELECT c_nationkey, c_mktsegment,
                       CAST(c_custkey % 20 AS BIGINT) AS bucket,
                       CASE WHEN c_custkey % 20 <> 7
                            THEN c_acctbal > 0 END AS positive_bal
                FROM customer
            )
            SELECT c_nationkey, c_mktsegment, bucket,
                   CAST(count(*) AS BIGINT) AS class_size,
                   CAST(count(DISTINCT positive_bal)
                        + max(CASE WHEN positive_bal IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS l_diversity
            FROM s
            GROUP BY c_nationkey, c_mktsegment, bucket
            HAVING count(*) < 3
                OR count(DISTINCT positive_bal)
                   + max(CASE WHEN positive_bal IS NULL
                         THEN 1 ELSE 0 END) = 1
        """,
        "header_conformance": """
            WITH a AS (
                SELECT c_custkey AS k,
                       'data_clinical_' || CAST(c_custkey % 6 AS VARCHAR)
                           AS filename,
                       CASE WHEN c_custkey % 50 = 0 THEN 'PATIENT_ID'
                            ELSE 'COL_' || CAST(c_custkey % 40 AS VARCHAR)
                       END AS column_id,
                       CASE WHEN c_custkey % 11 = 5 THEN ''
                            ELSE 'Attr ' || CAST(c_custkey AS VARCHAR)
                       END AS display_name,
                       CASE c_custkey % 4 WHEN 0 THEN 'STRING'
                            WHEN 1 THEN 'NUMBER' WHEN 2 THEN 'BOOLEAN'
                            ELSE 'FLOAT' END AS datatype,
                       CASE WHEN c_custkey % 5 = 2 THEN 'high'
                            ELSE CAST(c_custkey % 10 AS VARCHAR)
                       END AS priority,
                       c_custkey % 6 <> 4 AS arity_ok
                FROM customer WHERE c_custkey < 300
            ),
            m AS (
                SELECT
                  SUM(CASE WHEN datatype NOT IN ('STRING','NUMBER','BOOLEAN')
                           THEN 1 ELSE 0 END) AS bad_dt,
                  SUM(CASE WHEN NOT regexp_matches(priority, '^[0-9]+$')
                           THEN 1 ELSE 0 END) AS bad_pr,
                  COUNT(*) - COUNT(DISTINCT filename || chr(9) || column_id)
                      AS dup_ids,
                  COUNT(DISTINCT CASE WHEN NOT arity_ok THEN filename END)
                      AS arity_files,
                  SUM(CASE WHEN display_name = '' THEN 1 ELSE 0 END)
                      AS miss_dn,
                  COUNT(DISTINCT filename)
                    - COUNT(DISTINCT CASE WHEN column_id = 'PATIENT_ID'
                                          THEN filename END) AS miss_req
                FROM a
            ),
            rules AS (
                SELECT 'header_datatype_vocabulary' AS check, bad_dt AS n,
                       'ERROR' AS bad,
                       'attrs with datatype outside STRING/NUMBER/BOOLEAN'
                           AS detail FROM m
                UNION ALL
                SELECT 'header_priority_integer', bad_pr, 'ERROR',
                       'attrs with non-integer priority' FROM m
                UNION ALL
                SELECT 'header_duplicate_column_id', dup_ids, 'ERROR',
                       'duplicate column ids within a file' FROM m
                UNION ALL
                SELECT 'header_arity_mismatch', arity_files, 'ERROR',
                       'files with ragged ''#'' header lines' FROM m
                UNION ALL
                SELECT 'header_display_name_missing', miss_dn, 'WARN',
                       'attrs with empty display names' FROM m
                UNION ALL
                SELECT 'header_required_patient_id', miss_req, 'ERROR',
                       'files missing required column PATIENT_ID' FROM m
            )
            SELECT "check",
                   CASE WHEN n = 0 THEN 'OK' ELSE bad END AS status,
                   CAST(n AS BIGINT) AS observed,
                   CAST(0 AS BIGINT) AS expected,
                   detail
            FROM rules
        """,
        "meta_consistency": """
            WITH m AS (
                SELECT n_nationkey AS k,
                       CASE WHEN n_nationkey % 7 = 3 THEN 'iatlas_y'
                            ELSE 'iatlas_x' END AS csi,
                       n_nationkey % 4 AS combo,
                       'sid_' || CAST(n_nationkey % 10 AS VARCHAR) AS sid,
                       'data_' || n_name || '.txt' AS fn
                FROM nation
            ),
            required AS (
                SELECT f FROM (VALUES ('data_clinical_patient.txt'),
                    ('data_clinical_sample.txt'), ('cases_sequenced.txt'),
                    ('cases_all.txt'), ('meta_clinical_patient.txt'),
                    ('meta_clinical_sample.txt')) v(f)
            ),
            bundle AS (
                SELECT 'data_' || n_name || '.txt' AS filename
                FROM nation WHERE n_nationkey % 5 <> 2
                UNION ALL
                SELECT 'data_extra_' || r_name || '.txt' FROM region
                UNION ALL
                SELECT f FROM required
            ),
            counts AS (
                SELECT
                  (SELECT count(*) FROM m
                   WHERE csi <> (SELECT min(csi) FROM m)) AS v_study,
                  (SELECT count(*) FROM m WHERE combo = 3) AS v_combo,
                  (SELECT count(*) FROM m WHERE fn NOT IN
                     (SELECT filename FROM bundle)) AS v_missing,
                  (SELECT count(*) FROM (SELECT DISTINCT filename
                     FROM bundle) b
                   WHERE substr(b.filename, 1, 5) = 'data_'
                     AND b.filename NOT IN (SELECT fn FROM m)) AS v_orphan,
                  (SELECT count(*) FROM (SELECT sid FROM m
                     GROUP BY sid HAVING count(*) > 1) d) AS v_dup,
                  (SELECT count(*) FROM required r
                   WHERE r.f NOT IN (SELECT filename FROM bundle)) AS v_req
            ),
            rules AS (
                SELECT 'meta_study_id_uniform' AS check, v_study AS n,
                       'ERROR' AS bad,
                       'metas declaring a different cancer_study_identifier'
                           AS detail
                FROM counts
                UNION ALL SELECT 'meta_datatype_combination', v_combo,
                       'ERROR',
                       '(genetic_alteration_type, datatype) not defined by cBioPortal'
                FROM counts
                UNION ALL SELECT 'meta_data_file_exists', v_missing, 'ERROR',
                       'metas referencing a data file absent from the bundle'
                FROM counts
                UNION ALL SELECT 'meta_orphan_data_files', v_orphan, 'WARN',
                       'data_* files no meta references'
                FROM counts
                UNION ALL SELECT 'meta_duplicate_stable_id', v_dup, 'ERROR',
                       'stable_id values shared by more than one meta'
                FROM counts
                UNION ALL SELECT 'meta_required_files', v_req, 'ERROR',
                       'required bundle files absent (reference clinical.py:66-73)'
                FROM counts
            )
            SELECT "check",
                   CASE WHEN n = 0 THEN 'OK' ELSE bad END AS status,
                   CAST(n AS BIGINT) AS observed,
                   CAST(0 AS BIGINT) AS expected,
                   detail
            FROM rules
            ORDER BY "check"
        """,
        "sample_pack_sequences": f"""
            WITH toks AS (
                SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n
                FROM documents
            ),
            pre AS (
                SELECT doc_id, n,
                       CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS s
                FROM toks
            ),
            spans AS (
                SELECT doc_id, n, s, s + n AS e FROM pre WHERE n > 0
            ),
            ex AS (
                SELECT doc_id, s, e,
                       unnest(generate_series(s // 256, (e - 1) // 256))
                           AS c
                FROM spans
            )
            SELECT doc_id,
                   CAST(c AS BIGINT) AS chunk_id,
                   CAST(greatest(s - c * 256, 0) AS BIGINT) AS start_in_chunk,
                   CAST(least(e, (c + 1) * 256) - greatest(s, c * 256)
                        AS BIGINT) AS n_tokens_in_chunk
            FROM ex
        """,
        "sample_mixture_weights": """
            WITH g AS (
                SELECT source, lang, count(*) AS n_docs,
                       CAST(sum(n_chars) AS BIGINT) AS tokens
                FROM documents GROUP BY source, lang
            ),
            w AS (
                SELECT *,
                       CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1000000.0)
                            AS BIGINT) AS weight_micro
                FROM g
            ),
            t AS (SELECT sum(weight_micro) AS total FROM w)
            SELECT source, lang, n_docs, tokens, weight_micro,
                   CAST(CAST(weight_micro AS HUGEINT) * 1000000
                        // CAST(total AS HUGEINT) AS BIGINT) AS share_ppm,
                   CAST(CAST(weight_micro AS HUGEINT) * 1000000000000
                        // CAST(total AS HUGEINT) AS BIGINT) AS budget_tokens
            FROM w, t
        """,
        "text_repetition": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> x <> '') AS arr
                FROM documents
            ),
            base AS (
                SELECT doc_id, len(arr) AS n_words,
                       CAST(coalesce(list_aggregate(
                           list_transform(arr, x -> length(x)), 'sum'), 0)
                           AS BIGINT) AS word_chars,
                       arr
                FROM toks
            ),
            g2 AS (
                SELECT doc_id,
                       array_to_string(list_slice(arr, i, i + 1), ' ') AS gram
                FROM base,
                     unnest(range(1, greatest(len(arr) - 1, 1) + 1)) AS t(i)
            ),
            c2 AS (
                SELECT doc_id, gram, count(*) AS cnt FROM g2
                GROUP BY doc_id, gram
            ),
            top2 AS (
                SELECT doc_id, gram AS top_2gram, cnt AS top_2gram_count
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY doc_id
                          ORDER BY cnt DESC, gram ASC) AS rn
                      FROM c2)
                WHERE rn = 1
            ),
            g3 AS (
                SELECT doc_id,
                       array_to_string(list_slice(arr, i, i + 2), ' ') AS gram
                FROM base,
                     unnest(range(1, greatest(len(arr) - 2, 1) + 1)) AS t(i)
            ),
            c3 AS (
                SELECT doc_id, gram, count(*) AS cnt FROM g3
                GROUP BY doc_id, gram
            ),
            dup3 AS (
                SELECT doc_id,
                       sum(CASE WHEN cnt >= 2
                           THEN cnt * (length(gram) - 2) ELSE 0 END)
                           AS dup_chars,
                       sum(cnt * (length(gram) - 2)) AS all_chars
                FROM c3 GROUP BY doc_id
            )
            SELECT b.doc_id, CAST(b.n_words AS INT) AS n_words, b.word_chars,
                   t2.top_2gram,
                   CAST(t2.top_2gram_count AS BIGINT) AS top_2gram_count,
                   CAST(CASE WHEN b.word_chars > 0
                        THEN t2.top_2gram_count
                             * (length(t2.top_2gram) - 1) * 1000000
                             // b.word_chars
                        ELSE 0 END AS BIGINT) AS top_2gram_char_ppm,
                   CAST(CASE WHEN d.all_chars > 0
                        THEN d.dup_chars * 1000000 // d.all_chars
                        ELSE 0 END AS BIGINT) AS dup_3gram_char_ppm
            FROM base b
            LEFT JOIN top2 t2 USING (doc_id)
            LEFT JOIN dup3 d USING (doc_id)
        """,
        "eval_confusion": """
            WITH hits AS (
                SELECT doc_id,
                    len(list_filter(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''), t -> list_contains(
                        ['der','die','das','und','ist','nicht','ein','mit','zu','den'],
                        lower(t)))) AS hits_de,
                    len(list_filter(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''), t -> list_contains(
                        ['the','and','of','to','a','in','is','it','that','for'],
                        lower(t)))) AS hits_en,
                    len(list_filter(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''), t -> list_contains(
                        ['el','la','los','y','es','no','un','una','por','para'],
                        lower(t)))) AS hits_es,
                    len(list_filter(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''), t -> list_contains(
                        ['le','la','les','et','est','pas','un','une','pour','dans'],
                        lower(t)))) AS hits_fr
                FROM documents
            ),
            pred AS (
                SELECT doc_id,
                       CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0
                            THEN 'und'
                            WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr)
                            THEN 'de'
                            WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr)
                            THEN 'en'
                            WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr)
                            THEN 'es'
                            ELSE 'fr' END AS predicted_lang
                FROM hits
            ),
            j AS (
                SELECT p.predicted_lang AS pr, d.lang AS lb
                FROM pred p JOIN documents d USING (doc_id)
            ),
            cells AS (SELECT pr, lb, count(*) AS n FROM j GROUP BY pr, lb),
            pt AS (SELECT pr AS class, sum(n) AS n_pred FROM cells GROUP BY pr),
            lt AS (SELECT lb AS class, sum(n) AS n_label FROM cells GROUP BY lb),
            tpx AS (SELECT pr AS class, n AS tp FROM cells WHERE pr = lb),
            base AS (
                SELECT coalesce(pt.class, lt.class) AS class,
                       coalesce(tpx.tp, 0) AS tp,
                       coalesce(pt.n_pred, 0) - coalesce(tpx.tp, 0) AS fp,
                       coalesce(lt.n_label, 0) - coalesce(tpx.tp, 0) AS fn
                FROM pt
                FULL OUTER JOIN lt ON pt.class = lt.class
                LEFT JOIN tpx ON coalesce(pt.class, lt.class) = tpx.class
            )
            SELECT class, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                   CAST(fn AS BIGINT) AS fn,
                   CASE WHEN tp + fp > 0
                        THEN CAST(tp * 1000000 // (tp + fp) AS BIGINT)
                   END AS precision_ppm,
                   CASE WHEN tp + fn > 0
                        THEN CAST(tp * 1000000 // (tp + fn) AS BIGINT)
                   END AS recall_ppm,
                   CASE WHEN 2 * tp + fp + fn > 0
                        THEN CAST(2 * tp * 1000000 // (2 * tp + fp + fn)
                                  AS BIGINT)
                   END AS f1_ppm
            FROM base
        """,
        "dedup_containment": """
            WITH src AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, substring(text, 1, 80)
                FROM documents WHERE doc_id % 50 = 0
            ),
            toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> x <> '') AS arr
                FROM src
            ),
            sh AS (
                SELECT doc_id,
                       list_sort(list_distinct(list(
                           array_to_string(list_slice(arr, i, i + 4), ' ')
                       ))) AS ts
                FROM toks,
                     unnest(range(1, greatest(len(arr) - 4, 1) + 1)) AS t(i)
                GROUP BY doc_id
            ),
            ne AS (SELECT * FROM sh WHERE len(ts) > 0)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(a.ts) AS BIGINT) AS n_a,
                   CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
                   CAST(len(list_intersect(a.ts, b.ts)) * 1000000
                        // len(a.ts) AS BIGINT) AS containment_ppm
            FROM ne a JOIN ne b ON a.doc_id <> b.doc_id
            WHERE len(list_intersect(a.ts, b.ts)) * 1000000
                  >= 900000 * len(a.ts)
        """,
        "dedup_url_canonical": """
            WITH urls AS (
                SELECT doc_id,
                       CASE doc_id % 5
                         WHEN 0 THEN 'HTTP://Example.COM:80/site/page'
                              || CAST(doc_id // 5 AS VARCHAR)
                              || '/?utm_source=feed&b=2&a=1'
                         WHEN 1 THEN 'http://example.com/site/page'
                              || CAST(doc_id // 5 AS VARCHAR)
                              || '?a=1&b=2#section'
                         WHEN 2 THEN 'http://EXAMPLE.com/site/page'
                              || CAST(doc_id // 5 AS VARCHAR)
                              || '?b=2&gclid=XYZ&a=1'
                         WHEN 3 THEN 'https://example.com/site/page'
                              || CAST(doc_id // 5 AS VARCHAR)
                              || '?a=1&b=2'
                         ELSE 'http://other.org/item/'
                              || CAST(doc_id AS VARCHAR)
                       END AS url
                FROM documents
            ),
            parts AS (
                SELECT doc_id,
                  lower(regexp_extract(url,
                      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                  lower(regexp_extract(url,
                      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth0,
                  regexp_replace(regexp_extract(url,
                      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                      '/+$', '') AS path,
                  regexp_extract(url, '\\?([^#]*)', 1) AS q
                FROM urls
            ),
            canon AS (
                SELECT doc_id,
                  scheme || '://'
                  || CASE WHEN scheme = 'http'
                          THEN regexp_replace(auth0, ':80$', '')
                          WHEN scheme = 'https'
                          THEN regexp_replace(auth0, ':443$', '')
                          ELSE auth0 END
                  || path
                  || CASE WHEN sq = '' THEN '' ELSE '?' || sq END
                      AS canonical_url
                FROM (
                  SELECT *,
                    coalesce(array_to_string(list_sort(list_filter(
                        string_split(q, '&'),
                        p -> p <> '' AND NOT regexp_matches(p,
                            '^(utm_[^=]*|gclid|fbclid|msclkid|ref_src)=')
                    )), '&'), '') AS sq
                  FROM parts
                )
            )
            SELECT canonical_url,
                   min(doc_id) AS keep_doc_id,
                   count(*) AS n_variants
            FROM canon
            GROUP BY canonical_url
            ORDER BY canonical_url
        """,
        "dedup_containment_capped": """
            WITH src AS (
                SELECT doc_id,
                       text || ' common legal boilerplate footer applies '
                            || 'to every document in this corpus' AS text
                FROM documents
                UNION ALL
                SELECT doc_id + 1000000, substring(text, 1, 80)
                FROM documents WHERE doc_id % 50 = 0
                UNION ALL
                SELECT 2000000,
                       'common legal boilerplate footer applies to every '
                       || 'document in this corpus'
            ),
            toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> x <> '') AS arr
                FROM src
            ),
            sh AS (
                SELECT doc_id,
                       list_sort(list_distinct(list(
                           array_to_string(list_slice(arr, i, i + 4), ' ')
                       ))) AS ts
                FROM toks,
                     unnest(range(1, greatest(len(arr) - 4, 1) + 1)) AS t(i)
                GROUP BY doc_id
            ),
            ne AS (SELECT * FROM sh WHERE len(ts) > 0),
            -- the frac cap resolves against the INPUT row count (cheap
            -- metadata action engine-side), not the shingled-doc count
            nd AS (SELECT count(*) AS n FROM src),
            dfreq AS (
                SELECT gram, count(*) AS df
                FROM (SELECT doc_id, unnest(ts) AS gram FROM ne)
                GROUP BY gram
            ),
            kept AS (
                SELECT gram FROM dfreq, nd
                WHERE df <= greatest(2, CAST(ceil(0.05 * n) AS BIGINT))
            ),
            ksets AS (
                SELECT doc_id, list_sort(list(gram)) AS ks
                FROM (SELECT doc_id, unnest(ts) AS gram FROM ne) j
                JOIN kept USING (gram)
                GROUP BY doc_id
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(a.ts) AS BIGINT) AS n_a,
                   CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
                   CAST(len(list_intersect(a.ts, b.ts)) * 1000000
                        // len(a.ts) AS BIGINT) AS containment_ppm
            FROM ne a
            JOIN ne b ON a.doc_id <> b.doc_id
            JOIN ksets ka ON ka.doc_id = a.doc_id
            JOIN ksets kb ON kb.doc_id = b.doc_id
            WHERE len(list_intersect(ka.ks, kb.ks)) >= 1
              AND len(list_intersect(a.ts, b.ts)) * 1000000
                  >= 900000 * len(a.ts)
        """,
        "p1_regex_filter_scoped": """
            SELECT p_partkey, p_name, p_brand FROM part
            WHERE (NOT coalesce(regexp_matches(p_name, 'a.*a'), false)
                   AND p_brand = 'Brand#13')
               OR NOT coalesce(p_brand = 'Brand#13', false)
        """,
        "p2_neq_filter_keep_nulls": """
            SELECT event_id, event_type FROM events
            WHERE event_type <> 'error' OR event_type IS NULL
        """,
        "p5_prune_all_null": """
            SELECT doc_id, text, lang, source, n_chars FROM documents
        """,
        "j1_broadcast_left_join": """
            SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
            FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        """,
        "j2_left_join_null_audit": """
            SELECT count(*) AS n_rows,
                   CAST(sum(CASE WHEN c.c_name IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_unmatched
            FROM orders o
            LEFT JOIN (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000) c
              ON o.o_custkey = c.c_custkey
        """,
        "j3_outer_join_growth_audit": """
            WITH per_cust AS (
                SELECT o_custkey AS custkey, count(*) AS n_orders
                FROM orders GROUP BY 1
            )
            SELECT count(*) AS n_rows,
                   CAST(sum(CASE WHEN c.c_name IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_right_only,
                   CAST(sum(CASE WHEN p.n_orders IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_left_only
            FROM (SELECT c_custkey AS custkey, c_name FROM customer) c
            FULL OUTER JOIN per_cust p USING (custkey)
        """,
        "j4_code_expansion": """
            SELECT c_custkey, c_nationkey, n_name, r_name
            FROM customer
            LEFT JOIN (
                SELECT n_nationkey, n_name, r_name
                FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
            ) ON c_nationkey = n_nationkey
        """,
        "j5_semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "j6_keyset_equality": """
            SELECT 'left_only' AS side,
                   (SELECT count(*) FROM (
                        SELECT DISTINCT c_custkey FROM customer
                        EXCEPT SELECT DISTINCT o_custkey FROM orders)) AS n
            UNION ALL
            SELECT 'right_only',
                   (SELECT count(*) FROM (
                        SELECT DISTINCT o_custkey FROM orders
                        EXCEPT SELECT DISTINCT c_custkey FROM customer))
        """,
        "a1_case_lists": """
            SELECT c_mktsegment,
                   count(c_name) AS n_samples,
                   string_agg(c_name, chr(9) ORDER BY c_name) AS sample_ids_tsv
            FROM customer GROUP BY c_mktsegment
        """,
        "a2_distinct_counts": """
            SELECT count(DISTINCT o_custkey) AS n_distinct_custkey,
                   count(DISTINCT o_orderkey) AS n_distinct_orderkey,
                   count(*) AS n_rows
            FROM orders
        """,
        "a4_null_profile": """
            WITH t AS (SELECT count(*) AS n FROM documents)
            SELECT col AS column_name,
                   (SELECT n FROM t) - cnt AS n_null,
                   cnt AS n_non_null,
                   cnt = 0 AS all_null
            FROM (
                SELECT 'doc_id' AS col, count(doc_id) AS cnt FROM documents
                UNION ALL SELECT 'text', count(text) FROM documents
                UNION ALL SELECT 'lang', count(lang) FROM documents
                UNION ALL SELECT 'source', count(source) FROM documents
                UNION ALL SELECT 'n_chars', count(n_chars) FROM documents
            )
        """,
        "a5_duplicate_rows": """
            SELECT l_partkey, l_suppkey, count(*) AS n_occurrences
            FROM lineitem GROUP BY l_partkey, l_suppkey
            HAVING count(*) > 1
        """,
        "a6_keyed_duplicates": """
            SELECT o_custkey, count(*) AS n_occurrences
            FROM orders GROUP BY o_custkey HAVING count(*) > 1
        """,
        "a7_drop_duplicates": """
            SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        """,
        "a8_keep_latest": """
            SELECT o_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS latest_orderdate
            FROM orders
            QUALIFY row_number() OVER (
                PARTITION BY o_custkey
                ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
        """,
        "s2_union_by_name": """
            SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
                   'customer' AS src, CAST(NULL AS INTEGER) AS nationkey
            FROM customer
            UNION ALL
            SELECT s_suppkey, s_name, NULL, 'supplier', CAST(s_nationkey AS INTEGER)
            FROM supplier
        """,
        "s4_chunk_assignment": """
            WITH numbered AS (
                SELECT CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1)
                       / 1000) AS BIGINT) AS chunk_id
                FROM orders
            )
            SELECT chunk_id, count(*) AS n_rows FROM numbered GROUP BY chunk_id
        """,
        "f1_strip_suffix_first": """
            SELECT p_partkey, p_name,
                   CASE WHEN strpos(p_name, 'an') > 0
                        THEN substr(p_name, 1, strpos(p_name, 'an') - 1)
                             || substr(p_name, strpos(p_name, 'an') + 2)
                        ELSE p_name END AS stripped
            FROM part
        """,
        "f2_case_normalization": """
            SELECT p_partkey,
                   lower(replace(p_type, ' ', '_')) AS snake,
                   upper(replace(lower(replace(p_type, ' ', '_')), '_', ' '))
                       AS norm_caps,
                   array_to_string(
                       list_transform(
                           string_split(
                               replace(lower(replace(p_type, ' ', '_')), '_', ' '),
                               ' '),
                           w -> upper(w[1]) || lower(w[2:])),
                       ' ') AS norm_title
            FROM part
        """,
        "f3_value_recode": """
            SELECT o_orderkey,
                   CASE WHEN o_orderstatus = 'O' THEN '0:OPEN'
                        WHEN o_orderstatus = 'F' THEN '1:FINISHED'
                        ELSE CAST(o_orderstatus AS VARCHAR) END AS status_recode
            FROM orders
        """,
        "f5_days_to_months": """
            SELECT event_id, round(value / 30.44, 2) AS value_months FROM events
        """,
        "f7_case_list_slug": """
            SELECT p_type,
                   CASE WHEN p_type IS NULL OR p_type = '' OR p_type = 'NA'
                        THEN 'no_oncotree_code'
                        ELSE replace(replace(replace(p_type, ' ', '_'), ',', ''),
                                     '/', '_')
                   END AS slug
            FROM (SELECT DISTINCT p_type FROM part)
        """,
        "f4_coalesce_remap": """
            SELECT c_custkey,
                   coalesce(
                       CASE WHEN c_custkey % 3 = 0
                            THEN 'PUB-' || CAST(c_custkey AS VARCHAR) END,
                       c_name) AS SAMPLE_ID
            FROM customer
        """,
        "p4_patient_sample_split": """
            SELECT DISTINCT
                'PAT-' || CAST(c_custkey % 400 AS VARCHAR) AS PATIENT_ID,
                n_name AS TCGA_Study,
                c_mktsegment AS AMADEUS_Study,
                CAST(c_custkey % 2 AS INTEGER) AS OS_STATUS
            FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        """,
        "clinical_e2e_preprocess": """
            WITH base AS (
                SELECT c_custkey AS k,
                    'SAMP-' || CAST(c_custkey AS VARCHAR) ||
                        CASE WHEN c_custkey % 11 = 0 THEN '-nd-x' ELSE '' END
                        AS sample_name,
                    CASE WHEN c_custkey % 5 <> 0
                         THEN 'PUB-' || CAST(c_custkey AS VARCHAR) END
                        AS study_sample_name,
                    'PAT-' || CAST(c_custkey % 400 AS VARCHAR) AS patient_name,
                    CASE WHEN c_custkey % 7 <> 0
                         THEN 'PPAT-' || CAST(c_custkey % 400 AS VARCHAR) END
                        AS study_patient_name,
                    CASE WHEN c_custkey % 3 = 0 THEN 'Anders_JITC_2022'
                         ELSE 'Dataset_' || CAST(c_custkey % 3 AS VARCHAR)
                    END AS Dataset,
                    n_name AS TCGA_Study,
                    c_mktsegment AS AMADEUS_Study,
                    c_custkey % 2 AS os_status_raw,
                    c_custkey % 3 AS pfs_status_raw,
                    c_acctbal AS os_days,
                    CAST(c_custkey % 2000 AS DOUBLE) AS pfs_days,
                    CASE WHEN c_custkey % 4 = 0
                         THEN 'stable_clinical_response_clinical_response'
                         WHEN c_custkey % 4 = 1 THEN 'partial_clinical_response'
                         WHEN c_custkey % 4 = 2 THEN NULL
                         ELSE 'complete' END AS clinical_response
                FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
            ),
            keyed AS (
                SELECT *,
                    upper(substr(TCGA_Study, 1, 3)) || '_'
                        || CAST(length(AMADEUS_Study) AS VARCHAR)
                        AS ONCOTREE_CODE,
                    coalesce(study_sample_name, sample_name) AS SAMPLE_ID,
                    coalesce(study_patient_name, patient_name) AS PATIENT_ID
                FROM base
            ),
            neo AS (
                SELECT coalesce(study_sample_name, sample_name) AS SAMPLE_ID,
                       CAST(k % 50 AS BIGINT) AS NEOANTIGEN_COUNT
                FROM base WHERE k % 4 = 0
            ),
            joined AS (
                SELECT w.*, n.NEOANTIGEN_COUNT
                FROM keyed w LEFT JOIN neo n USING (SAMPLE_ID)
            ),
            filtered AS (
                SELECT * FROM joined
                WHERE (NOT coalesce(
                           regexp_matches(SAMPLE_ID, '-(?:nd|ad|nr)-'), false)
                       AND Dataset = 'Anders_JITC_2022')
                   OR NOT coalesce(Dataset = 'Anders_JITC_2022', false)
            ),
            recoded AS (
                SELECT *,
                    CASE WHEN os_status_raw = 0 THEN '0:LIVING'
                         WHEN os_status_raw = 1 THEN '1:DECEASED'
                         ELSE CAST(os_status_raw AS VARCHAR) END AS OS_STATUS,
                    CASE WHEN pfs_status_raw = 0 THEN '0:LIVING'
                         WHEN pfs_status_raw = 1 THEN '1:DECEASED'
                         ELSE CAST(pfs_status_raw AS VARCHAR) END AS PFS_STATUS,
                    round(os_days / 30.44, 2) AS OS_MONTHS,
                    round(pfs_days / 30.44, 2) AS PFS_MONTHS,
                    CASE WHEN strpos(clinical_response, '_clinical_response') > 0
                         THEN substr(clinical_response, 1,
                                  strpos(clinical_response, '_clinical_response') - 1)
                              || substr(clinical_response,
                                  strpos(clinical_response, '_clinical_response') + 18)
                         ELSE clinical_response END AS cr_stripped
                FROM filtered
            )
            SELECT k AS row_id, SAMPLE_ID, PATIENT_ID,
                upper(replace(Dataset, '_', ' ')) AS Dataset,
                TCGA_Study, AMADEUS_Study, ONCOTREE_CODE,
                OS_STATUS, PFS_STATUS, OS_MONTHS, PFS_MONTHS,
                array_to_string(
                    list_transform(
                        string_split(replace(cr_stripped, '_', ' '), ' '),
                        w -> upper(w[1]) || lower(w[2:])),
                    ' ') AS clinical_response,
                NEOANTIGEN_COUNT,
                'Cancer ' || ONCOTREE_CODE AS CANCER_TYPE,
                ONCOTREE_CODE || ' detailed' AS CANCER_TYPE_DETAILED
            FROM recoded
        """,
        "maf_annotate_pipeline": """
            WITH maf AS (
                SELECT o_orderkey AS variant_id,
                       CASE WHEN o_orderkey % 25 = 0 THEN 'chrM'
                            WHEN o_orderkey % 17 = 0 THEN NULL
                            ELSE 'chr' || CAST(o_orderkey % 22 + 1 AS VARCHAR)
                       END AS Chromosome,
                       CAST(o_orderkey % 100000 + 1 AS BIGINT) AS Start_Position,
                       'TSB-' || CAST(o_orderkey % 500 AS VARCHAR)
                           AS Tumor_Sample_Barcode,
                       CAST(o_orderkey % 200 AS BIGINT) AS t_alt_count,
                       CAST(o_orderkey % 300 + 10 AS BIGINT) AS t_ref_count
                FROM orders
            ),
            ann AS (
                SELECT *,
                       CASE WHEN Chromosome IS NOT NULL
                            THEN 'p.' || Chromosome || ':'
                                 || CAST(Start_Position AS VARCHAR)
                       END AS HGVSp_Short,
                       CASE WHEN Chromosome IS NOT NULL THEN 'SUCCESS'
                            ELSE 'FAILED' END AS Annotation_Status
                FROM maf
            )
            SELECT variant_id, Chromosome, Start_Position,
                   Tumor_Sample_Barcode, HGVSp_Short, Annotation_Status,
                   round(CAST(t_alt_count AS DOUBLE)
                         / (t_alt_count + t_ref_count), 6) AS tumor_allele_freq
            FROM ann
            WHERE Chromosome <> 'chrM' OR Chromosome IS NULL
        """,
        "maf_annotation_wide": _maf_wide_oracle(),
        "maf_field_conformance": """
            WITH maf AS (
                SELECT o_orderkey AS k,
                       CASE WHEN o_orderkey % 101 = 0 THEN 'chr23'
                            WHEN o_orderkey % 25 = 0 THEN 'chrM'
                            WHEN o_orderkey % 17 = 0 THEN NULL
                            ELSE 'chr' || CAST(o_orderkey % 22 + 1 AS VARCHAR)
                       END AS chrom,
                       o_orderkey % 100000 + 1 AS startp,
                       CASE WHEN o_orderkey % 89 = 0
                            THEN o_orderkey % 100000 + 1 - 10
                            ELSE o_orderkey % 100000 + 1 + o_orderkey % 50
                       END AS endp,
                       ['A','C','G','T'][CAST(o_orderkey % 4 + 1 AS INT)] AS ref,
                       CASE WHEN o_orderkey % 83 = 0
                            THEN ['A','C','G','T'][CAST(o_orderkey % 4 + 1 AS INT)]
                            WHEN o_orderkey % 97 = 0 THEN 'Z'
                            ELSE ['A','C','G','T'][CAST((o_orderkey + 1) % 4 + 1 AS INT)]
                       END AS alt,
                       CASE WHEN o_orderkey % 79 = 0 THEN -5
                            ELSE o_orderkey % 300 + 10 END AS tr,
                       o_orderkey % 200 AS ta,
                       CASE WHEN o_orderkey % 73 = 0 THEN 'hg20'
                            WHEN o_orderkey % 43 = 0 THEN NULL
                            ELSE 'GRCh37' END AS build,
                       CASE WHEN o_orderkey % 71 = 0 THEN 'SNV'
                            WHEN o_orderkey % 67 = 0 THEN 'INS'
                            WHEN o_orderkey % 61 = 0 THEN 'SNP'
                            WHEN o_orderkey % 59 = 0 THEN 'DEL'
                            ELSE NULL END AS vt,
                       CASE WHEN o_orderkey % 57 = 0 THEN 'TCGA AB'
                            WHEN o_orderkey % 47 = 0 THEN NULL
                            ELSE 'TCGA-' || CAST(o_orderkey AS VARCHAR)
                       END AS barcode,
                       CASE WHEN o_orderkey % 41 = 0 THEN 'Speculative'
                            WHEN o_orderkey % 37 = 0 THEN 'SOMATIC'
                            ELSE 'Somatic' END AS mstatus,
                       CASE WHEN o_orderkey % 53 = 0 THEN 'Bad_Class'
                            ELSE 'Silent' END AS vclass,
                       CASE WHEN o_orderkey % 31 = 0 THEN '-1'
                            ELSE CAST(o_orderkey % 30000 AS VARCHAR)
                       END AS entrez,
                       CASE WHEN o_orderkey % 29 = 0 THEN 'Sketchy'
                            ELSE 'Unknown' END AS valstatus,
                       CASE WHEN o_orderkey % 23 = 0 THEN 'Maybe'
                            ELSE 'Verified' END AS verstatus,
                       CASE WHEN o_orderkey % 19 = 0 THEN '*'
                            ELSE '+' END AS strand,
                       CASE WHEN o_orderkey % 13 = 0 THEN 'X123Y'
                            WHEN o_orderkey % 11 = 0 THEN ''
                            ELSE 'p.V600E' END AS hgvsp
                FROM orders
            ),
            counts AS (
                SELECT
                  sum(CASE WHEN chrom IS NOT NULL AND NOT regexp_matches(
                        chrom, '^(chr)?([1-9]|1[0-9]|2[0-2]|X|Y|M|MT)$')
                      THEN 1 ELSE 0 END) AS v_chrom,
                  sum(CASE WHEN (ref IS NOT NULL AND NOT regexp_matches(ref, '^[ACGTN-]+$'))
                        OR (alt IS NOT NULL AND NOT regexp_matches(alt, '^[ACGTN-]+$'))
                      THEN 1 ELSE 0 END) AS v_allele,
                  sum(CASE WHEN ref IS NOT NULL AND alt IS NOT NULL AND ref = alt
                      THEN 1 ELSE 0 END) AS v_refalt,
                  sum(CASE WHEN startp > endp THEN 1 ELSE 0 END) AS v_pos,
                  sum(CASE WHEN tr < 0 OR ta < 0 THEN 1 ELSE 0 END) AS v_neg,
                  sum(CASE WHEN build IS NOT NULL AND build NOT IN
                        ('37','GRCh37','hg19','38','GRCh38','hg38')
                      THEN 1 ELSE 0 END) AS v_build,
                  sum(CASE WHEN vt IS NOT NULL AND vt NOT IN
                        ('SNP','DNP','TNP','ONP','INS','DEL')
                      THEN 1 ELSE 0 END) AS v_vtvocab,
                  sum(CASE WHEN vt IS NOT NULL AND ref IS NOT NULL AND alt IS NOT NULL
                        AND ((vt = 'SNP' AND NOT (length(ref) = 1 AND length(alt) = 1
                                                  AND ref <> '-' AND alt <> '-'))
                          OR (vt = 'DNP' AND NOT (length(ref) = 2 AND length(alt) = 2))
                          OR (vt = 'TNP' AND NOT (length(ref) = 3 AND length(alt) = 3))
                          OR (vt = 'ONP' AND NOT (length(ref) = length(alt)
                                                  AND length(ref) > 3))
                          OR (vt = 'INS' AND NOT (ref = '-' OR length(alt) > length(ref)))
                          OR (vt = 'DEL' AND NOT (alt = '-' OR length(ref) > length(alt))))
                      THEN 1 ELSE 0 END) AS v_vtallele,
                  sum(CASE WHEN vt IS NOT NULL AND startp IS NOT NULL AND endp IS NOT NULL
                        AND ((vt = 'SNP' AND endp <> startp)
                          OR (vt = 'DEL' AND ref IS NOT NULL AND ref <> '-'
                              AND endp - startp + 1 <> length(ref)))
                      THEN 1 ELSE 0 END) AS v_span,
                  sum(CASE WHEN barcode IS NOT NULL AND NOT regexp_matches(
                        barcode, '^[A-Za-z0-9._-]+$')
                      THEN 1 ELSE 0 END) AS v_barcode,
                  sum(CASE WHEN mstatus IS NOT NULL AND lower(mstatus) NOT IN
                        ('somatic','germline','loh',
                         'post-transcriptional modification',
                         'unknown','wildtype','none')
                      THEN 1 ELSE 0 END) AS v_mstatus,
                  sum(CASE WHEN vclass IS NOT NULL AND vclass <> ''
                        AND vclass NOT IN
                        ('Missense_Mutation','Nonsense_Mutation',
                         'Nonstop_Mutation','Silent','Splice_Site',
                         'Splice_Region','Frame_Shift_Del','Frame_Shift_Ins',
                         'In_Frame_Del','In_Frame_Ins',
                         'Translation_Start_Site','3''UTR','5''UTR',
                         '3''Flank','5''Flank','Intron','RNA','IGR',
                         'Targeted_Region','De_novo_Start_InFrame',
                         'De_novo_Start_OutOfFrame','Fusion','Unknown')
                      THEN 1 ELSE 0 END) AS v_vclass,
                  sum(CASE WHEN entrez IS NOT NULL
                        AND NOT regexp_matches(entrez, '^[0-9]+$')
                      THEN 1 ELSE 0 END) AS v_entrez,
                  sum(CASE WHEN valstatus IS NOT NULL AND lower(valstatus)
                        NOT IN ('valid','invalid','untested','inconclusive',
                                'redacted','unknown','na')
                      THEN 1 ELSE 0 END) AS v_valstatus,
                  sum(CASE WHEN verstatus IS NOT NULL AND lower(verstatus)
                        NOT IN ('verified','unknown','na')
                      THEN 1 ELSE 0 END) AS v_verstatus,
                  sum(CASE WHEN startp < 1 THEN 1 ELSE 0 END) AS v_start,
                  sum(CASE WHEN strand IS NOT NULL
                        AND strand NOT IN ('+','-')
                      THEN 1 ELSE 0 END) AS v_strand,
                  sum(CASE WHEN hgvsp IS NOT NULL AND hgvsp <> ''
                        AND hgvsp NOT LIKE 'p.%'
                      THEN 1 ELSE 0 END) AS v_hgvsp
                FROM maf
            ),
            rules AS (
                SELECT 'maf_chromosome_vocabulary' AS check, v_chrom AS n FROM counts
                UNION ALL SELECT 'maf_allele_alphabet', v_allele FROM counts
                UNION ALL SELECT 'maf_ref_equals_alt', v_refalt FROM counts
                UNION ALL SELECT 'maf_position_order', v_pos FROM counts
                UNION ALL SELECT 'maf_negative_allele_counts', v_neg FROM counts
                UNION ALL SELECT 'maf_ncbi_build', v_build FROM counts
                UNION ALL SELECT 'maf_variant_type_vocabulary', v_vtvocab FROM counts
                UNION ALL SELECT 'maf_allele_vs_variant_type', v_vtallele FROM counts
                UNION ALL SELECT 'maf_position_allele_span', v_span FROM counts
                UNION ALL SELECT 'maf_barcode_format', v_barcode FROM counts
                UNION ALL SELECT 'maf_mutation_status_vocabulary', v_mstatus FROM counts
                UNION ALL SELECT 'maf_variant_classification_vocabulary', v_vclass FROM counts
                UNION ALL SELECT 'maf_entrez_gene_id_format', v_entrez FROM counts
                UNION ALL SELECT 'maf_validation_status_vocabulary', v_valstatus FROM counts
                UNION ALL SELECT 'maf_verification_status_vocabulary', v_verstatus FROM counts
                UNION ALL SELECT 'maf_positive_start', v_start FROM counts
                UNION ALL SELECT 'maf_strand_symbol', v_strand FROM counts
                UNION ALL SELECT 'maf_hgvsp_prefix', v_hgvsp FROM counts
            )
            SELECT "check",
                   CASE WHEN n = 0 THEN 'OK' ELSE 'ERROR' END AS status,
                   CAST(n AS BIGINT) AS observed,
                   CAST(0 AS BIGINT) AS expected,
                   'violating rows' AS detail
            FROM rules
        """,
        "multimodal_frame_sample": """
            SELECT doc_id AS media_id, CAST(f AS INT) AS frame_index
            FROM documents,
                 unnest(range(0, CAST(doc_id % 300 AS INT) + 1, 30)) AS t(f)
        """,
        "s3_header_roundtrip": """
            SELECT c_name AS SAMPLE_ID,
                   CAST(c_custkey AS VARCHAR) AS PATIENT_ID,
                   c_mktsegment AS SEGMENT
            FROM customer WHERE c_custkey <= 500
        """,
        "dedup_components": """
            WITH ids AS (
                SELECT vec_id AS id FROM embeddings WHERE vec_id < 100
                UNION ALL
                SELECT vec_id + 1000000 FROM embeddings WHERE vec_id < 10
                UNION ALL
                SELECT vec_id + 2000000 FROM embeddings WHERE vec_id < 10
            )
            SELECT id,
                   CASE WHEN id >= 2000000 THEN id - 2000000
                        WHEN id >= 1000000 THEN id - 1000000
                        ELSE id END AS component_id,
                   id = (CASE WHEN id >= 2000000 THEN id - 2000000
                              WHEN id >= 1000000 THEN id - 1000000
                              ELSE id END) AS is_keeper
            FROM ids
        """,
        "text_top_ngrams": f"""
            WITH toks AS (SELECT {_TOKS} AS t FROM documents),
            grams AS (
                SELECT g FROM (
                    SELECT list_transform(
                               range(1, greatest(len(t) - 1, 1) + 1),
                               i -> array_to_string(t[i:i+1], ' ')) AS gs
                    FROM toks
                ), unnest(gs) AS u(g)
            )
            SELECT g AS ngram, count(*) AS n_occurrences
            FROM grams GROUP BY g
            ORDER BY n_occurrences DESC, ngram ASC
            LIMIT 20
        """,
        "f8_case_list_render": """
            WITH g AS (
                SELECT c_mktsegment AS cancer_type,
                       count(*) AS n,
                       string_agg(c_name, chr(9) ORDER BY c_name) AS ids
                FROM customer GROUP BY 1
            )
            SELECT cancer_type,
                   cancer_type AS slug,
                   CAST(n AS INT) AS n_ids,
                   'cancer_study_identifier: iatlas_demo' || chr(10) ||
                   'stable_id: iatlas_demo_' || cancer_type || chr(10) ||
                   'case_list_name: Tumor Type: ' || cancer_type || chr(10) ||
                   'case_list_description: All tumors with cancer type '
                       || cancer_type || chr(10) ||
                   'case_list_ids: ' || ids AS rendered
            FROM g
        """,
        "v_validation_suite": """
            WITH checks AS (
                -- V1: artifact count = 2 clinical + 2 meta_clinical +
                -- meta_study + cases_all + one case list per CANCER_TYPE
                -- (c_mktsegment); the Spark side verifies the files exist.
                SELECT 'bundle_files_exist' AS check, e AS observed,
                       e AS expected, format('present={} of {}', e, e) AS detail,
                       true AS ok
                FROM (SELECT 6 + (SELECT count(DISTINCT c_mktsegment)
                                  FROM customer WHERE c_custkey <= 100) AS e)
                UNION ALL
                SELECT 'row_count_preserved', n_out, n_in,
                       format('in={} out={}', n_in, n_out), n_in = n_out
                FROM (SELECT (SELECT count(*) FROM orders) AS n_in,
                             (SELECT count(*) FROM orders) AS n_out)
                UNION ALL
                SELECT 'distinct_o_custkey_preserved', n, n,
                       format('in={} out={}', n, n), true
                FROM (SELECT count(DISTINCT o_custkey) AS n FROM orders)
                UNION ALL
                SELECT 'distinct_c_custkey_preserved', n, n,
                       format('in={} out={}', n, n), true
                FROM (SELECT count(DISTINCT c_custkey) AS n FROM customer)
                UNION ALL
                SELECT 'no_null_o_orderkey',
                       (SELECT count(*) - count(o_orderkey) FROM orders),
                       0, 'null rows in o_orderkey',
                       (SELECT count(*) - count(o_orderkey) FROM orders) = 0
                UNION ALL
                SELECT 'no_null_o_custkey',
                       (SELECT count(*) - count(o_custkey) FROM orders),
                       0, 'null rows in o_custkey',
                       (SELECT count(*) - count(o_custkey) FROM orders) = 0
                UNION ALL
                SELECT 'no_all_null_columns', 0, 0, '', true
                UNION ALL
                SELECT 'maf_row_count_preserved', n_out, n_in,
                       format('in={} out={}', n_in, n_out), n_in = n_out
                FROM (SELECT (SELECT count(*) FROM lineitem) AS n_in,
                             (SELECT count(*) FROM lineitem) AS n_out)
                UNION ALL
                SELECT 'no_dup_lineitem_key', n, 0, 'duplicate key groups', n = 0
                FROM (SELECT count(*) AS n FROM (
                        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
                        FROM lineitem GROUP BY ALL HAVING count(*) > 1))
                UNION ALL
                SELECT 'ordered_custkey_sets_equal',
                       lo + ro, 0, format('left_only={} right_only={}', lo, ro),
                       lo = 0 AND ro = 0
                FROM (SELECT
                        (SELECT count(*) FROM (
                            SELECT DISTINCT c_custkey FROM customer
                            WHERE c_custkey IN (SELECT o_custkey FROM orders)
                            EXCEPT SELECT DISTINCT o_custkey FROM orders)) AS lo,
                        (SELECT count(*) FROM (
                            SELECT DISTINCT o_custkey FROM orders
                            EXCEPT SELECT DISTINCT c_custkey FROM customer
                            WHERE c_custkey IN (SELECT o_custkey FROM orders))) AS ro)
                UNION ALL
                SELECT 'no_null_l_quantity',
                       (SELECT count(*) - count(l_quantity) FROM lineitem),
                       0, 'null rows in l_quantity',
                       (SELECT count(*) - count(l_quantity) FROM lineitem) = 0
                UNION ALL
                SELECT 'lineitem_schema', 0, 0, '', true
                UNION ALL
                SELECT 'nation_region_keysets_equal',
                       lo + ro, 0, format('left_only={} right_only={}', lo, ro),
                       lo = 0 AND ro = 0
                FROM (SELECT
                        (SELECT count(*) FROM (
                            SELECT DISTINCT n_regionkey FROM nation
                            EXCEPT SELECT DISTINCT r_regionkey FROM region)) AS lo,
                        (SELECT count(*) FROM (
                            SELECT DISTINCT r_regionkey FROM region
                            EXCEPT SELECT DISTINCT n_regionkey FROM nation)) AS ro)
                UNION ALL
                SELECT 'no_dup_custkey', n, 0, 'duplicate key groups', n = 0
                FROM (SELECT count(*) AS n FROM (
                        SELECT c_custkey FROM customer
                        GROUP BY 1 HAVING count(*) > 1))
            )
            SELECT "check",
                   CASE WHEN ok THEN 'OK' ELSE 'ERROR' END AS status,
                   CAST(observed AS BIGINT) AS observed,
                   CAST(expected AS BIGINT) AS expected,
                   detail
            FROM checks
        """,
        "dedup_exact": """
            SELECT sha256(text) AS text_sha256,
                   min(doc_id) AS doc_id,
                   count(*) AS n_copies
            FROM documents GROUP BY sha256(text)
        """,
        "dedup_ngram_jaccard": f"""
            WITH toks AS (
                SELECT doc_id AS id, lang, {_TOKS} AS t FROM documents
            ),
            shingled AS (
                SELECT id, lang, sh FROM (
                    SELECT id, lang,
                           list_distinct(list_transform(
                               range(1, greatest(len(t) - 2, 1) + 1),
                               i -> array_to_string(t[i:i+2], ' '))) AS shs
                    FROM toks
                ), unnest(shs) AS u(sh)
            ),
            sizes AS (SELECT id, count(*) AS set_size FROM shingled GROUP BY id),
            common AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
                FROM shingled a JOIN shingled b
                  ON a.sh = b.sh AND a.lang = b.lang AND a.id < b.id
                GROUP BY a.id, b.id
            )
            SELECT id_a, id_b, n_common,
                   sa.set_size AS n_a, sb.set_size AS n_b,
                   round(CAST(n_common AS DOUBLE)
                         / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
            FROM common
            JOIN sizes sa ON common.id_a = sa.id
            JOIN sizes sb ON common.id_b = sb.id
            WHERE CAST(n_common AS DOUBLE)
                  / (sa.set_size + sb.set_size - n_common) >= 0.2
        """,
        "sim_topk_bruteforce": """
            WITH q AS (SELECT vec_id AS query_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                       FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                       FROM embeddings),
                 scored AS (
                    SELECT q.query_id, c.vec_id,
                           round(
                             list_reduce(list_transform(range(1, len(qv) + 1),
                                         i -> qv[i] * cv[i]), (x, y) -> x + y)
                             / (sqrt(list_reduce(list_transform(range(1, len(qv) + 1),
                                         i -> qv[i] * qv[i]), (x, y) -> x + y))
                              * sqrt(list_reduce(list_transform(range(1, len(cv) + 1),
                                         i -> cv[i] * cv[i]), (x, y) -> x + y))),
                             6) AS cosine_sim
                    FROM q JOIN c ON q.query_id <> c.vec_id
                 )
            SELECT query_id, vec_id, cosine_sim,
                   CAST(rank AS INTEGER) AS rank
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cosine_sim DESC, vec_id ASC) AS rank
                FROM scored
            )
            WHERE rank <= 10
        """,
        "dedup_minhash_lsh": f"""
            WITH toks AS (
                SELECT doc_id AS id, {_TOKS} AS t FROM documents
            ),
            shingled AS (
                SELECT id, sh FROM (
                    SELECT id,
                           list_distinct(list_transform(
                               range(1, greatest(len(t) - 2, 1) + 1),
                               i -> array_to_string(t[i:i+2], ' '))) AS shs
                    FROM toks
                ), unnest(shs) AS u(sh)
            ),
            sizes AS (SELECT id, count(*) AS set_size FROM shingled GROUP BY id),
            common AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
                FROM shingled a JOIN shingled b
                  ON a.sh = b.sh AND a.id < b.id
                GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   round(CAST(n_common AS DOUBLE)
                         / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
            FROM common
            JOIN sizes sa ON common.id_a = sa.id
            JOIN sizes sb ON common.id_b = sb.id
            WHERE CAST(n_common AS DOUBLE)
                  / (sa.set_size + sb.set_size - n_common) >= 0.2
        """,
        "dedup_simhash": """
            SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
                   CAST(0 AS INTEGER) AS hamming
            FROM documents WHERE doc_id < 20
        """,
        "sim_ann_lsh": _cosine_twin_oracle(2.0, 5),
        "sim_ivf_topk": _cosine_twin_oracle(2.0, 5),
        "sim_ivf_trained": _cosine_twin_oracle(2.0, 5),
        "embedding_near_dup": """
            WITH p AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS va,
                              list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.5) AS vb
                       FROM embeddings WHERE vec_id < 20)
            SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
                   round(
                     list_reduce(list_transform(range(1, len(va) + 1),
                                 i -> va[i] * vb[i]), (x, y) -> x + y)
                     / (sqrt(list_reduce(list_transform(range(1, len(va) + 1),
                                 i -> va[i] * va[i]), (x, y) -> x + y))
                      * sqrt(list_reduce(list_transform(range(1, len(vb) + 1),
                                 i -> vb[i] * vb[i]), (x, y) -> x + y))),
                     6) AS cosine_sim
            FROM p
        """,
        "multimodal_features": f"""
            SELECT doc_id AS media_id,
                   CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
                   length(text) AS n_bytes,
                   {", ".join(_mm_lane_sql(j) for j in range(8))}
            FROM documents
        """,
        "text_token_stats": f"""
            SELECT doc_id,
                   length(text) AS n_chars_computed,
                   len({_TOKS}) AS n_tokens,
                   round(CASE WHEN len({_TOKS}) > 0
                         THEN CAST(list_aggregate(list_transform({_TOKS},
                              t -> length(t)), 'sum') AS DOUBLE) / len({_TOKS})
                         ELSE 0.0 END, 4) AS mean_token_len
            FROM documents
        """,
        "text_fingerprint": """
            SELECT doc_id,
                   CASE WHEN length(text) = 0 THEN 0
                        ELSE list_reduce(
                            list_transform(range(1, length(text) + 1),
                                           i -> CAST(ascii(text[i]) AS BIGINT)),
                            (acc, c) -> (acc * 31 + c) % 1000000007)
                   END AS fingerprint,
                   length(text) AS n_chars_computed
            FROM documents
        """,
        "tpch_q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
                    AS sum_qty,
                CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS sum_base_price,
                CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2)
                    AS DOUBLE) AS sum_disc_price,
                CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                    * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))), 2)
                    AS DOUBLE) AS sum_charge,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    / count(*), 6) AS avg_qty,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                    / count(*), 6) AS avg_price,
                round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                    / count(*), 6) AS avg_disc,
                count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3_shipping_priority": """
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2))
                          - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                       AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING'
              AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1998-03-15'
              AND l_shipdate > TIMESTAMP '1998-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "tpch_q5_local_supplier": """
            SELECT n_name,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2))
                          - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                       AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey
              AND c_nationkey = s_nationkey
              AND c_nationkey = n_nationkey
              AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "tpch_q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-07-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_returnflag = 'R')
            GROUP BY o_orderpriority
        """,
        "tpch_q6_forecast_revenue": """
            SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE)
                       AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "tpch_q7_volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INTEGER) AS l_year,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2))
                          - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                       AS revenue
            FROM lineitem, orders, customer, supplier, nation n1, nation n2
            WHERE l_orderkey = o_orderkey
              AND o_custkey = c_custkey
              AND l_suppkey = s_suppkey
              AND s_nationkey = n1.n_nationkey
              AND c_nationkey = n2.n_nationkey
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY 1, 2, 3
        """,
        "tpch_q10_returned_items": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2))
                          - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                       AS revenue
            FROM customer, orders, lineitem, nation
            WHERE c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
              AND l_returnflag = 'R'
              AND c_nationkey = n_nationkey
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "tpch_q13_order_distribution": """
            SELECT c_count, count(*) AS custdist FROM (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                GROUP BY c_custkey
            ) GROUP BY c_count
        """,
        "tpch_q15_top_supplier": """
            WITH by_supp AS (
                SELECT l_suppkey,
                       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (CAST(1 AS DECIMAL(18,2))
                              - CAST(l_discount AS DECIMAL(18,2)))), 2)
                           AS DOUBLE) AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM by_supp, supplier
            WHERE l_suppkey = s_suppkey
              AND total_revenue = (SELECT max(total_revenue) FROM by_supp)
        """,
        "tpch_q14_promo_share": """
            SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2))
                               - CAST(l_discount AS DECIMAL(18,2)))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                   / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2))
                          - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6)
                   AS promo_revenue_pct
            FROM lineitem, part
            WHERE l_partkey = p_partkey
              AND l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
        """,
        "tpch_q18_large_volume": """
            WITH big AS (
                SELECT l_orderkey,
                       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2)
                            AS DOUBLE) AS sum_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2)
                            AS DOUBLE) > 250.0
            )
            SELECT c_name, c_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_totalprice, sum_qty
            FROM big, orders, customer
            WHERE o_orderkey = l_orderkey AND c_custkey = o_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 100
        """,
        "tpch_q2_min_cost_supplier": """
            WITH offers AS (
                SELECT l_partkey, l_suppkey,
                       min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
                FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_type = 'LARGE' AND p_size <= 15)
                GROUP BY 1, 2
            ), best AS (
                SELECT l_partkey AS b_partkey, min(cost) AS min_cost
                FROM offers GROUP BY 1
            )
            SELECT s_acctbal, s_name, n_name, p_partkey, p_name, s_suppkey,
                   CAST(cost AS DOUBLE) AS min_supplycost
            FROM offers, best, part, supplier, nation, region
            WHERE offers.l_partkey = b_partkey AND cost = min_cost
              AND p_partkey = offers.l_partkey
              AND s_suppkey = offers.l_suppkey
              AND s_nationkey = n_nationkey
              AND n_regionkey = r_regionkey
              AND r_name = 'EUROPE'
            ORDER BY s_acctbal DESC, p_partkey ASC, s_suppkey ASC
            LIMIT 100
        """,
        "tpch_q8_market_share": """
            SELECT o_year,
                   round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
                                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                         / CAST(sum(vol) AS DOUBLE), 6) AS mkt_share
            FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                         CAST(l_extendedprice AS DECIMAL(18,2))
                             * (CAST(1 AS DECIMAL(18,2))
                                - CAST(l_discount AS DECIMAL(18,2))) AS vol,
                         n2.n_name AS supp_nation
                  FROM lineitem, orders, customer, supplier,
                       nation n1, nation n2, region, part
                  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
                    AND l_suppkey = s_suppkey AND l_partkey = p_partkey
                    AND p_type = 'STANDARD'
                    AND c_nationkey = n1.n_nationkey
                    AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
                    AND s_nationkey = n2.n_nationkey
                    AND o_orderdate >= TIMESTAMP '1995-01-01'
                    AND o_orderdate < TIMESTAMP '1997-01-01')
            GROUP BY o_year
        """,
        "tpch_q9_product_profit": """
            SELECT nation, o_year,
                   CAST(round(sum(amount), 2) AS DOUBLE) AS profit
            FROM (SELECT n_name AS nation,
                         CAST(year(o_orderdate) AS INTEGER) AS o_year,
                         CAST(l_extendedprice AS DECIMAL(18,2))
                             * (CAST(1 AS DECIMAL(18,2))
                                - CAST(l_discount AS DECIMAL(18,2)))
                         - CAST(p_retailprice AS DECIMAL(18,2))
                             * CAST(l_quantity AS DECIMAL(18,2)) AS amount
                  FROM lineitem, orders, supplier, part, nation
                  WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
                    AND l_partkey = p_partkey AND s_nationkey = n_nationkey
                    AND p_name LIKE 'red%')
            GROUP BY nation, o_year
        """,
        "tpch_q11_important_parts": """
            WITH v AS (
                SELECT l_partkey,
                       sum(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (CAST(1 AS DECIMAL(18,2))
                              - CAST(l_discount AS DECIMAL(18,2)))) AS value_dec
                FROM lineitem
                WHERE l_suppkey IN (SELECT s_suppkey FROM supplier, nation
                                    WHERE s_nationkey = n_nationkey
                                      AND n_name = 'NATION_5')
                GROUP BY l_partkey
            )
            SELECT l_partkey, CAST(round(value_dec, 2) AS DOUBLE) AS part_value
            FROM v
            WHERE CAST(value_dec AS DOUBLE) >
                  (SELECT CAST(sum(value_dec) AS DOUBLE) * 0.001 FROM v)
        """,
        "tpch_q12_late_priority": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem, orders
            WHERE l_orderkey = o_orderkey
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND date_diff('day', o_orderdate, l_shipdate) > 90
            GROUP BY l_returnflag
        """,
        "tpch_q16_supplier_counts": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem, part
            WHERE p_partkey = l_partkey
              AND p_brand <> 'Brand#5' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
        """,
        "tpch_q17_small_qty_revenue": """
            WITH li AS (
                SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_brand = 'Brand#3'
                                      AND p_type = 'SMALL')
            ), pa AS (
                SELECT l_partkey AS a_partkey,
                       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                           / count(*) AS avg_qty
                FROM li GROUP BY 1
            )
            SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                              AS DOUBLE) / 7.0, 2) AS avg_yearly
            FROM li, pa
            WHERE l_partkey = a_partkey AND l_quantity < 0.2 * avg_qty
        """,
        "tpch_q19_brand_bands": """
            SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2))
                          - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                       AS revenue
            FROM lineitem, part
            WHERE p_partkey = l_partkey
              AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                    AND l_quantity BETWEEN 1 AND 11)
                OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                    AND l_quantity BETWEEN 10 AND 20)
                OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
                    AND l_quantity BETWEEN 20 AND 30))
        """,
        "tpch_q20_excess_shipping": """
            SELECT s_name, s_acctbal
            FROM supplier, nation
            WHERE s_nationkey = n_nationkey AND n_name = 'NATION_7'
              AND s_suppkey IN (
                SELECT l_suppkey FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_name LIKE 'red%')
                GROUP BY l_suppkey, l_partkey
                HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                       > 100.0)
        """,
        "tpch_q21_waiting_suppliers": """
            WITH per_order AS (
                SELECT l_orderkey AS po_orderkey,
                       count(DISTINCT l_suppkey) AS n_supp,
                       count(DISTINCT CASE WHEN l_returnflag = 'R'
                                           THEN l_suppkey END) AS n_bad_supp
                FROM lineitem GROUP BY 1
            )
            SELECT s_name, count(*) AS numwait
            FROM lineitem l1, supplier, nation, orders, per_order
            WHERE l1.l_returnflag = 'R'
              AND l1.l_suppkey = s_suppkey
              AND s_nationkey = n_nationkey AND n_name = 'NATION_2'
              AND l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
              AND l1.l_orderkey = po_orderkey
              AND n_supp > 1 AND n_bad_supp = 1
            GROUP BY s_name
            ORDER BY numwait DESC, s_name ASC
            LIMIT 100
        """,
        "tpch_q22_sales_opportunity": """
            WITH seg AS (
                SELECT * FROM customer
                WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE','MACHINERY')
            ), avg_bal AS (
                SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                           / count(*) AS avg_bal
                FROM seg WHERE c_acctbal > 0
            )
            SELECT c_mktsegment, count(*) AS numcust,
                   CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2)
                        AS DOUBLE) AS totacctbal
            FROM seg, avg_bal
            WHERE c_acctbal > avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY c_mktsegment
        """,
        "range_join_qty_size": """
            SELECT qty, size_lo, size_hi
            FROM (SELECT DISTINCT CAST(l_quantity AS BIGINT) AS qty FROM lineitem)
            JOIN (SELECT size_lo, size_lo + 2 AS size_hi FROM
                    (SELECT DISTINCT CAST(p_size AS BIGINT) AS size_lo FROM part))
              ON qty BETWEEN size_lo AND size_hi
        """,
        "asof_join_last_purchase": """
            SELECT e.event_id, e.user_id, e.event_type,
                   round(p.value, 6) AS last_purchase_value
            FROM events e
            ASOF LEFT JOIN (
                SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase'
            ) p ON e.user_id = p.user_id AND e.ts >= p.ts
        """,
        "window_topk_per_group": """
            SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk
            FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       rank() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey ASC)
                           AS rk
                FROM orders
            ) WHERE rk <= 2
        """,
        "rollup_revenue": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2))
                          - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                       AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "cube_revenue": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2))
                          - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                       AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "window_moving_avg": """
            WITH daily AS (
                SELECT CAST(o_orderdate AS DATE) AS day,
                       sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
                FROM orders GROUP BY 1
            )
            SELECT strftime(a.day, '%Y-%m-%d') AS day,
                   CAST(round(a.rev, 2) AS DOUBLE) AS day_revenue,
                   round(CAST(sum(b.rev) AS DOUBLE) / count(*), 4) AS ma7
            FROM daily a JOIN daily b ON b.day BETWEEN a.day - 6 AND a.day
            GROUP BY a.day, a.rev
        """,
        "percentiles_by_segment": """
            WITH ranked AS (
                SELECT c_mktsegment, o_totalprice,
                       row_number() OVER (PARTITION BY c_mktsegment
                           ORDER BY o_totalprice, o_orderkey) AS rn,
                       count(*) OVER (PARTITION BY c_mktsegment) AS n
                FROM orders, customer WHERE o_custkey = c_custkey
            )
            SELECT c_mktsegment,
                   max(CASE WHEN rn = (n + 1) // 2
                            THEN o_totalprice END) AS median_price,
                   max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                            THEN o_totalprice END) AS p90_price
            FROM ranked GROUP BY c_mktsegment
        """,
        "events_attribution": """
            SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
                   strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
                   strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
                   CAST(round(CAST(p.value AS DECIMAL(18,2)), 2) AS DOUBLE)
                       AS purchase_value
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        """,
        "events_json_extract": """
            SELECT event_type, count(k) AS n,
                   CAST(sum(k) AS BIGINT) AS k_sum,
                   round(CAST(sum(k) AS DOUBLE) / count(k), 6) AS k_avg
            FROM (SELECT event_type,
                         CAST(json_extract(props, '$.k') AS BIGINT) AS k
                  FROM events)
            GROUP BY event_type
        """,
        "stream_hourly_counts": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS window_start,
                   event_type,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
                       AS value_sum
            FROM events GROUP BY 1, 2
        """,
        "events_sessionize": """
            WITH flagged AS (
                SELECT user_id, ts,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                 > 30 * 60 * 1000000
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sessions AS (
                SELECT user_id, ts,
                       sum(new_session) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
                FROM flagged
            )
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   count(*) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
            FROM sessions GROUP BY user_id, session_id
        """,
        # quality_score / language_id oracles land with the same formulas in
        # SQL; minhash/simhash/ANN are sketch-based (engine-native hashing) —
        # rows-only checks by design.
        "text_quality_score": f"""
            WITH base AS (
                SELECT doc_id,
                       len({_TOKS}) AS n_tokens,
                       CASE WHEN length(text) > 0
                            THEN CAST(length(regexp_replace(text,
                                 '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                                 / length(text)
                            ELSE 0.0 END AS punct_ratio,
                       CASE WHEN len({_TOKS}) > 0
                            THEN CAST(len(list_filter({_TOKS},
                                 t -> list_contains(
                                    ['the','and','of','to','a','in','is','it',
                                     'that','for'], lower(t)))) AS DOUBLE)
                                 / len({_TOKS})
                            ELSE 0.0 END AS stopword_ratio
                FROM documents
            )
            SELECT doc_id, n_tokens,
                   round(punct_ratio, 6) AS punct_ratio,
                   round(stopword_ratio, 6) AS stopword_ratio,
                   round(
                     (CASE WHEN n_tokens >= 20 THEN 0.4
                           ELSE CAST(n_tokens AS DOUBLE) / 50.0 END)
                   + (CASE WHEN punct_ratio < 0.1 THEN 0.3
                           ELSE greatest(0.0, 0.3 - punct_ratio) END)
                   + least(stopword_ratio * 3.0, 0.3), 6) AS quality_score
            FROM base
        """,
        "text_language_report": f"""
            WITH hits AS (
                SELECT doc_id,
                    len(list_filter({_TOKS}, t -> list_contains(
                        ['der','die','das','und','ist','nicht','ein','mit','zu','den'],
                        lower(t)))) AS hits_de,
                    len(list_filter({_TOKS}, t -> list_contains(
                        ['the','and','of','to','a','in','is','it','that','for'],
                        lower(t)))) AS hits_en,
                    len(list_filter({_TOKS}, t -> list_contains(
                        ['el','la','los','y','es','no','un','una','por','para'],
                        lower(t)))) AS hits_es,
                    len(list_filter({_TOKS}, t -> list_contains(
                        ['le','la','les','et','est','pas','un','une','pour','dans'],
                        lower(t)))) AS hits_fr
                FROM documents
            ),
            lid AS (
                SELECT doc_id,
                       CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0
                            THEN 'und'
                            WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr)
                            THEN 'de'
                            WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr)
                            THEN 'en'
                            WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr)
                            THEN 'es'
                            ELSE 'fr' END AS predicted_lang,
                       greatest(hits_de, hits_en, hits_es, hits_fr) AS n_hits
                FROM hits
            )
            SELECT predicted_lang, count(*) AS n_docs,
                   round(avg(n_hits), 4) AS avg_hits
            FROM lid GROUP BY predicted_lang
        """,
        "text_bpe_token_count": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                       '([A-Za-z]{1,6}|[0-9]|[^A-Za-z0-9\\s])', 1)) AS INTEGER)
                       AS n_bpe_tokens
            FROM documents
        """,
        "dedup_exact_groups": """
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10
            )
            SELECT text_sha256, member_ids_csv, n_copies FROM (
                SELECT sha256(text) AS text_sha256,
                       array_to_string(list_sort(list(doc_id)), ',')
                           AS member_ids_csv,
                       count(*) AS n_copies
                FROM corpus GROUP BY sha256(text)
            ) WHERE n_copies > 1
        """,
        "text_language_id": f"""
            WITH hits AS (
                SELECT doc_id,
                    len(list_filter({_TOKS}, t -> list_contains(
                        ['der','die','das','und','ist','nicht','ein','mit','zu','den'],
                        lower(t)))) AS hits_de,
                    len(list_filter({_TOKS}, t -> list_contains(
                        ['the','and','of','to','a','in','is','it','that','for'],
                        lower(t)))) AS hits_en,
                    len(list_filter({_TOKS}, t -> list_contains(
                        ['el','la','los','y','es','no','un','una','por','para'],
                        lower(t)))) AS hits_es,
                    len(list_filter({_TOKS}, t -> list_contains(
                        ['le','la','les','et','est','pas','un','une','pour','dans'],
                        lower(t)))) AS hits_fr
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0
                        THEN 'und'
                        WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr)
                        THEN 'de'
                        WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr)
                        THEN 'en'
                        WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr)
                        THEN 'es'
                        ELSE 'fr' END AS predicted_lang,
                   CAST(greatest(hits_de, hits_en, hits_es, hits_fr) AS INTEGER)
                       AS n_hits
            FROM hits
        """,
    }
    d["stream_dedup_keys"] = """
        SELECT DISTINCT user_id, event_type FROM events
    """
    # window w=60, stride s=48 (overlap 12): chunk i = tokens [i*48, i*48+60)
    d["text_chunking"] = f"""
        WITH base AS (
            SELECT doc_id, {_TOKS} AS t, len({_TOKS}) AS n FROM documents
        ),
        chunked AS (
            SELECT doc_id, t, CAST(i AS INT) AS chunk_id
            FROM (
                SELECT doc_id, t, n,
                       CASE WHEN n <= 60 THEN 1
                            ELSE (n - 60 + 47) // 48 + 1 END AS n_chunks
                FROM base WHERE n > 0
            ), unnest(range(0, n_chunks)) AS u(i)
        )
        SELECT doc_id, chunk_id,
               CAST(len(t[chunk_id * 48 + 1 : chunk_id * 48 + 60]) AS INT)
                   AS n_chunk_tokens,
               array_to_string(t[chunk_id * 48 + 1 : chunk_id * 48 + 60], ' ')
                   AS chunk_text
        FROM chunked
    """
    d["sim_quantize_codes"] = """
        WITH dims AS (SELECT unnest(range(1, 65)) AS pos),
        vals AS (
            SELECT pos,
                   min(CAST(e.embedding[pos] AS DOUBLE)) AS mn,
                   max(CAST(e.embedding[pos] AS DOUBLE)) AS mx
            FROM embeddings e CROSS JOIN dims GROUP BY pos
        ),
        ranges AS (
            SELECT list(mn ORDER BY pos) AS mins,
                   list(CASE WHEN mx > mn THEN mx - mn ELSE 1.0 END
                        ORDER BY pos) AS spans
            FROM vals
        )
        SELECT vec_id,
               array_to_string(list_transform(range(1, 65),
                   i -> CAST(CAST(round(
                        (CAST(embedding[i] AS DOUBLE) - mins[i])
                        / spans[i] * 255, 0) AS INT) AS VARCHAR)), ',')
                   AS codes_csv
        FROM embeddings, ranges
        WHERE vec_id < 50
    """
    d["sim_pq_codes"] = """
        WITH cb AS (
            SELECT vec_id AS c,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
            FROM embeddings WHERE vec_id < 16
        ),
        v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
            FROM embeddings WHERE vec_id < 50
        ),
        sub AS (SELECT unnest(range(0, 8)) AS j),
        dists AS (
            SELECT v.vec_id, sub.j, cb.c,
                   list_reduce(list_prepend(0.0,
                       list_transform(range(1, 9),
                           i -> (ev[j * 8 + i] - cv[j * 8 + i])
                                * (ev[j * 8 + i] - cv[j * 8 + i]))),
                       (a, b) -> a + b) AS d2
            FROM v CROSS JOIN sub CROSS JOIN cb
        ),
        best AS (
            SELECT vec_id, j, c FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id, j ORDER BY d2 ASC, c ASC) AS rn
                FROM dists
            ) WHERE rn = 1
        )
        SELECT vec_id,
               string_agg(CAST(c AS VARCHAR), ',' ORDER BY j) AS codes_csv
        FROM best GROUP BY vec_id
    """
    d["source_mixture"] = """
        SELECT doc_id, source FROM documents
        WHERE (doc_id * 2654435761 % 1000003) % 10000 <
              CASE source WHEN 'src0' THEN 8000
                          WHEN 'src1' THEN 4000
                          ELSE 1000 END
    """
    d["data_splits"] = """
        SELECT doc_id,
               CASE WHEN (doc_id * 2654435761 % 1000003) % 10000 < 9000
                    THEN 'train'
                    WHEN (doc_id * 2654435761 % 1000003) % 10000 < 9500
                    THEN 'val'
                    ELSE 'test' END AS split,
               (doc_id * 2654435761 % 1000003) % 10000 < 2000 AS in_sample
        FROM documents
    """
    d["text_bm25"] = f"""
        WITH toks AS (
            SELECT doc_id, lower(t) AS term
            FROM (SELECT doc_id, {_TOKS} AS ts FROM documents), unnest(ts) AS u(t)
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        consts AS (SELECT (SELECT count(*) FROM documents) AS n,
                          (SELECT avg(dl) FROM dl) AS avgdl),
        q(query_id, term) AS (
            VALUES (1, 'scan'), (1, 'column'), (1, 'filter'),
                   (2, 'window'), (2, 'merge'), (2, 'join')
        ),
        scored AS (
            SELECT q.query_id, tf.doc_id,
                   ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5)
                            / (CAST(df AS DOUBLE) + 0.5))
                   * CAST(tf AS DOUBLE) * (1.2 + 1.0)
                   / (CAST(tf AS DOUBLE)
                      + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
            FROM tf
            JOIN q USING (term)
            JOIN dl USING (doc_id)
            JOIN dfreq USING (term)
            CROSS JOIN consts
        ),
        agg AS (
            SELECT query_id, doc_id, round(sum(s), 6) AS bm25
            FROM scored GROUP BY 1, 2
        )
        SELECT query_id, doc_id, bm25, CAST(rank AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC) AS rank
              FROM agg)
        WHERE rank <= 10
    """
    d["text_tfidf"] = f"""
        WITH toks AS (
            SELECT doc_id, lower(t) AS term
            FROM (SELECT doc_id, {_TOKS} AS ts FROM documents), unnest(ts) AS u(t)
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        doclen AS (SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   round((CAST(tf.tf AS DOUBLE) / doclen.doc_len)
                         * (ln((CAST(n.n_docs AS DOUBLE) + 1.0)
                                / (CAST(dfreq.df AS DOUBLE) + 1.0)) + 1.0),
                         6) AS tf_idf
            FROM tf JOIN doclen USING(doc_id) JOIN dfreq USING(term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, tf_idf, CAST(rank AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY doc_id ORDER BY tf_idf DESC, term ASC) AS rank
              FROM scored)
        WHERE rank <= 5
    """
    d["text_cosine_pairs"] = f"""
        WITH toks AS (
            SELECT doc_id, lower(t) AS term
            FROM (SELECT doc_id, {_TOKS} AS ts FROM documents
                  WHERE doc_id < 2000), unnest(ts) AS u(t)
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        norms AS (SELECT doc_id, sum(tf * tf) AS n2 FROM tf GROUP BY 1),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        p AS (SELECT doc_id, term, tf FROM tf
              JOIN (SELECT term FROM dfreq WHERE df >= 2) k USING (term)),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
            FROM p a JOIN p b ON a.term = b.term AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, dot,
               round(dot / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2), 6) AS cosine
        FROM pairs
        JOIN norms na ON na.doc_id = pairs.doc_a
        JOIN norms nb ON nb.doc_id = pairs.doc_b
        WHERE CAST(dot AS HUGEINT) * dot * 400
              >= 361 * CAST(na.n2 AS HUGEINT) * nb.n2
        ORDER BY doc_a, doc_b
    """
    # Naive Bayes: the oracle re-derives the WHOLE model (priors,
    # Laplace-smoothed likelihoods, OOV default) from the same train split
    # and replays the decimal-lane scoring — not a canned answer key.
    d["text_naive_bayes"] = f"""
        WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
        test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
        train_toks AS (
            SELECT lang AS label, u.tok
            FROM (SELECT lang, {_TOKS} AS t FROM train), unnest(t) AS u(tok)
        ),
        class_tok AS (
            SELECT label, tok, count(*) AS cnt FROM train_toks GROUP BY 1, 2
        ),
        vocab AS (SELECT count(DISTINCT tok) AS v FROM class_tok),
        class_tot AS (SELECT label, sum(cnt) AS tot FROM class_tok GROUP BY 1),
        n_train AS (SELECT count(*) AS n FROM train),
        classes AS (
            SELECT p.label,
                   CAST(log10(p.n_docs / CAST(n.n AS DOUBLE))
                        AS DECIMAL(28,12)) AS prior_dec,
                   CAST(log10(1.0 / CAST(t.tot + v.v AS DOUBLE))
                        AS DECIMAL(28,12)) AS default_dec
            FROM (SELECT lang AS label, count(*) AS n_docs
                  FROM train GROUP BY 1) p
            JOIN class_tot t USING (label)
            CROSS JOIN vocab v CROSS JOIN n_train n
        ),
        trained AS (
            SELECT label, tok,
                   CAST(log10(CAST(cnt + 1 AS DOUBLE)
                              / CAST(tot + v.v AS DOUBLE))
                        AS DECIMAL(28,12)) AS lp_dec
            FROM class_tok JOIN class_tot USING (label) CROSS JOIN vocab v
        ),
        tf AS (
            SELECT id, tok, count(*) AS tf FROM (
                SELECT doc_id AS id, u.tok
                FROM (SELECT doc_id, {_TOKS} AS t FROM test),
                     unnest(t) AS u(tok)
            ) GROUP BY 1, 2
        ),
        contrib AS (
            SELECT tf.id, c.label,
                   CAST(tf.tf AS DECIMAL(10,0))
                       * coalesce(tr.lp_dec, c.default_dec) AS c_dec
            FROM tf
            CROSS JOIN (SELECT label, default_dec FROM classes) c
            LEFT JOIN trained tr ON tr.tok = tf.tok AND tr.label = c.label
        ),
        contrib_sum AS (
            SELECT id, label, sum(c_dec) AS s_dec FROM contrib GROUP BY 1, 2
        ),
        scores AS (
            SELECT d.id, d.true_label, c.label,
                   c.prior_dec + coalesce(cs.s_dec,
                       CAST(0 AS DECIMAL(28,12))) AS score_dec
            FROM (SELECT doc_id AS id, lang AS true_label FROM test) d
            CROSS JOIN classes c
            LEFT JOIN contrib_sum cs
                ON cs.id = d.id AND cs.label = c.label
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY id ORDER BY score_dec DESC, label ASC) AS rn
            FROM scores
        )
        SELECT id AS doc_id, true_label, label AS pred_label,
               CAST(round(score_dec, 6) AS DOUBLE) AS score_pred,
               label = true_label AS correct
        FROM ranked WHERE rn = 1
        ORDER BY doc_id
    """
    d["graph_sssp"] = _sssp_oracle(source=1, rounds=4)
    d["stats_covariance_matrix"] = _cov_oracle(dims=8)
    # winsorize: rank-pick quantiles (k = max(1, ceil(q*n))), exact sums
    d["stats_winsorize"] = """
        WITH v AS MATERIALIZED (
            SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c
            FROM orders
        ),
        nn AS (SELECT count(*) AS n FROM v),
        r AS MATERIALIZED (
            SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v
        ),
        bounds AS (
            SELECT
                (SELECT CAST(greatest(ceil(0.05 * n), 1) AS BIGINT)
                 FROM nn) AS k_lo,
                (SELECT CAST(greatest(ceil(0.95 * n), 1) AS BIGINT)
                 FROM nn) AS k_hi
        ),
        picked AS (
            SELECT k_lo,
                   (SELECT c FROM r WHERE rn = bounds.k_lo) AS lo,
                   k_hi,
                   (SELECT c FROM r WHERE rn = bounds.k_hi) AS hi
            FROM bounds
        )
        SELECT nn.n AS n,
               picked.k_lo AS k_low, picked.lo AS low_value,
               picked.k_hi AS k_high, picked.hi AS high_value,
               (SELECT count(*) FROM v WHERE c < picked.lo)
                   AS n_clamped_low,
               (SELECT count(*) FROM v WHERE c > picked.hi)
                   AS n_clamped_high,
               (SELECT CAST(CAST(sum(c) AS DECIMAL(38,0)) AS VARCHAR)
                FROM v) AS sum_original,
               (SELECT CAST(CAST(sum(least(greatest(c, picked.lo),
                                           picked.hi)) AS DECIMAL(38,0))
                            AS VARCHAR)
                FROM v) AS sum_winsorized
        FROM picked CROSS JOIN nn
    """
    # class balancing: replay the portable-hash ranking per class
    d["sample_class_balanced"] = """
        WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        t AS (SELECT min(n) AS target FROM c),
        r AS (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY (doc_id * 2654435761 % 1000003) % 10000 ASC,
                                doc_id ASC) AS rk
            FROM documents
        )
        SELECT doc_id, lang FROM r CROSS JOIN t
        WHERE rk <= target ORDER BY doc_id
    """
    # leakage-safe splits: the planted components labeling + the portable
    # hash of the COMPONENT id (not the row id)
    d["sample_leakage_safe_splits"] = """
        WITH ids AS (
            SELECT vec_id AS id FROM embeddings WHERE vec_id < 100
            UNION ALL
            SELECT vec_id + 1000000 FROM embeddings WHERE vec_id < 10
            UNION ALL
            SELECT vec_id + 2000000 FROM embeddings WHERE vec_id < 10
        ),
        lab AS (
            SELECT id, CASE WHEN id >= 2000000 THEN id - 2000000
                            WHEN id >= 1000000 THEN id - 1000000
                            ELSE id END AS component_id
            FROM ids
        )
        SELECT id, component_id, id = component_id AS is_keeper,
               CASE WHEN (component_id * 2654435761 % 1000003) % 10000
                         < 9000 THEN 'train'
                    WHEN (component_id * 2654435761 % 1000003) % 10000
                         < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM lab ORDER BY id
    """
    d["profile_join_cardinality"] = """
        WITH lc AS (
            SELECT CAST(l_partkey AS VARCHAR) AS k, count(*) AS cl
            FROM lineitem GROUP BY 1
        ),
        rc AS (
            SELECT CAST(l_partkey AS VARCHAR) AS k, count(*) AS cr
            FROM lineitem GROUP BY 1
        ),
        common AS (
            SELECT lc.k, CAST(cl AS HUGEINT) * cr AS prod
            FROM lc JOIN rc USING (k)
        ),
        hot AS (
            SELECT prod, k FROM common ORDER BY prod DESC, k DESC LIMIT 1
        )
        SELECT
            (SELECT CAST(sum(cl) AS BIGINT) FROM lc) AS n_left,
            (SELECT CAST(sum(cr) AS BIGINT) FROM rc) AS n_right,
            (SELECT count(*) FROM lc) AS n_keys_left,
            (SELECT count(*) FROM rc) AS n_keys_right,
            (SELECT count(*) FROM common) AS n_common_keys,
            (SELECT CAST(CAST(coalesce(sum(prod), 0) AS DECIMAL(38,0))
                         AS VARCHAR)
             FROM common) AS est_inner_rows,
            (SELECT CAST(CAST(prod AS DECIMAL(38,0)) AS VARCHAR) FROM hot)
                AS max_key_product,
            (SELECT k FROM hot) AS hottest_key
    """
    d["events_feature_matrix"] = """
        SELECT user_id,
               count(*) AS n_events,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_view,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_signup,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_error,
               CAST(round(sum(CASE WHEN event_type = 'purchase'
                                   THEN CAST(value AS DECIMAL(28,12))
                                   ELSE CAST(0 AS DECIMAL(28,12)) END),
                          6) AS DOUBLE) AS purchase_value_sum,
               CAST(min(CAST(ts AS DATE)) AS VARCHAR) AS first_day,
               CAST(max(CAST(ts AS DATE)) AS VARCHAR) AS last_day,
               count(DISTINCT CAST(ts AS DATE)) AS active_days,
               CAST((sum(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) * 1000000)
                   // greatest(sum(CASE WHEN event_type = 'view'
                                        THEN 1 ELSE 0 END), 1)
                   AS BIGINT) AS purchase_per_view_ppm,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
                   AS converted
        FROM events GROUP BY user_id ORDER BY user_id
    """
    d["stream_topk_snapshot"] = """
        SELECT user_id AS key, count(*) AS cnt
        FROM events GROUP BY user_id
        ORDER BY cnt DESC, key ASC LIMIT 10
    """
    # IVF-PQ: codes re-derived from the same first-16-vector codebooks
    # (the sim_pq_codes pipeline); the ADC double replays with matched
    # fold nesting — inner: left fold over the 8 in-order subvector
    # terms, outer: left fold over the per-subspace partials in j order.
    d["sim_ivfpq_topk"] = """
        WITH cb AS (
            SELECT vec_id AS c,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
            FROM embeddings WHERE vec_id < 16
        ),
        v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
            FROM embeddings WHERE vec_id < 5
        ),
        sub AS (SELECT unnest(range(0, 8)) AS j),
        dists AS (
            SELECT v.vec_id, sub.j, cb.c,
                   list_reduce(list_prepend(0.0,
                       list_transform(range(1, 9),
                           i -> (ev[j * 8 + i] - cv[j * 8 + i])
                                * (ev[j * 8 + i] - cv[j * 8 + i]))),
                       (a, b) -> a + b) AS d2
            FROM v CROSS JOIN sub CROSS JOIN cb
        ),
        best AS (
            SELECT vec_id, j, d2 FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id, j ORDER BY d2 ASC, c ASC) AS rn
                FROM dists
            ) WHERE rn = 1
        ),
        adc AS (
            SELECT vec_id,
                   list_reduce(list_prepend(0.0, list(d2 ORDER BY j)),
                               (a, b) -> a + b) AS t
            FROM best GROUP BY vec_id
        )
        SELECT vec_id + 1000000 AS query_id,
               TRUE AS found_original,
               round(t, 6) AS adc_to_original
        FROM adc ORDER BY query_id
    """
    # grid-DBSCAN: the dense-cell merge replays as a recursive-CTE
    # transitive closure (cell graph is tiny); min(label) = the operator's
    # min-label components.
    d["sim_grid_dbscan"] = """
        WITH pts AS (
            SELECT vec_id AS id,
                   CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.05)
                        AS BIGINT) AS cx,
                   CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.05)
                        AS BIGINT) AS cy
            FROM embeddings
        ),
        cells AS (SELECT cx, cy, count(*) AS n FROM pts GROUP BY 1, 2),
        dense AS (
            SELECT cx, cy, cx * 100000 + cy AS cid FROM cells WHERE n >= 4
        ),
        edges AS (
            SELECT a.cid AS src, b.cid AS dst
            FROM dense a JOIN dense b
              ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
                 AND a.cid <> b.cid
        ),
        reach AS (
            WITH RECURSIVE r(a, b) AS (
                SELECT cid, cid FROM dense
                UNION
                SELECT r.a, e.dst FROM r JOIN edges e ON e.src = r.b
            )
            SELECT a, min(b) AS comp FROM r GROUP BY a
        ),
        dense_lbl AS (
            SELECT d.cx, d.cy, d.cid, reach.comp AS cluster
            FROM dense d JOIN reach ON reach.a = d.cid
        ),
        core AS (
            SELECT p.id, p.cx, p.cy, 'core' AS role, dl.cluster
            FROM pts p JOIN dense_lbl dl USING (cx, cy)
        ),
        sparse AS (
            SELECT p.id, p.cx, p.cy FROM pts p
            LEFT JOIN dense_lbl dl USING (cx, cy) WHERE dl.cid IS NULL
        ),
        attach AS (
            SELECT s.id, s.cx, s.cy, min(dl.cluster) AS cluster
            FROM sparse s LEFT JOIN dense_lbl dl
              ON abs(dl.cx - s.cx) <= 1 AND abs(dl.cy - s.cy) <= 1
            GROUP BY 1, 2, 3
        )
        SELECT id AS vec_id, cx AS cell_x, cy AS cell_y, role,
               cluster AS cluster_id
        FROM (
            SELECT id, cx, cy, role, cluster FROM core
            UNION ALL
            SELECT id, cx, cy,
                   CASE WHEN cluster IS NOT NULL THEN 'border'
                        ELSE 'noise' END, cluster
            FROM attach
        )
        ORDER BY vec_id
    """
    # OLS: sums are HUGEINT-exact (DuckDB sum(BIGINT)) = Spark's
    # DECIMAL(38,0) lane; the Cramer algebra mirrors the operator's
    # parenthesization token-for-token so double rounding replays.
    d["stats_ols_multi"] = """
        WITH v AS (
            SELECT l_returnflag AS g,
                   CAST(l_quantity AS BIGINT) AS x1,
                   CAST(floor(l_discount * 100) AS BIGINT) AS x2,
                   CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
            FROM lineitem
        ),
        s AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x1) AS DOUBLE) AS s1,
                   CAST(sum(x2) AS DOUBLE) AS s2,
                   CAST(sum(y) AS DOUBLE) AS sy,
                   CAST(sum(x1 * x1) AS DOUBLE) AS s11,
                   CAST(sum(x2 * x2) AS DOUBLE) AS s22,
                   CAST(sum(x1 * x2) AS DOUBLE) AS s12,
                   CAST(sum(x1 * y) AS DOUBLE) AS s1y,
                   CAST(sum(x2 * y) AS DOUBLE) AS s2y,
                   CAST(sum(y * y) AS DOUBLE) AS syy
            FROM v GROUP BY g
        ),
        dets AS (
            SELECT *,
                   nd * (s11 * s22 - s12 * s12)
                       - s1 * (s1 * s22 - s12 * s2)
                       + s2 * (s1 * s12 - s11 * s2) AS det,
                   sy * (s11 * s22 - s12 * s12)
                       - s1 * (s1y * s22 - s12 * s2y)
                       + s2 * (s1y * s12 - s11 * s2y) AS det0,
                   nd * (s1y * s22 - s12 * s2y)
                       - sy * (s1 * s22 - s12 * s2)
                       + s2 * (s1 * s2y - s1y * s2) AS det1,
                   nd * (s11 * s2y - s1y * s12)
                       - s1 * (s1 * s2y - s1y * s2)
                       + sy * (s1 * s12 - s11 * s2) AS det2
            FROM (SELECT *, CAST(n AS DOUBLE) AS nd FROM s)
        )
        SELECT g AS l_returnflag, n,
               round(CASE WHEN det <> 0 THEN det0 / det END, 6) AS b0,
               round(CASE WHEN det <> 0 THEN det1 / det END, 9) AS b1,
               round(CASE WHEN det <> 0 THEN det2 / det END, 9) AS b2,
               round(CASE WHEN det <> 0 AND syy - sy * sy / nd > 0
                          THEN 1.0 - (syy - (det0 / det) * sy
                                          - (det1 / det) * s1y
                                          - (det2 / det) * s2y)
                               / (syy - sy * sy / nd)
                     END, 6) AS r2
        FROM dets ORDER BY l_returnflag
    """
    # Fellegi-Sunter: the oracle re-estimates every u-probability from the
    # same right-table frequency squares and rebuilds the log2 weights with
    # explicit DOUBLE casts ((1.0 - CAST(0.95 AS DOUBLE)) reproduces the
    # Python 1-m double exactly; a DECIMAL 0.05 literal would not).
    d["entity_fs_linkage"] = """
        WITH lt AS (
            SELECT c_custkey AS lid, c_nationkey, c_custkey % 50 AS blk,
                   coalesce(c_name, ' null ') AS f_name,
                   coalesce(CAST(c_acctbal AS VARCHAR), ' null ') AS f_bal,
                   coalesce(c_mktsegment, ' null ') AS f_seg
            FROM customer
        ),
        rt AS (
            SELECT c_custkey + 1000000 AS rid, c_nationkey,
                   c_custkey % 50 AS blk,
                   coalesce(CASE WHEN c_custkey % 4 = 0 THEN upper(c_name)
                                 ELSE c_name END, ' null ') AS f_name,
                   coalesce(CAST(CASE WHEN c_custkey % 4 = 1
                                      THEN c_acctbal + 1
                                      ELSE c_acctbal END AS VARCHAR),
                            ' null ') AS f_bal,
                   coalesce(CASE WHEN c_custkey % 4 = 2 THEN 'PERTURBED'
                                 ELSE c_mktsegment END, ' null ') AS f_seg
            FROM customer
        ),
        nn AS (SELECT count(*) AS n FROM rt),
        uv AS (
            SELECT
                least(greatest(
                    (SELECT CAST(sum(cnt * cnt) AS DOUBLE) FROM (
                        SELECT count(*) AS cnt FROM rt GROUP BY f_name))
                    / (nn.n * nn.n), 1e-9), 1 - 1e-9) AS u_name,
                least(greatest(
                    (SELECT CAST(sum(cnt * cnt) AS DOUBLE) FROM (
                        SELECT count(*) AS cnt FROM rt GROUP BY f_bal))
                    / (nn.n * nn.n), 1e-9), 1 - 1e-9) AS u_bal,
                least(greatest(
                    (SELECT CAST(sum(cnt * cnt) AS DOUBLE) FROM (
                        SELECT count(*) AS cnt FROM rt GROUP BY f_seg))
                    / (nn.n * nn.n), 1e-9), 1 - 1e-9) AS u_seg
            FROM nn
        ),
        w AS (
            SELECT
                log2(CAST(0.95 AS DOUBLE) / u_name) AS wa_name,
                log2((1.0 - CAST(0.95 AS DOUBLE)) / (1.0 - u_name))
                    AS wd_name,
                log2(CAST(0.95 AS DOUBLE) / u_bal) AS wa_bal,
                log2((1.0 - CAST(0.95 AS DOUBLE)) / (1.0 - u_bal)) AS wd_bal,
                log2(CAST(0.95 AS DOUBLE) / u_seg) AS wa_seg,
                log2((1.0 - CAST(0.95 AS DOUBLE)) / (1.0 - u_seg)) AS wd_seg
            FROM uv
        ),
        pairs AS (
            SELECT l.lid, r.rid,
                   l.f_name = r.f_name AS a_name,
                   l.f_bal = r.f_bal AS a_bal,
                   l.f_seg = r.f_seg AS a_seg
            FROM lt l JOIN rt r USING (c_nationkey, blk)
        ),
        scored AS (
            SELECT lid, rid, a_name, a_bal, a_seg,
                   CAST(round(
                       CAST(CASE WHEN a_name THEN w.wa_name
                                 ELSE w.wd_name END AS DECIMAL(28,12))
                       + CAST(CASE WHEN a_bal THEN w.wa_bal
                                   ELSE w.wd_bal END AS DECIMAL(28,12))
                       + CAST(CASE WHEN a_seg THEN w.wa_seg
                                   ELSE w.wd_seg END AS DECIMAL(28,12)),
                       6) AS DOUBLE) AS score
            FROM pairs CROSS JOIN w
        )
        SELECT lid AS l_id, rid AS r_id,
               a_name AS agree_c_name,
               a_bal AS agree_c_acctbal_s,
               a_seg AS agree_c_mktsegment,
               score,
               CASE WHEN score >= 3.0 THEN 'link'
                    WHEN score > 0.0 THEN 'possible'
                    ELSE 'non_link' END AS decision
        FROM scored ORDER BY l_id, r_id
    """
    # table_profile: one UNION ALL branch per column, mirroring the
    # exploded one-row aggregate. NULL type anchors keep the branch
    # schemas aligned.
    num_branch = """
        SELECT '{c}' AS col_name,
               count(*) - count({c}) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct,
               CAST(min({c}) AS DOUBLE) AS num_min,
               CAST(max({c}) AS DOUBLE) AS num_max,
               CASE WHEN count({c}) > 0 THEN round(
                   CAST(sum(CAST({c} AS DECIMAL(38,6))) AS DOUBLE)
                   / count({c}), 6) END AS num_avg,
               CAST(NULL AS VARCHAR) AS str_min,
               CAST(NULL AS VARCHAR) AS str_max,
               CAST(NULL AS DOUBLE) AS len_avg
        FROM o"""
    str_branch = """
        SELECT '{c}' AS col_name,
               count(*) - count({c}) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct,
               CAST(NULL AS DOUBLE) AS num_min,
               CAST(NULL AS DOUBLE) AS num_max,
               CAST(NULL AS DOUBLE) AS num_avg,
               min(CAST({c} AS VARCHAR)) AS str_min,
               max(CAST({c} AS VARCHAR)) AS str_max,
               CASE WHEN count({c}) > 0 THEN round(
                   CAST(sum(CAST(length(CAST({c} AS VARCHAR))
                                 AS DECIMAL(28,6))) AS DOUBLE)
                   / count({c}), 6) END AS len_avg
        FROM o"""
    branches = " UNION ALL ".join(
        [num_branch.format(c=c) for c in
         ("o_orderkey", "o_custkey", "o_totalprice")]
        + [str_branch.format(c=c) for c in
           ("o_orderstatus", "o_orderdate", "o_orderpriority")]
    )
    d["profile_table"] = f"""
        WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                          o_totalprice, CAST(o_orderdate AS DATE)
                              AS o_orderdate, o_orderpriority
                   FROM orders)
        {branches}
        ORDER BY col_name
    """
    # The curation composite nests the quality/language oracles verbatim,
    # re-pointed at the planted-copy corpus — the composition is checked, the
    # stage formulas stay single-sourced.
    d["dedup_keep_best"] = f"""
        WITH q AS ({d["text_quality_score"]}),
        k AS (SELECT doc_id % 250 AS url_key, doc_id, quality_score FROM q),
        sel AS (
            SELECT url_key, doc_id, quality_score,
                   row_number() OVER (PARTITION BY url_key
                       ORDER BY quality_score DESC, doc_id ASC) AS rn,
                   count(*) OVER (PARTITION BY url_key) AS n_copies
            FROM k)
        SELECT url_key, doc_id, quality_score, n_copies FROM sel WHERE rn = 1
    """
    quality_on_corpus = d["text_quality_score"].replace("FROM documents", "FROM corpus")
    lang_on_corpus = d["text_language_id"].replace("FROM documents", "FROM corpus")
    d["curation_pipeline"] = f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10
        ),
        q AS ({quality_on_corpus}),
        l AS ({lang_on_corpus}),
        keep AS (
            SELECT doc_id FROM (
                SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS k
                FROM corpus
            ) WHERE doc_id = k
        )
        SELECT c.doc_id, l.predicted_lang, q.quality_score
        FROM corpus c
        JOIN keep USING (doc_id)
        JOIN q USING (doc_id)
        JOIN l USING (doc_id)
        WHERE q.quality_score >= 0.9 AND l.predicted_lang = 'en'
    """
    # identical planted-trio contract, different component algorithm —
    # one oracle pins both
    d["dedup_components_star"] = d["dedup_components"]
    # cluster-level audit over the same planted labeling
    d["dedup_cluster_report"] = """
        WITH ids AS (
            SELECT vec_id AS id FROM embeddings WHERE vec_id < 100
            UNION ALL
            SELECT vec_id + 1000000 FROM embeddings WHERE vec_id < 10
            UNION ALL
            SELECT vec_id + 2000000 FROM embeddings WHERE vec_id < 10
        ),
        lab AS (
            SELECT id, CASE WHEN id >= 2000000 THEN id - 2000000
                            WHEN id >= 1000000 THEN id - 1000000
                            ELSE id END AS component_id
            FROM ids
        )
        SELECT component_id, count(*) AS size,
               count(*) - 1 AS n_dropped,
               string_agg(CAST(id AS VARCHAR), ',' ORDER BY id)
                   AS members_csv
        FROM lab GROUP BY component_id ORDER BY component_id
    """
    d["maf_annotate_by_variant"] = d["maf_annotation_wide"]
    # r9: failed-annotation error report — _maf_shaped's null-chromosome
    # rows (k%17==0 except the k%25==0 chrM branch, which wins the CASE)
    d["maf_error_report"] = """
        SELECT o_orderkey AS variant_id,
               CAST(NULL AS VARCHAR) AS Chromosome,
               CAST(o_orderkey % 100000 + 1 AS BIGINT) AS Start_Position,
               'TSB-' || CAST(o_orderkey % 500 AS VARCHAR)
                   AS Tumor_Sample_Barcode,
               'FAILED' AS Annotation_Status,
               CAST(NULL AS VARCHAR) AS HGVSp_Short
        FROM orders
        WHERE o_orderkey % 17 = 0 AND o_orderkey % 25 <> 0
    """
    # r9: %.12g artifact float rendering vs DuckDB's C-style printf
    d["s5_float_g_format"] = """
        SELECT l_orderkey, l_linenumber,
               printf('%.12g', CAST(l_quantity AS DOUBLE)) AS qty_g,
               printf('%.12g', CAST(l_extendedprice AS DOUBLE) / 3.0)
                   AS frac_g
        FROM lineitem
    """
    d["emb_l2_normalize"] = """
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ),
        n AS (
            SELECT vec_id, e,
                   sqrt(list_reduce(list_prepend(0.0,
                       list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
            FROM v
        )
        SELECT vec_id,
               round(nrm, 6) AS l2_norm,
               round(CASE WHEN nrm > 0
                     THEN list_reduce(list_prepend(0.0,
                          list_transform(e, x -> x / nrm)), (a, b) -> a + b)
                     ELSE 0.0 END, 6) AS unit_sum
        FROM n
    """
    d["emb_mean_pool"] = """
        WITH e AS (
            -- widen float→double BEFORE the decimal cast: DuckDB's direct
            -- float→decimal cast scales in float32 precision (~5e-10/elem)
            SELECT vec_id % 50 AS grp, i - 1 AS pos,
                   CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,12)) AS v
            FROM embeddings,
                 unnest(range(1, len(embedding) + 1)) AS r(i)
        ),
        per_pos AS (
            SELECT grp, pos,
                   CAST(round(sum(v), 6) AS DOUBLE) AS sum_val,
                   count(*) AS n
            FROM e GROUP BY grp, pos
        )
        SELECT grp, n AS n_vectors, pos, sum_val
        FROM per_pos
    """
    d["text_hashed_embedding"] = f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        b AS (
            SELECT doc_id, len(toks) AS n_tokens,
                   list_transform(toks, tok ->
                       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, length(tok) + 1),
                               i -> CAST(ascii(tok[i]) AS BIGINT))),
                           (acc, c) -> (acc * 31 + c) % 1000000007) % 32
                       AS INT)) AS bks
            FROM t
        ),
        cnt AS (
            SELECT doc_id, n_tokens, j.pos,
                   CAST(len(list_filter(bks, x -> x = j.pos)) AS DOUBLE) AS c
            FROM b, (SELECT unnest(range(0, 32)) AS pos) AS j
        ),
        nrm AS (
            SELECT doc_id, sqrt(sum(c * c)) AS nn FROM cnt GROUP BY doc_id
        )
        SELECT cnt.doc_id, cnt.n_tokens, cnt.pos,
               round(CASE WHEN nrm.nn > 0 THEN cnt.c / nrm.nn ELSE cnt.c END, 6)
                   AS val
        FROM cnt JOIN nrm USING (doc_id)
    """
    d["text_length_histogram"] = f"""
        WITH n AS (SELECT len({_TOKS}) AS nt FROM documents),
        b AS (
            SELECT CASE WHEN nt < 0 THEN 0
                        WHEN nt >= 200 THEN 21
                        ELSE CAST(floor(nt / 10.0) AS BIGINT) + 1 END AS bin
            FROM n
        ),
        c AS (SELECT bin, count(*) AS n_docs FROM b GROUP BY bin),
        t AS (SELECT sum(n_docs) AS tt FROM c)
        SELECT bin,
               CAST((bin - 1) * 10.0 AS DOUBLE) AS bin_lo,
               CAST(bin * 10.0 AS DOUBLE) AS bin_hi,
               n_docs,
               round(n_docs / t.tt, 6) AS share
        FROM c CROSS JOIN t
    """
    d["text_unigram_logprob"] = f"""
        WITH toks AS (
            SELECT doc_id, u.tok
            FROM (SELECT doc_id, {_TOKS} AS t FROM documents), unnest(t) AS u(tok)
        ),
        vocab AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
        total AS (SELECT sum(n) AS t FROM vocab),
        lp AS (
            SELECT toks.doc_id,
                   CAST(log10(greatest(vocab.n / total.t, 1e-9))
                        AS DECIMAL(28,12)) AS lpd
            FROM toks JOIN vocab USING (tok) CROSS JOIN total
        ),
        agg AS (
            SELECT doc_id, count(*) AS n_tokens,
                   CAST(round(sum(lpd), 6) AS DOUBLE) AS s
            FROM lp GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(agg.n_tokens, 0) AS n_tokens,
               coalesce(agg.s, 0.0) AS sum_logprob
        FROM documents d LEFT JOIN agg USING (doc_id)
    """
    # planted exact copies: identical token multisets -> identical hashed
    # vectors -> cosine exactly 1.0 through the whole pipeline
    d["text_to_ann_pipeline"] = """
        SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, 1.0 AS cosine_sim
        FROM documents WHERE doc_id < 20
    """
    d["text_normalize"] = """
        WITH planted AS (
            SELECT doc_id,
                   ' ' || chr(9) || upper(text) || ' ' || chr(10) || text || '  '
                       AS text
            FROM documents
        ),
        norm AS (
            SELECT doc_id, text,
                   trim(regexp_replace(
                       regexp_replace(text, '[\\x00-\\x1F\\x7F]', ' ', 'g'),
                       '\\s+', ' ', 'g')) AS collapsed
            FROM planted
        )
        SELECT doc_id,
               lower(collapsed) AS text_norm,
               length(text) - length(collapsed) AS n_chars_removed
        FROM norm
    """
    d["sequence_packing"] = f"""
        WITH t AS (
            SELECT doc_id, source AS stratum, len({_TOKS}) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, stratum, n_tokens,
                   sum(n_tokens) OVER (
                       PARTITION BY stratum ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
            FROM t
        )
        SELECT doc_id, stratum, n_tokens,
               CAST(start_offset AS BIGINT) AS start_offset,
               CAST(floor(start_offset / 512.0) AS BIGINT) AS bin_id
        FROM c
    """
    # planted exact copies: identical signatures collide in every band, so
    # the candidate is guaranteed and the verified jaccard is exactly 1.0
    d["dedup_cross_corpus"] = """
        SELECT doc_id + 1000000 AS batch_id, doc_id AS corpus_id,
               1.0 AS jaccard
        FROM documents WHERE doc_id < 20
    """
    # roundtrip oracles read the parquet source the roundtrip started from
    d["jsonl_roundtrip"] = "SELECT doc_id, text, lang, source FROM documents"
    d["orc_roundtrip"] = """
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS DOUBLE) AS quantity,
               CAST(l_extendedprice AS DOUBLE) AS price,
               strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
               l_returnflag
        FROM lineitem WHERE l_orderkey <= 1000
    """
    d["events_scd2"] = """
        WITH o AS (
            SELECT user_id, ts, event_type,
                   CASE WHEN lag(event_type) OVER w IS NULL
                             OR lag(event_type) OVER w <> event_type
                        THEN 1 ELSE 0 END AS chg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
        ),
        runs AS (
            SELECT user_id, ts, event_type,
                   sum(chg) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_type
                                  ROWS UNBOUNDED PRECEDING) AS ver
            FROM o
        ),
        versions AS (
            SELECT user_id, ver, event_type, min(ts) AS valid_from
            FROM runs GROUP BY user_id, ver, event_type
        )
        SELECT user_id, event_type,
               strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
               strftime(lead(valid_from) OVER (PARTITION BY user_id
                        ORDER BY valid_from, ver), '%Y-%m-%d %H:%M:%S')
                   AS valid_to,
               CAST(ver AS BIGINT) AS version
        FROM versions
    """
    d["events_point_in_time"] = """
        WITH o AS (
            SELECT user_id, ts, event_type,
                   CASE WHEN lag(event_type) OVER w IS NULL
                             OR lag(event_type) OVER w <> event_type
                        THEN 1 ELSE 0 END AS chg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
        ),
        runs AS (
            SELECT user_id, ts, event_type,
                   sum(chg) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_type
                                  ROWS UNBOUNDED PRECEDING) AS ver
            FROM o
        ),
        versions AS (
            SELECT user_id, ver, event_type, min(ts) AS valid_from
            FROM runs GROUP BY user_id, ver, event_type
        ),
        hist AS (
            SELECT user_id, event_type, valid_from,
                   lead(valid_from) OVER (PARTITION BY user_id
                        ORDER BY valid_from, ver) AS valid_to
            FROM versions
        )
        SELECT e.event_type AS fact_type,
               h.event_type AS dim_type,
               count(*) AS n
        FROM events e
        LEFT JOIN hist h
          ON e.user_id = h.user_id
         AND h.valid_from <= e.ts
         AND (h.valid_to IS NULL OR e.ts < h.valid_to)
        GROUP BY 1, 2
    """
    d["events_sliding_counts"] = """
        SELECT strftime(make_timestamp(CAST(
                   epoch_us(ts) // 900000000 * 900000000 - k * 900000000
                   AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n_events
        FROM events, unnest(range(0, 4)) AS r(k)
        GROUP BY 1, 2
    """
    # the oracle IS the full recompute the incremental merge must equal
    d["events_incremental_rollup"] = """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS value_sum
        FROM events GROUP BY 1, 2
    """
    d["stream_enriched_counts"] = """
        SELECT strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               c.c_mktsegment AS segment,
               count(*) AS n_events
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """
    # same sessions as events_sessionize minus the per-user sequence number
    d["events_session_window"] = """
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                             > 30 * 60 * 1000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sessions AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id,
               count(*) AS n_events,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        FROM sessions GROUP BY user_id, session_id
    """
    # --- corpus curation ---------------------------------------------------
    _PII_PLANT = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.7 call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' end'"
    )
    _RX_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    _RX_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    _RX_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
    d["pii_redaction"] = f"""
        WITH planted AS (SELECT doc_id, {_PII_PLANT} AS text FROM documents)
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{_RX_EMAIL}', '<EMAIL>', 'g'),
                   '{_RX_IP}', '<IP>', 'g'),
                   '{_RX_PHONE}', '<PHONE>', 'g') AS text_redacted,
               len(regexp_extract_all(text, '{_RX_EMAIL}')) AS n_email,
               len(regexp_extract_all(text, '{_RX_IP}')) AS n_ipv4,
               len(regexp_extract_all(text, '{_RX_PHONE}')) AS n_phone
        FROM planted
    """
    # 8-gram machinery mirrors the Spark helper: docs shorter than n tokens
    # contribute their whole token sequence as one gram
    _GRAMS8 = (
        "list_transform(range(1, greatest(len(t) - 7, 1) + 1),"
        " i -> array_to_string(t[i:i+7], ' '))"
    )
    d["decontamination"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        snip AS (SELECT array_to_string(t[1:8], ' ') AS s FROM toks WHERE doc_id = 0),
        planted AS (
            SELECT d.doc_id,
                   CASE WHEN d.doc_id % 7 = 3 THEN d.text || ' ' || snip.s
                        ELSE d.text END AS text
            FROM documents d, snip
        ),
        ptoks AS (SELECT doc_id, {_TOKS} AS t FROM planted),
        dgrams AS (
            SELECT DISTINCT doc_id, g
            FROM (SELECT doc_id, {_GRAMS8} AS gs FROM ptoks), unnest(gs) AS u(g)
        ),
        bgrams AS (
            SELECT DISTINCT g
            FROM (SELECT {_GRAMS8} AS gs FROM toks WHERE doc_id % 50 = 0),
                 unnest(gs) AS u(g)
        ),
        hits AS (
            SELECT doc_id, count(*) AS n_hits
            FROM dgrams JOIN bgrams USING (g) GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(h.n_hits, 0) AS n_hits,
               coalesce(h.n_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
    """
    d["repetition_removal"] = """
        WITH planted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN text || chr(10) || text || chr(10)
                             || 'tail marker' || chr(10) || text
                        ELSE text || chr(10) || 'tail marker' END AS text
            FROM documents
        ),
        parts AS (SELECT doc_id, string_split(text, chr(10)) AS p FROM planted),
        ex AS (
            SELECT doc_id, i, p[i] AS part
            FROM parts, unnest(range(1, len(p) + 1)) AS r(i)
        ),
        firsts AS (
            SELECT doc_id, part, min(i) AS fi FROM ex GROUP BY doc_id, part
        )
        SELECT f.doc_id,
               string_agg(f.part, chr(10) ORDER BY f.fi) AS text_clean,
               any_value(len(p.p)) AS n_paragraphs,
               CAST(any_value(len(p.p)) - count(*) AS INT) AS n_removed
        FROM firsts f JOIN parts p USING (doc_id)
        GROUP BY f.doc_id
    """
    _STOPLIST = "['the','and','of','to','a','in','is','it','that','for']"
    d["gopher_quality"] = f"""
        WITH t AS (SELECT doc_id, text, {_TOKS} AS t FROM documents),
        m AS (
            SELECT doc_id,
                   len(t) AS n_words,
                   round(CASE WHEN len(t) > 0
                         THEN CAST(list_aggregate(list_transform(t,
                              x -> length(x)), 'sum') AS DOUBLE) / len(t)
                         ELSE 0.0 END, 4) AS mean_word_len,
                   round(CASE WHEN len(t) > 0
                         THEN CAST(len(regexp_extract_all(text, '(#|\\.\\.\\.)'))
                              AS DOUBLE) / len(t)
                         ELSE 0.0 END, 4) AS symbol_ratio,
                   round(CASE WHEN len(t) > 0
                         THEN CAST(len(list_filter(t,
                              x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                              / len(t)
                         ELSE 0.0 END, 4) AS alpha_word_ratio,
                   len(list_filter(t,
                       x -> list_contains({_STOPLIST}, lower(x))))
                       AS n_stopword_hits
            FROM t
        )
        SELECT *,
               n_words BETWEEN 50 AND 100000 AS ok_word_count,
               mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
               symbol_ratio <= 0.1 AS ok_symbol_ratio,
               alpha_word_ratio >= 0.8 AS ok_alpha_words,
               n_stopword_hits >= 2 AS ok_stopwords,
               (n_words BETWEEN 50 AND 100000)
                   AND (mean_word_len BETWEEN 3.0 AND 10.0)
                   AND symbol_ratio <= 0.1
                   AND alpha_word_ratio >= 0.8
                   AND n_stopword_hits >= 2 AS passes
        FROM m
    """
    d["events_anomaly_zscore"] = """
        WITH hourly AS (
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS window_start,
                   event_type,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT window_start, event_type, n_events,
                   sum(n_events) OVER w AS s,
                   sum(n_events * n_events) OVER w AS ss,
                   count(n_events) OVER w AS c
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY window_start
                         ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        )
        SELECT window_start, event_type, n_events,
               round((n_events - s / c)
                     / sqrt((ss - s * s / c) / (c - 1)), 6) AS zscore,
               abs((n_events - s / c)
                   / sqrt((ss - s * s / c) / (c - 1))) > 3.0 AS is_anomaly
        FROM stats
        WHERE c >= 12 AND (ss - s * s / c) / (c - 1) > 0
    """
    _cms_probe_list = ", ".join(f"'{p}'" for p in _CMS_PROBES)
    _cms_hash = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(1, length(tok) + 1), "
        "i -> CAST(ascii(tok[i]) AS BIGINT))), "
        "(a, c) -> (a * 31 + c) % 1000000007)"
    )
    _cms_ab = (
        "CASE j WHEN 0 THEN 31 WHEN 1 THEN 37 WHEN 2 THEN 41 ELSE 43 END",
        "CASE j WHEN 0 THEN 7 WHEN 1 THEN 11 WHEN 2 THEN 13 ELSE 17 END",
    )
    d["sketch_count_min"] = f"""
        WITH toks AS (
            SELECT u.tok
            FROM (SELECT {_TOKS} AS t FROM documents), unnest(t) AS u(tok)
        ),
        h AS (SELECT tok, {_cms_hash} AS hv FROM toks),
        js AS (SELECT unnest(range(0, 4)) AS j),
        pairs AS (
            SELECT js.j AS r,
                   ((hv * {_cms_ab[0]} + {_cms_ab[1]}) % 1000000007) % 256 AS b
            FROM h, js
        ),
        cnt AS (SELECT r, b, count(*) AS n FROM pairs GROUP BY r, b),
        probes AS (SELECT unnest([{_cms_probe_list}]) AS tok),
        ph AS (SELECT tok, {_cms_hash} AS hv FROM probes),
        pp AS (
            SELECT tok AS token, js.j AS r,
                   ((hv * {_cms_ab[0]} + {_cms_ab[1]}) % 1000000007) % 256 AS b
            FROM ph, js
        ),
        pe AS (
            SELECT token, min(coalesce(cnt.n, 0)) AS est_count
            FROM pp LEFT JOIN cnt USING (r, b) GROUP BY token
        ),
        tc AS (
            SELECT tok AS token, count(*) AS true_count FROM toks
            WHERE tok IN ({_cms_probe_list}) GROUP BY tok
        )
        SELECT token, est_count,
               coalesce(true_count, 0) AS true_count,
               est_count - coalesce(true_count, 0) AS overcount
        FROM pe LEFT JOIN tc USING (token)
    """
    d["events_time_decay"] = """
        SELECT user_id,
               count(*) AS n_events,
               CAST(round(sum(CAST(
                   CAST(value AS DOUBLE)
                   * pow(0.5, ((1767225600 - (epoch_us(ts) // 1000000))
                               / 86400.0) / 30.0)
                   AS DECIMAL(28,12))), 6) AS DOUBLE) AS decayed_value
        FROM events
        WHERE value IS NOT NULL
        GROUP BY user_id
    """
    d["grouping_sets_revenue"] = """
        WITH li AS (
            SELECT *, CAST(year(l_shipdate) AS BIGINT) AS ship_year
            FROM lineitem
        )
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               coalesce(CAST(ship_year AS VARCHAR), 'ALL') AS ship_year,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(18,2))
                      - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                   AS revenue,
               count(*) AS n_rows
        FROM li
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())
    """
    d["events_funnel"] = """
        WITH p AS (
            SELECT user_id AS u,
                   (epoch_us(ts) // 1000000) * 1000000000 + event_id AS k,
                   CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                        WHEN 'purchase' THEN 3 END AS s
            FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
              AND event_id % 11 = 0
        ),
        g AS (SELECT u, list_sort(list(ROW(k, s))) AS evs FROM p GROUP BY u),
        st AS (
            SELECT u, list_reduce(
                list_prepend(0, list_transform(evs, e -> e[2])),
                (acc, x) -> CASE WHEN x = acc + 1 THEN x ELSE acc END) AS stage
            FROM g
        )
        SELECT stage, count(*) AS n_users FROM st GROUP BY stage
    """
    d["zorder_layout"] = """
        SELECT p_partkey,
               CAST(p_size % 256 AS BIGINT) AS x,
               CAST(p_partkey % 256 AS BIGINT) AS y,
               CAST(list_sum(list_transform(range(0, 8), i ->
                   ((((p_size % 256) >> i) & 1) << (2 * i))
                 + ((((p_partkey % 256) >> i) & 1) << (2 * i + 1))))
                   AS BIGINT) AS zval
        FROM part
    """
    d["text_bigram_logprob"] = f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        bg AS (
            SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
            FROM t, unnest(range(1, len(toks))) AS r(i)
            WHERE len(toks) >= 2
        ),
        uw AS (SELECT doc_id, u.w FROM t, unnest(toks) AS u(w)),
        uni AS (SELECT w, count(*) AS cw FROM uw GROUP BY w),
        bi AS (SELECT prev, cur, count(*) AS cbg FROM bg GROUP BY prev, cur),
        tot AS (SELECT sum(cw) AS t FROM uni),
        lp AS (
            SELECT bg.doc_id,
                   CAST(log10(greatest(
                       0.7 * bi.cbg / up.cw + (1.0 - 0.7) * uc.cw / tot.t,
                       1e-9)) AS DECIMAL(28,12)) AS lpd
            FROM bg
            JOIN bi USING (prev, cur)
            JOIN uni up ON up.w = bg.prev
            JOIN uni uc ON uc.w = bg.cur
            CROSS JOIN tot
        ),
        agg AS (
            SELECT doc_id, count(*) AS n_bigrams,
                   CAST(sum(lpd) AS DOUBLE) AS s
            FROM lp GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(agg.n_bigrams, 0) AS n_bigrams,
               coalesce(round(agg.s / agg.n_bigrams, 6), -9.0) AS mean_logprob
        FROM documents d LEFT JOIN agg USING (doc_id)
    """
    d["text_trigram_backoff"] = f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        tg AS (
            SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
                   toks[i + 2] AS w3
            FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
            WHERE len(toks) >= 3
        ),
        train AS (SELECT * FROM t WHERE doc_id % 3 <> 0),
        ttg AS (
            SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3,
                   count(*) AS c123
            FROM train, unnest(range(1, len(toks) - 1)) AS r(i)
            WHERE len(toks) >= 3 GROUP BY 1, 2, 3
        ),
        tbg AS (
            SELECT toks[i] AS a, toks[i + 1] AS b, count(*) AS cab
            FROM train, unnest(range(1, len(toks))) AS r(i)
            WHERE len(toks) >= 2 GROUP BY 1, 2
        ),
        tuni AS (
            SELECT u.w, count(*) AS cw FROM train, unnest(toks) AS u(w)
            GROUP BY 1
        ),
        tot AS (SELECT sum(cw) AS t FROM tuni),
        lp AS (
            SELECT tg.doc_id,
                   CAST(log10(greatest(
                       CASE
                         WHEN ttg.c123 IS NOT NULL AND b12.cab IS NOT NULL
                           THEN CAST(ttg.c123 AS DOUBLE) / b12.cab
                         WHEN b23.cab IS NOT NULL AND u2.cw IS NOT NULL
                           THEN CAST(0.4 AS DOUBLE) * b23.cab / u2.cw
                         WHEN u3.cw IS NOT NULL
                           THEN CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
                                * u3.cw / tot.t
                         ELSE 0.0
                       END, 1e-9)) AS DECIMAL(28,12)) AS lpd
            FROM tg
            LEFT JOIN ttg USING (w1, w2, w3)
            LEFT JOIN tbg b12 ON b12.a = tg.w1 AND b12.b = tg.w2
            LEFT JOIN tbg b23 ON b23.a = tg.w2 AND b23.b = tg.w3
            LEFT JOIN tuni u2 ON u2.w = tg.w2
            LEFT JOIN tuni u3 ON u3.w = tg.w3
            CROSS JOIN tot
        ),
        agg AS (
            SELECT doc_id, count(*) AS n_trigrams,
                   CAST(sum(lpd) AS DOUBLE) AS s
            FROM lp GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(agg.n_trigrams, 0) AS n_trigrams,
               coalesce(round(agg.s / agg.n_trigrams, 6), -9.0)
                   AS mean_logprob
        FROM documents d LEFT JOIN agg USING (doc_id)
    """
    d["cdc_apply_changelog"] = """
        WITH log AS (
            SELECT user_id AS cust_id, ts, event_id,
                   CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
                   CAST(round(CAST(value AS DECIMAL(18,2)), 2) AS DOUBLE)
                       AS acctbal
            FROM events
        ),
        latest AS (
            SELECT cust_id, op, acctbal FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY cust_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM log) t
            WHERE rn = 1
        ),
        snap AS (
            SELECT c_custkey AS cust_id,
                   CAST(round(CAST(c_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE)
                       AS acctbal
            FROM customer
        )
        SELECT s.cust_id, s.acctbal FROM snap s
        WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.cust_id = s.cust_id)
        UNION ALL
        SELECT cust_id, acctbal FROM latest WHERE op <> 'D'
    """
    d["pivot_status_counts"] = """
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
               count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
               count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        FROM orders GROUP BY o_orderpriority
    """
    d["unpivot_part_metrics"] = """
        SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS metric,
               CAST(p_retailprice AS DOUBLE) AS value
        FROM part
    """
    d["text_dsir_weights"] = f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        f AS (
            SELECT doc_id,
                   list_concat(toks,
                       CASE WHEN len(toks) >= 2
                            THEN list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1])
                            ELSE [] END) AS feats
            FROM t
        ),
        b AS (
            SELECT doc_id,
                   list_transform(feats, tok ->
                       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, length(tok) + 1),
                               i -> CAST(ascii(tok[i]) AS BIGINT))),
                           (acc, c) -> (acc * 31 + c) % 1000000007) % 64
                       AS INT)) AS bks
            FROM f
        ),
        eb AS (SELECT doc_id, u.bk FROM b, unnest(bks) AS u(bk)),
        tgt AS (SELECT bk, count(*) AS n FROM eb WHERE doc_id % 7 = 0
                GROUP BY bk),
        raw AS (SELECT bk, count(*) AS n FROM eb GROUP BY bk),
        tt AS (SELECT coalesce(sum(n), 0) AS s FROM tgt),
        rt AS (SELECT coalesce(sum(n), 0) AS s FROM raw),
        w AS (
            SELECT g.bk,
                   ln(CAST(coalesce(tgt.n, 0) + 1 AS DOUBLE) / (tt.s + 64))
                 - ln(CAST(coalesce(raw.n, 0) + 1 AS DOUBLE) / (rt.s + 64))
                       AS wv
            FROM (SELECT unnest(range(0, 64)) AS bk) g
            LEFT JOIN tgt USING (bk) LEFT JOIN raw USING (bk)
            CROSS JOIN tt CROSS JOIN rt
        ),
        wl AS (SELECT list(wv ORDER BY bk) AS wl FROM w)
        SELECT b.doc_id, len(bks) AS n_features,
               round(list_reduce(
                   list_prepend(0.0, list_transform(bks, k -> wl.wl[k + 1])),
                   (a, x) -> a + x), 6) AS dsir_weight
        FROM b CROSS JOIN wl
    """
    d["sim_semantic_dedup"] = """
        WITH p AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS va,
                          list_transform(embedding, x -> CAST(x AS DOUBLE) * 2.0) AS vb
                   FROM embeddings WHERE vec_id < 20)
        SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
               round(
                 list_reduce(list_transform(range(1, len(va) + 1),
                             i -> va[i] * vb[i]), (x, y) -> x + y)
                 / (sqrt(list_reduce(list_transform(range(1, len(va) + 1),
                             i -> va[i] * va[i]), (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(range(1, len(vb) + 1),
                             i -> vb[i] * vb[i]), (x, y) -> x + y))),
                 6) AS cosine_sim
        FROM p
    """
    d["dedup_span_windows"] = """
        WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> '') AS toks
            FROM documents
        ),
        h AS (
            SELECT doc_id, len(toks) AS n,
                   list_transform(toks, tok ->
                       list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, length(tok) + 1),
                               i -> CAST(ascii(tok[i]) AS BIGINT))),
                           (acc, c) -> (acc * 31 + c) % 1000000007)) AS th
            FROM t
        ),
        w AS (
            SELECT doc_id,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                                            th[u.i + 1 : u.i + 6]),
                               (acc, x) -> (acc * 1000003 + x) % 1000000007)
                       AS wh
            FROM h, LATERAL (SELECT unnest(range(0, n - 5)) AS i) u
            WHERE n >= 6
        ),
        d AS (SELECT wh FROM w GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
        c AS (SELECT doc_id, count(*) AS ndw FROM w JOIN d USING (wh)
              GROUP BY doc_id)
        SELECT h.doc_id AS id, greatest(h.n - 5, 0) AS n_windows,
               coalesce(c.ndw, 0) AS n_dup_windows,
               CASE WHEN h.n >= 6
                    THEN round(coalesce(c.ndw, 0) / (h.n - 5), 6)
                    ELSE 0.0 END AS dup_window_fraction
        FROM h LEFT JOIN c USING (doc_id)
    """
    d["fuzzy_join_names"] = """
        WITH l AS (SELECT c_custkey AS l_id, c_name AS ln FROM customer),
        r AS (SELECT c_custkey + 1000000 AS r_id,
                     CASE WHEN c_custkey % 3 = 0
                          THEN substr(c_name, 1, 9) || 'X' || substr(c_name, 11)
                          WHEN c_custkey % 3 = 1
                          THEN substr(c_name, 1, 9) || substr(c_name, 11)
                          ELSE c_name END AS rn
              FROM customer)
        SELECT l_id, r_id, levenshtein(ln, rn) AS edit_distance
        FROM l, r
        WHERE abs(length(ln) - length(rn)) <= 1 AND levenshtein(ln, rn) <= 1
    """
    d["graph_pagerank"] = _pagerank_oracle(iterations=4)
    d["graph_ppr"] = _ppr_oracle(iterations=4)
    d["graph_hits"] = _hits_oracle(iterations=2)
    d["events_variant_extract"] = """
        SELECT event_type,
               count(*) AS n_events,
               count(CAST(json_extract_string(props, '$.k') AS BIGINT))
                   AS n_k,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS k_sum,
               CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS k_min,
               CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS k_max
        FROM events GROUP BY event_type ORDER BY event_type
    """
    d["events_sliding_distinct"] = """
        WITH pairs AS (
            SELECT DISTINCT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
                   user_id
            FROM events
        ),
        fan AS (
            SELECT b + i AS w, user_id
            FROM pairs CROSS JOIN (SELECT unnest(range(0, 6)) AS i) s
        )
        SELECT CAST(w * 3600 AS BIGINT) AS window_end_epoch,
               count(DISTINCT user_id) AS n_users
        FROM fan GROUP BY 1 ORDER BY window_end_epoch
    """
    d["constraint_suite"] = """
        WITH n AS (SELECT count(*) AS n FROM lineitem),
        u AS (SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber))
                     AS v FROM lineitem),
        agg AS (
          SELECT
            sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v_nn,
            sum(CASE WHEN l_quantity IS NOT NULL
                      AND (l_quantity < 1 OR l_quantity > 50)
                     THEN 1 ELSE 0 END) AS v_rq,
            sum(CASE WHEN l_discount IS NOT NULL
                      AND (l_discount < 0.0 OR l_discount > 0.05)
                     THEN 1 ELSE 0 END) AS v_rd,
            sum(CASE WHEN l_returnflag IS NOT NULL
                      AND l_returnflag NOT IN ('R','A','N')
                     THEN 1 ELSE 0 END) AS v_rf,
            sum(CASE WHEN l_linestatus IS NOT NULL
                      AND l_linestatus NOT IN ('O')
                     THEN 1 ELSE 0 END) AS v_ls,
            sum(CASE WHEN l_returnflag IS NOT NULL
                      AND NOT regexp_matches(l_returnflag, '^[A-Z]$')
                     THEN 1 ELSE 0 END) AS v_sm,
            sum(CASE WHEN (l_extendedprice > 0) = FALSE
                     THEN 1 ELSE 0 END) AS v_sr,
            sum(CASE WHEN (l_tax < 0.05) = FALSE THEN 1 ELSE 0 END) AS v_tx
          FROM lineitem),
        fk AS (SELECT count(*) AS v FROM lineitem
               WHERE l_orderkey IS NOT NULL
                 AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        SELECT rule, kind, CAST(violations AS BIGINT) AS violations,
               CAST(n.n AS BIGINT) AS total,
               CASE WHEN violations > 0 THEN 'ERROR' ELSE 'OK' END AS status
        FROM n, (
          SELECT 'not_null_l_orderkey' AS rule, 'not_null' AS kind,
                 v_nn AS violations FROM agg
          UNION ALL SELECT 'range_l_quantity', 'range', v_rq FROM agg
          UNION ALL SELECT 'range_discount_tight', 'range', v_rd FROM agg
          UNION ALL SELECT 'in_set_l_returnflag', 'in_set', v_rf FROM agg
          UNION ALL SELECT 'in_set_linestatus_open_only', 'in_set', v_ls
                    FROM agg
          UNION ALL SELECT 'regex_l_returnflag', 'regex', v_sm FROM agg
          UNION ALL SELECT 'price_positive', 'custom', v_sr FROM agg
          UNION ALL SELECT 'tax_below_5pct', 'custom', v_tx FROM agg
          UNION ALL SELECT 'unique_l_orderkey_l_linenumber', 'unique', v
                    FROM u
          UNION ALL SELECT 'min_rows', 'min_rows',
                    CASE WHEN n < 100 THEN 100 - n ELSE 0 END FROM n
          UNION ALL SELECT 'min_rows_billion', 'min_rows',
                    CASE WHEN n < 1000000000 THEN 1000000000 - n
                         ELSE 0 END FROM n
          UNION ALL SELECT 'fk_l_orderkey', 'foreign_key', v FROM fk
        ) r
        ORDER BY rule
    """
    d["running_revenue"] = """
        SELECT o_orderkey,
               CAST(datediff('day', DATE '1992-01-01',
                             CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    OVER (ORDER BY CAST(o_orderdate AS DATE))
                    AS BIGINT) AS running_cents
        FROM orders
        ORDER BY o_orderkey
    """
    d["salted_skew_join"] = """
        WITH li AS (
            SELECT CASE WHEN l_orderkey % 10 < 3 THEN 1
                   ELSE l_partkey END AS k, l_quantity
            FROM lineitem
        )
        SELECT p_brand, count(*) AS n_rows,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        FROM li JOIN part ON li.k = part.p_partkey
        GROUP BY p_brand ORDER BY p_brand
    """
    d["sketch_rank_quantile"] = """
        SELECT CAST(q AS DOUBLE) AS quantile,
               count(*) AS n,
               CAST(ceil(q * count(*)) AS BIGINT) AS target_rank,
               TRUE AS within_bound
        FROM lineitem CROSS JOIN (VALUES (0.5), (0.9), (0.99)) v(q)
        GROUP BY q ORDER BY quantile
    """
    d["text_bpe_train"] = _bpe_oracle(4)
    d["events_retention"] = """
        WITH a AS (
            SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events
        ),
        f AS (SELECT u, min(d) AS cohort FROM a GROUP BY u)
        SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
               CAST(a.d - f.cohort AS INTEGER) AS offset_days,
               count(*) AS n_users
        FROM a JOIN f USING (u)
        GROUP BY 1, 2
    """
    d["text_bpe_segment"] = _bpe_apply_oracle(_BPE_MERGES)
    d["exact_quantiles"] = """
        WITH v AS MATERIALIZED (
            SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS c
            FROM lineitem
        ),
        r AS MATERIALIZED (
            SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v
        ),
        n AS (SELECT count(*) AS n FROM v)
        SELECT q.q, n.n,
               CAST(ceil(q.q * n.n) AS BIGINT) AS k,
               (SELECT c FROM r
                WHERE rn = CAST(ceil(q.q * n.n) AS BIGINT)) AS value
        FROM (SELECT unnest([0.5, 0.9]) AS q) q CROSS JOIN n
    """
    d["sketch_accuracy_gate"] = """
        SELECT 'distinct_l_orderkey' AS stat,
               COUNT(DISTINCT l_orderkey) AS reference,
               TRUE AS within_bound
        FROM lineitem
        UNION ALL
        SELECT 'p50_rank_c', COUNT(*), TRUE FROM lineitem
    """
    from iatlas_cbioportal_export_spark.operators.sketch import hll_alpha

    _hll_numer = repr(hll_alpha(256) * 256 * 256 * float(1 << 31))
    _hll_bound = repr(3.0 * 1.04 / (256**0.5))

    def _hll_fold(base: int) -> str:
        return (
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(range(1, length(ks) + 1), "
            "i -> CAST(ascii(ks[i]) AS BIGINT))), "
            f"(a, c) -> (a * {base} + c) % 1000000007)"
        )

    # two quadratic scramble rounds (x² + c mod p) as chained CTE stages —
    # the exact twin of operators/sketch._key_hash
    _hll_mix_c = 0x9E3779B9 % 1000000007

    d["sketch_hll_distinct"] = f"""
        WITH keyed AS (
            SELECT l_returnflag, CAST(l_orderkey AS VARCHAR) AS ks
            FROM lineitem
        ),
        h0 AS (
            SELECT l_returnflag,
                   {_hll_fold(31)} AS ha,
                   {_hll_fold(131)} AS hb
            FROM keyed
        ),
        h1 AS (
            SELECT l_returnflag,
                   (ha * ha + {_hll_mix_c}) % 1000000007 AS ha,
                   (hb * hb + {_hll_mix_c}) % 1000000007 AS hb
            FROM h0
        ),
        h AS (
            SELECT l_returnflag,
                   (ha * ha + {_hll_mix_c}) % 1000000007 AS ha,
                   (hb * hb + {_hll_mix_c}) % 1000000007 AS hb
            FROM h1
        ),
        regs AS (
            SELECT l_returnflag, ha % 256 AS bucket,
                   max(CASE WHEN hb = 0 THEN 31
                       ELSE 31 - length(bin(hb)) END) AS mj
            FROM h GROUP BY 1, 2
        ),
        sk AS (
            SELECT l_returnflag,
                   count(*) AS used_registers,
                   CAST(sum(CAST(1 AS BIGINT) << (31 - mj)) AS BIGINT)
                       AS s_present
            FROM regs GROUP BY 1
        ),
        ex AS (
            SELECT l_returnflag,
                   count(DISTINCT l_orderkey) AS exact_distinct
            FROM lineitem GROUP BY 1
        ),
        j AS (
            SELECT sk.l_returnflag, used_registers,
                   256 - used_registers AS zero_registers,
                   s_present + CAST(256 - used_registers AS BIGINT)
                       * (CAST(1 AS BIGINT) << 31) AS harmonic_sum_scaled,
                   exact_distinct
            FROM sk JOIN ex USING (l_returnflag)
        ),
        e AS (
            SELECT *,
                   CASE WHEN ({_hll_numer} / harmonic_sum_scaled) <= 640.0
                             AND zero_registers > 0
                        THEN 256.0 * ln(256.0 / zero_registers)
                        ELSE {_hll_numer} / harmonic_sum_scaled
                   END AS est
            FROM j
        )
        SELECT l_returnflag, 256 AS m, used_registers, zero_registers,
               harmonic_sum_scaled,
               round(est, 4) AS est_distinct,
               exact_distinct,
               round(100.0 * abs(est - exact_distinct) / exact_distinct, 4)
                   AS rel_err_pct,
               abs(est - exact_distinct) / exact_distinct <= {_hll_bound}
                   AS within_bound
        FROM e
    """
    d["sketch_bloom_prefilter"] = f"""
        WITH dimk AS (
            SELECT DISTINCT s_suppkey AS key
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'
        ),
        dks AS (SELECT key, CAST(key AS VARCHAR) AS ks FROM dimk),
        dh0 AS (
            SELECT key, {_hll_fold(31)} AS h1, {_hll_fold(131)} AS h2
            FROM dks
        ),
        dh1 AS (
            SELECT key, (h1 * h1 + {_hll_mix_c}) % 1000000007 AS h1,
                   (h2 * h2 + {_hll_mix_c}) % 1000000007 AS h2
            FROM dh0
        ),
        dh AS (
            SELECT key, (h1 * h1 + {_hll_mix_c}) % 1000000007 AS h1,
                   (h2 * h2 + {_hll_mix_c}) % 1000000007 AS h2
            FROM dh1
        ),
        dpos AS (
            SELECT DISTINCT (h1 + i.i * h2) % 256 AS p
            FROM dh, (SELECT unnest(range(0, 4)) AS i) i
        ),
        fks AS (
            SELECT l_suppkey, CAST(l_suppkey AS VARCHAR) AS ks FROM lineitem
        ),
        fh0 AS (
            SELECT l_suppkey, {_hll_fold(31)} AS h1, {_hll_fold(131)} AS h2
            FROM fks
        ),
        fh1 AS (
            SELECT l_suppkey, (h1 * h1 + {_hll_mix_c}) % 1000000007 AS h1,
                   (h2 * h2 + {_hll_mix_c}) % 1000000007 AS h2
            FROM fh0
        ),
        fh AS (
            SELECT l_suppkey, (h1 * h1 + {_hll_mix_c}) % 1000000007 AS h1,
                   (h2 * h2 + {_hll_mix_c}) % 1000000007 AS h2
            FROM fh1
        ),
        fl AS (
            SELECT ((h1 + 0 * h2) % 256) IN (SELECT p FROM dpos)
                   AND ((h1 + 1 * h2) % 256) IN (SELECT p FROM dpos)
                   AND ((h1 + 2 * h2) % 256) IN (SELECT p FROM dpos)
                   AND ((h1 + 3 * h2) % 256) IN (SELECT p FROM dpos)
                       AS bloom_pass,
                   l_suppkey IN (SELECT key FROM dimk) AS is_true
            FROM fh
        )
        SELECT count(*) AS n_fact,
               CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bloom_pass,
               CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_true_match,
               CAST(sum(CASE WHEN bloom_pass AND NOT is_true
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive,
               round(CASE WHEN count(*)
                              > sum(CASE WHEN is_true THEN 1 ELSE 0 END)
                     THEN sum(CASE WHEN bloom_pass AND NOT is_true
                              THEN 1 ELSE 0 END)
                          / (count(*)
                             - sum(CASE WHEN is_true THEN 1 ELSE 0 END))
                     ELSE 0.0 END, 6) AS false_positive_rate,
               sum(CASE WHEN is_true AND NOT bloom_pass THEN 1 ELSE 0 END)
                   = 0 AS no_false_negatives
        FROM fl
    """
    d["sketch_hll_set_ops"] = f"""
        WITH lab AS (
            SELECT 'a' AS s, o_custkey AS key FROM orders
            WHERE o_orderpriority = '1-URGENT'
            UNION ALL
            SELECT 'b' AS s, o_custkey AS key FROM orders
            WHERE o_orderpriority = '5-LOW'
        ),
        ks0 AS (SELECT s, key, CAST(key AS VARCHAR) AS ks FROM lab),
        sh0 AS (
            SELECT s, {_hll_fold(31)} AS ha, {_hll_fold(131)} AS hb
            FROM ks0
        ),
        sh1 AS (
            SELECT s, (ha * ha + {_hll_mix_c}) % 1000000007 AS ha,
                   (hb * hb + {_hll_mix_c}) % 1000000007 AS hb
            FROM sh0
        ),
        sh AS (
            SELECT s, (ha * ha + {_hll_mix_c}) % 1000000007 AS ha,
                   (hb * hb + {_hll_mix_c}) % 1000000007 AS hb
            FROM sh1
        ),
        regs AS (
            SELECT s, ha % 256 AS bucket,
                   max(CASE WHEN hb = 0 THEN 31
                       ELSE 31 - length(bin(hb)) END) AS mj
            FROM sh GROUP BY s, bucket
        ),
        regs_u AS (
            SELECT 'u' AS s, bucket, max(mj) AS mj FROM regs GROUP BY bucket
        ),
        allr AS (
            SELECT * FROM regs UNION ALL SELECT * FROM regs_u
        ),
        folded AS (
            SELECT s, count(*) AS used,
                   CAST(sum(CAST(1 AS BIGINT) << (31 - mj)) AS BIGINT) AS sp
            FROM allr GROUP BY s
        ),
        st AS (
            SELECT s, used,
                   sp + CAST(256 - used AS BIGINT)
                       * (CAST(1 AS BIGINT) << 31) AS hsum
            FROM folded
        ),
        est AS (
            SELECT s,
                   CASE WHEN ({_hll_numer} / hsum) <= 640.0 AND (256 - used) > 0
                        THEN 256.0 * ln(256.0 / (256 - used))
                        ELSE {_hll_numer} / hsum END AS est
            FROM st
        ),
        er AS (
            SELECT max(CASE WHEN s = 'a' THEN est END) AS ea,
                   max(CASE WHEN s = 'b' THEN est END) AS eb,
                   max(CASE WHEN s = 'u' THEN est END) AS eu
            FROM est
        ),
        ex AS (
            SELECT count(DISTINCT CASE WHEN s = 'a' THEN key END) AS exact_a,
                   count(DISTINCT CASE WHEN s = 'b' THEN key END) AS exact_b,
                   count(DISTINCT key) AS exact_union
            FROM lab
        )
        SELECT round(coalesce(ea, 0.0), 4) AS est_a,
               round(coalesce(eb, 0.0), 4) AS est_b,
               round(coalesce(eu, 0.0), 4) AS est_union,
               round(coalesce(ea, 0.0) + coalesce(eb, 0.0)
                     - coalesce(eu, 0.0), 4) AS est_intersection,
               exact_a, exact_b, exact_union,
               exact_a + exact_b - exact_union AS exact_intersection,
               CASE WHEN exact_union > 0
                    THEN abs(coalesce(eu, 0.0) - exact_union) / exact_union
                         <= {_hll_bound}
                    ELSE TRUE END AS union_within_bound
        FROM er, ex
    """
    d["profile_key_skew"] = """
        WITH counts AS (
            SELECT CAST(event_type AS VARCHAR) AS key_value,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1
        ),
        totals AS (
            SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM counts
        )
        SELECT key_value, cnt,
               CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
               CAST(cnt * n_keys * 1000 // total AS BIGINT) AS skew_x1000,
               CAST((cnt * 32 + total - 1) // total AS BIGINT)
                   AS suggested_salt,
               CAST(row_number() OVER (ORDER BY cnt DESC, key_value ASC)
                   AS INTEGER) AS rank
        FROM counts CROSS JOIN totals
        ORDER BY cnt DESC, key_value ASC
        LIMIT 10
    """
    d["layout_compaction"] = """
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               TRUE AS fragmented_16_files, TRUE AS compacted_to_plan
        FROM documents GROUP BY source
    """
    d["xml_roundtrip"] = "SELECT doc_id, text, lang, source FROM documents"
    d["zonemap_pruning"] = """
        WITH per AS (
            SELECT CAST(FLOOR(o_orderkey / 500) AS BIGINT) AS zm_bucket,
                   MIN(o_orderkey) AS zm_min, MAX(o_orderkey) AS zm_max,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN o_orderkey BETWEEN 600 AND 2200
                            THEN 1 ELSE 0 END) AS BIGINT) AS qualifying_rows
            FROM orders GROUP BY 1)
        SELECT zm_bucket, zm_min, zm_max, n_rows,
               (zm_max < 600 OR zm_min > 2200) AS pruned,
               qualifying_rows,
               (NOT (zm_max < 600 OR zm_min > 2200)
                OR qualifying_rows = 0) AS prune_safe
        FROM per ORDER BY zm_bucket
    """
    d["multimodal_binary_ingest"] = """
        SELECT doc_id, octet_length(encode(text)) AS n_bytes,
               TRUE AS text_match
        FROM documents WHERE doc_id < 60 ORDER BY doc_id
    """
    d["parquet_schema_evolution"] = """
        SELECT doc_id, lang, source, n_chars,
               CAST(NULL AS BIGINT) AS quality
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, lang, source, n_chars,
               CAST(n_chars % 100 AS BIGINT) AS quality
        FROM documents WHERE doc_id % 2 = 1
        ORDER BY doc_id
    """
    d["snapshot_diff"] = """
        WITH old AS (
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
            FROM orders
        ),
        new AS (
            SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 101 = 0
                        THEN o_totalprice + 1.0 ELSE o_totalprice
                   END AS o_totalprice,
                   o_orderstatus
            FROM old WHERE o_orderkey % 97 <> 0
            UNION ALL
            SELECT o_orderkey + 10000000, o_custkey, o_totalprice,
                   o_orderstatus
            FROM old WHERE o_orderkey < 100
        )
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN (o.o_custkey IS DISTINCT FROM n.o_custkey)
                      OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                      OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                    THEN 'changed'
               END AS change_type
        FROM old o FULL OUTER JOIN new n USING (o_orderkey)
        WHERE (o.o_orderkey IS NULL) OR (n.o_orderkey IS NULL)
           OR (o.o_custkey IS DISTINCT FROM n.o_custkey)
           OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
           OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
        ORDER BY o_orderkey
    """
    d["events_resample_ffill"] = """
        WITH ev AS (
            SELECT user_id, ts, value FROM events WHERE user_id < 40
        ),
        obs AS (
            SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
                   max({'t': ts, 'v': value}).v AS v,
                   COUNT(*) AS n_obs
            FROM ev GROUP BY 1, 2
        ),
        span AS (
            SELECT date_trunc('hour', MIN(ts)) AS lo,
                   date_trunc('hour', MAX(ts)) AS hi
            FROM ev
        ),
        grid AS (
            SELECT u.user_id, g.bucket_ts
            FROM (SELECT DISTINCT user_id FROM ev) u
            CROSS JOIN span,
            LATERAL (SELECT unnest(generate_series(span.lo, span.hi,
                                   INTERVAL 1 HOUR)) AS bucket_ts) g
        )
        SELECT g.user_id, g.bucket_ts,
               last_value(o.v IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.bucket_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_ffill,
               COALESCE(o.n_obs, 0) AS n_obs
        FROM grid g
        LEFT JOIN obs o
          ON g.user_id = o.user_id AND g.bucket_ts = o.bucket_ts
        ORDER BY g.user_id, g.bucket_ts
    """
    d["sketch_bitmap_distinct"] = """
        SELECT l_returnflag,
               COUNT(DISTINCT l_orderkey) AS distinct_exact
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """
    d["text_inverted_index"] = f"""
        WITH t AS (
            SELECT doc_id,
                   list_transform({_TOKS}, x -> lower(x)) AS toks
            FROM documents
        ),
        pairs AS (
            SELECT DISTINCT doc_id AS id,
                   toks[i] || ' ' || toks[i + 1] AS term
            FROM t, UNNEST(range(1, len(toks))) AS u(i)
        ),
        nd AS (SELECT COUNT(*) AS n FROM documents),
        dfreq AS (
            SELECT term, COUNT(*) AS df FROM pairs GROUP BY term
        )
        SELECT p.term, d.df,
               array_to_string(list(p.id ORDER BY p.id), ',') AS postings_csv
        FROM pairs p
        JOIN dfreq d ON p.term = d.term
        CROSS JOIN nd
        WHERE d.df >= 2 AND d.df <= CAST(nd.n * 0.1 AS BIGINT)
        GROUP BY p.term, d.df
        ORDER BY p.term
    """
    d["text_quality_classifier"] = f"""
        WITH f AS (
            SELECT doc_id,
                   {_TOKS} AS toks,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                       AS n_alpha,
                   greatest(length(text), 1) AS n_chars
            FROM documents
        ),
        feats AS (
            SELECT doc_id,
                   round(CAST(coalesce(list_sum(list_transform(toks,
                              t -> length(t))), 0) AS DOUBLE)
                         / greatest(len(toks), 1), 6) AS mean_word_len,
                   round(CAST(len(list_filter(toks, t -> list_contains(
                              ['the','of','and','to','a','in','is','for'],
                              lower(t)))) AS DOUBLE)
                         / greatest(len(toks), 1), 6) AS stopword_ratio,
                   round(CAST(n_alpha AS DOUBLE) / n_chars, 6) AS alpha_ratio,
                   CASE WHEN len(toks) >= 50 THEN 1.0 ELSE 0.0 END AS long_doc
            FROM f
        )
        SELECT doc_id, mean_word_len, stopword_ratio, alpha_ratio, long_doc,
               round(1.0 / (1.0 + exp(-(-1.0 + 0.35 * mean_word_len
                     + 2.0 * stopword_ratio + 1.5 * alpha_ratio
                     + 0.5 * long_doc))), 6) AS quality_prob,
               (round(1.0 / (1.0 + exp(-(-1.0 + 0.35 * mean_word_len
                     + 2.0 * stopword_ratio + 1.5 * alpha_ratio
                     + 0.5 * long_doc))), 6) >= 0.5) AS keep
        FROM feats ORDER BY doc_id
    """
    d["sketch_heavy_hitters"] = f"""
        WITH t AS (SELECT unnest({_TOKS}) AS token FROM documents),
             n AS (SELECT COUNT(*) AS n FROM t),
             e AS (SELECT token, COUNT(*) AS exact_count FROM t
                   GROUP BY token)
        SELECT token AS item, exact_count,
               TRUE AS found_by_sketch, TRUE AS within_bound
        FROM e, n WHERE exact_count > n.n / 31.0
        ORDER BY exact_count DESC, item ASC
    """
    d["sim_mips_topk"] = """
        WITH q AS (SELECT vec_id AS query_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                   FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                   FROM embeddings),
             scored AS (
                SELECT q.query_id, c.vec_id,
                       round(list_reduce(list_transform(range(1, len(qv) + 1),
                                 i -> qv[i] * cv[i]), (x, y) -> x + y),
                             6) AS inner_product
                FROM q JOIN c ON q.query_id <> c.vec_id
             )
        SELECT query_id, vec_id, inner_product,
               CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY inner_product DESC, vec_id ASC) AS rank
            FROM scored
        )
        WHERE rank <= 10
    """
    # eval_auc nests the quality-classifier oracle verbatim (single-sourced
    # score formula) and applies the tie-corrected distinct-score pair
    # counting identity: integer-exact numerator, one double divide.
    d["eval_auc"] = f"""
        WITH q AS ({d["text_quality_classifier"]}),
        lab AS (
            SELECT q.doc_id, d.lang, q.quality_prob AS s,
                   length(d.text) >= 500 AS pos
            FROM q JOIN documents d USING (doc_id)
        ),
        by_score AS (
            SELECT lang, s,
                   sum(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
                   sum(CASE WHEN pos THEN 0 ELSE 1 END) AS nn
            FROM lab GROUP BY 1, 2
        ),
        cum AS (
            SELECT lang, s, np, nn,
                   coalesce(sum(nn) OVER (
                       PARTITION BY lang ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cnb
            FROM by_score
        ),
        agg AS (
            SELECT lang, sum(np * (2 * cnb + nn)) AS num2,
                   CAST(sum(np) AS BIGINT) AS n_pos,
                   CAST(sum(nn) AS BIGINT) AS n_neg
            FROM cum GROUP BY lang
        )
        SELECT lang, n_pos, n_neg,
               CASE WHEN n_pos > 0 AND n_neg > 0
                    THEN round(CAST(num2 AS DOUBLE)
                               / (2.0 * CAST(n_pos AS DOUBLE)
                                      * CAST(n_neg AS DOUBLE)), 6)
               END AS auc
        FROM agg ORDER BY lang
    """
    # calibration: nests the classifier oracle like eval_auc; decimal-lane
    # mean probability, integer-ppm observed rate
    d["eval_calibration"] = f"""
        WITH q AS ({d["text_quality_classifier"]}),
        lab AS (
            SELECT q.doc_id, q.quality_prob,
                   length(d.text) >= 500 AS pos
            FROM q JOIN documents d USING (doc_id)
        )
        SELECT least(CAST(floor(quality_prob * 10) AS INTEGER), 9)
                   AS decile,
               count(*) AS n,
               CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos,
               round(CAST(sum(CAST(quality_prob AS DECIMAL(18,9)))
                          AS DOUBLE) / count(*), 6) AS mean_prob,
               CAST(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END)
                         AS HUGEINT) * 1000000 // count(*)
                    AS BIGINT) AS pos_rate_ppm
        FROM lab GROUP BY 1 ORDER BY decile
    """
    d["text_vocab_growth"] = """
        WITH b AS MATERIALIZED (
            SELECT ((doc_id * 2654435761) % 1000003) % 10000 AS bk, text
            FROM documents
        ),
        tm AS MATERIALIZED (
            SELECT tok, MIN(bk) AS mb
            FROM (
                SELECT bk,
                       unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                          t -> t <> '')) AS tok
                FROM b
            ) GROUP BY tok
        ),
        th AS (SELECT unnest([2500, 5000, 7500, 10000]) AS fraction_bp)
        SELECT th.fraction_bp,
               (SELECT COUNT(*) FROM b WHERE b.bk < th.fraction_bp) AS n_docs,
               (SELECT COUNT(*) FROM tm WHERE tm.mb < th.fraction_bp)
                   AS vocab_size
        FROM th
    """
    d["events_attribution_outer"] = """
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               CAST(round(CAST(p.value AS DECIMAL(18,2)), 2) AS DOUBLE)
                   AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """
    d["window_rank_suite"] = """
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               round(percent_rank() OVER w, 9) AS prank,
               round(cume_dist() OVER w, 9) AS cdist,
               ntile(4) OVER w AS quartile,
               lag(o_totalprice, 1) OVER w AS prev_price,
               lead(o_totalprice, 1) OVER w AS next_price
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
    """
    d["equi_depth_bins"] = """
        WITH v AS MATERIALIZED (
            SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c FROM orders
        ),
        r AS MATERIALIZED (
            SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v
        ),
        n AS (SELECT count(*) AS n FROM v),
        b AS (
            SELECT
                (SELECT c FROM r, n WHERE rn = CAST(ceil(0.25 * n.n) AS BIGINT)) AS q1,
                (SELECT c FROM r, n WHERE rn = CAST(ceil(0.5 * n.n) AS BIGINT)) AS q2,
                (SELECT c FROM r, n WHERE rn = CAST(ceil(0.75 * n.n) AS BIGINT)) AS q3
        )
        SELECT CASE WHEN c <= q1 THEN 0 WHEN c <= q2 THEN 1
                    WHEN c <= q3 THEN 2 ELSE 3 END AS bucket,
               count(*) AS n_rows, min(c) AS min_c, max(c) AS max_c
        FROM v CROSS JOIN b GROUP BY 1
    """
    d["lpm_join_categories"] = """
        WITH rules AS MATERIALIZED (
            SELECT DISTINCT split_part(p_name, ' ', 1) AS pfx FROM part
            UNION
            SELECT DISTINCT p_name FROM part WHERE p_partkey % 5 = 0
        )
        SELECT p.p_partkey AS id,
               arg_max(r.pfx, len(string_split(r.pfx, ' ')))
                   AS matched_prefix,
               CAST(max(len(string_split(r.pfx, ' '))) AS INTEGER) AS depth
        FROM part p JOIN rules r
          ON p.p_name = r.pfx OR starts_with(p.p_name, r.pfx || ' ')
        GROUP BY 1
    """
    d["text_cooccurrence_pmi"] = f"""
        WITH t AS MATERIALIZED (
            SELECT doc_id, {_TOKS} AS toks FROM documents
        ),
        p AS MATERIALIZED (
            SELECT toks[u.i] AS a, toks[v.j] AS b
            FROM t,
                 LATERAL (SELECT unnest(range(1, len(toks))) AS i) u,
                 LATERAL (SELECT unnest(range(u.i + 1,
                                  least(u.i + 3, len(toks)) + 1)) AS j) v
            WHERE len(toks) >= 2
        ),
        pc AS MATERIALIZED (
            SELECT a, b, CAST(count(*) AS BIGINT) AS pair_count
            FROM p GROUP BY a, b
        ),
        tc AS MATERIALIZED (
            SELECT tok, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok
        ),
        tot AS (
            SELECT CAST((SELECT sum(pair_count) FROM pc) AS DOUBLE) AS tp,
                   CAST((SELECT sum(c) FROM tc) AS DOUBLE) AS nt
        )
        SELECT pc.a, pc.b, pc.pair_count,
               round(ln((pc.pair_count / tot.tp)
                        / ((ca.c / tot.nt) * (cb.c / tot.nt))), 6) AS pmi
        FROM pc JOIN tc ca ON pc.a = ca.tok
                JOIN tc cb ON pc.b = cb.tok
                CROSS JOIN tot
        ORDER BY pair_count DESC, a, b LIMIT 200
    """
    d["events_interval_overlap"] = """
        WITH l AS (
            SELECT user_id, event_id AS id,
                   epoch_us(ts) // 1000000 AS s,
                   epoch_us(ts) // 1000000 + (event_id % 120) * 60 AS e
            FROM events
        )
        SELECT a.user_id, a.id AS id_a, b.id AS id_b,
               least(a.e, b.e) - greatest(a.s, b.s) AS overlap_seconds
        FROM l a JOIN l b
          ON a.user_id = b.user_id AND a.id < b.id
         AND a.s <= b.e AND b.s <= a.e
    """
    d["clinical_kaplan_meier"] = """
        WITH s AS (
            SELECT c_mktsegment AS g,
                   (abs(CAST(floor(c_acctbal) AS BIGINT)) % 60) + 1 AS t,
                   CASE WHEN c_custkey % 4 = 0 THEN 0 ELSE 1 END AS ev
            FROM customer
        ),
        pt AS (
            SELECT g, t, CAST(sum(ev) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS c
            FROM s GROUP BY g, t
        ),
        cur AS (
            SELECT g, t, d,
                   sum(c) OVER (PARTITION BY g ORDER BY t
                                ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING) AS n_risk
            FROM pt
        )
        SELECT g AS c_mktsegment, t AS duration,
               CAST(n_risk AS BIGINT) AS n_risk, d AS n_events,
               CASE WHEN d = n_risk THEN 0.0
                    ELSE round(exp(sum(CASE WHEN d < n_risk
                                   THEN ln(1 - CAST(d AS DOUBLE) / n_risk)
                                   ELSE 0.0 END)
                         OVER (PARTITION BY g ORDER BY t
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)), 6) END AS survival
        FROM cur
        QUALIFY d > 0
    """
    d["clinical_logrank"] = """
        WITH s AS (
            SELECT c_mktsegment AS g,
                   (abs(CAST(floor(c_acctbal) AS BIGINT)) % 60) + 1 AS t,
                   CASE WHEN c_custkey % 4 = 0 THEN 0 ELSE 1 END AS ev
            FROM customer
            WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        ),
        pt AS (
            SELECT t,
                   CAST(sum(CASE WHEN g = 'BUILDING' THEN ev ELSE 0 END)
                        AS BIGINT) AS d_a,
                   CAST(sum(ev) AS BIGINT) AS d,
                   CAST(count(CASE WHEN g = 'BUILDING' THEN 1 END)
                        AS BIGINT) AS c_a,
                   CAST(count(*) AS BIGINT) AS c
            FROM s GROUP BY t
        ),
        grid AS (
            SELECT t, d_a, d,
                   sum(c_a) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                                  AND UNBOUNDED FOLLOWING) AS n_a,
                   sum(c) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING) AS n
            FROM pt
        ),
        g2 AS (SELECT * FROM grid WHERE d > 0),
        terms AS (
            SELECT d_a,
                   CAST(round(d * (CAST(n_a AS DOUBLE) / n), 9)
                        AS DECIMAL(28,9)) AS e_term,
                   CAST(round(CASE WHEN n > 1
                        THEN d * (CAST(n_a AS DOUBLE) / n)
                             * (1 - CAST(n_a AS DOUBLE) / n)
                             * (n - d) / (n - 1)
                        ELSE 0.0 END, 9) AS DECIMAL(28,9)) AS v_term
            FROM g2
        )
        SELECT 'BUILDING' AS group_a, 'MACHINERY' AS group_b,
               CAST(sum(d_a) AS BIGINT) AS observed_a,
               CAST(sum(e_term) AS DOUBLE) AS expected_a,
               CAST(sum(v_term) AS DOUBLE) AS variance,
               round((sum(d_a) - CAST(sum(e_term) AS DOUBLE))
                     / sqrt(CAST(sum(v_term) AS DOUBLE)), 6) AS z
        FROM terms
    """
    d["maf_oncoprint"] = """
        WITH maf AS (
            SELECT 'GENE' || CAST(o_orderkey % 40 AS VARCHAR) AS gene,
                   'TSB-' || CAST(o_orderkey % 500 AS VARCHAR) AS sample
            FROM orders
        ),
        gr AS (
            SELECT gene, count(DISTINCT sample) AS n_samples FROM maf
            GROUP BY gene
            ORDER BY n_samples DESC, gene LIMIT 10
        ),
        rk AS (
            SELECT gene,
                   CAST(row_number() OVER (ORDER BY n_samples DESC, gene)
                        AS INTEGER) AS gene_rank
            FROM gr
        )
        SELECT m.gene, rk.gene_rank, m.sample,
               count(*) AS n_mutations
        FROM maf m JOIN rk USING (gene)
        GROUP BY m.gene, rk.gene_rank, m.sample
    """
    d["stats_chi_square"] = """
        WITH obs AS (
            SELECT o_orderpriority AS a, o_orderstatus AS b,
                   CAST(count(*) AS BIGINT) AS o
            FROM orders GROUP BY 1, 2
        ),
        rm AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM obs GROUP BY a),
        cm AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM obs GROUP BY b),
        tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
        cells AS (
            SELECT rm.a, cm.b, rm.ra, cm.cb, tot.n,
                   coalesce(obs.o, 0) AS o
            FROM rm CROSS JOIN cm
            LEFT JOIN obs ON obs.a = rm.a AND obs.b = cm.b
            CROSS JOIN tot
        ),
        terms AS (
            SELECT n, a, b,
                   CAST(round((o - ra * cb / CAST(n AS DOUBLE))
                              * (o - ra * cb / CAST(n AS DOUBLE))
                              / (ra * cb / CAST(n AS DOUBLE)), 9)
                        AS DECIMAL(28,9)) AS term
            FROM cells
        )
        SELECT max(n) AS n,
               count(DISTINCT a) AS n_rows_a,
               count(DISTINCT b) AS n_cols_b,
               (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS dof,
               round(CAST(sum(term) AS DOUBLE), 6) AS chi2
        FROM terms
    """
    d["events_streaks"] = """
        WITH a AS (
            SELECT DISTINCT user_id AS u,
                   CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                       AS day
            FROM events
        ),
        r AS (
            SELECT u, day,
                   day - row_number() OVER (PARTITION BY u ORDER BY day)
                       AS grp
            FROM a
        )
        SELECT u AS user_id,
               strftime(DATE '1970-01-01' + CAST(min(day) AS INTEGER),
                        '%Y-%m-%d') AS streak_start,
               count(*) AS streak_days
        FROM r GROUP BY u, grp
    """
    d["stats_linear_trend"] = """
        WITH v AS (
            SELECT o_orderpriority AS g,
                   CAST(date_diff('day', DATE '1992-01-01',
                                  CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
                   CAST(floor(o_totalprice * 100) AS BIGINT) AS y
            FROM orders
        ),
        s AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS DOUBLE) AS sx,
                   CAST(sum(y) AS DOUBLE) AS sy,
                   CAST(sum(x * y) AS DOUBLE) AS sxy,
                   CAST(sum(x * x) AS DOUBLE) AS sxx,
                   CAST(sum(y * y) AS DOUBLE) AS syy
            FROM v GROUP BY g
        )
        SELECT g AS o_orderpriority, n,
               round(CASE WHEN n * sxx - sx * sx > 0
                          THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                     END, 9) AS slope,
               round(CASE WHEN n * sxx - sx * sx > 0
                          THEN (sy - ((n * sxy - sx * sy)
                                      / (n * sxx - sx * sx)) * sx) / n
                     END, 9) AS intercept,
               round(CASE WHEN n * sxx - sx * sx > 0
                           AND n * syy - sy * sy > 0
                          THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
                               / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                     END, 6) AS r2
        FROM s
    """
    d["stats_psi_drift"] = """
        WITH ev AS (
            SELECT CAST(date_part('day', ts) AS INTEGER) AS dom,
                   CAST(floor(value * 100) AS BIGINT) AS c
            FROM events
        ),
        ref AS (SELECT c FROM ev WHERE dom <= 15),
        cur AS (SELECT c FROM ev WHERE dom > 15),
        rr AS MATERIALIZED (
            SELECT c, row_number() OVER (ORDER BY c) AS rn FROM ref
        ),
        nn AS (SELECT count(*) AS n FROM ref),
        b AS (
            SELECT
                (SELECT c FROM rr, nn
                 WHERE rn = CAST(ceil(0.25 * nn.n) AS BIGINT)) AS b1,
                (SELECT c FROM rr, nn
                 WHERE rn = CAST(ceil(0.5 * nn.n) AS BIGINT)) AS b2,
                (SELECT c FROM rr, nn
                 WHERE rn = CAST(ceil(0.75 * nn.n) AS BIGINT)) AS b3
        ),
        rbin AS (
            SELECT CASE WHEN c <= b1 THEN 0 WHEN c <= b2 THEN 1
                        WHEN c <= b3 THEN 2 ELSE 3 END AS bucket,
                   CAST(count(*) AS BIGINT) AS n_ref
            FROM ref CROSS JOIN b GROUP BY 1
        ),
        cbin AS (
            SELECT CASE WHEN c <= b1 THEN 0 WHEN c <= b2 THEN 1
                        WHEN c <= b3 THEN 2 ELSE 3 END AS bucket,
                   CAST(count(*) AS BIGINT) AS n_cur
            FROM cur CROSS JOIN b GROUP BY 1
        ),
        grid AS (SELECT unnest(range(0, 4)) AS bucket),
        cells AS (
            SELECT CAST(grid.bucket AS INTEGER) AS bucket,
                   coalesce(rbin.n_ref, 0) AS n_ref,
                   coalesce(cbin.n_cur, 0) AS n_cur
            FROM grid LEFT JOIN rbin ON grid.bucket = rbin.bucket
                      LEFT JOIN cbin ON grid.bucket = cbin.bucket
        ),
        tot AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM cells)
        SELECT bucket, n_ref, n_cur,
               round((n_ref + 1) / CAST(tr + 4 AS DOUBLE), 9) AS p_ref,
               round((n_cur + 1) / CAST(tc + 4 AS DOUBLE), 9) AS p_cur,
               round(((n_ref + 1) / CAST(tr + 4 AS DOUBLE)
                      - (n_cur + 1) / CAST(tc + 4 AS DOUBLE))
                     * ln(((n_ref + 1) / CAST(tr + 4 AS DOUBLE))
                          / ((n_cur + 1) / CAST(tc + 4 AS DOUBLE))), 9)
                   AS psi_term
        FROM cells CROSS JOIN tot
    """
    d["stats_ks_test"] = """
        WITH g AS (
            SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                       AS ca,
                   CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END
                       AS cb
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        grid AS (
            SELECT v, CAST(sum(ca) AS BIGINT) AS c1,
                   CAST(sum(cb) AS BIGINT) AS c2
            FROM g GROUP BY v
        ),
        tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                       CAST(sum(c2) AS BIGINT) AS n2 FROM grid),
        cum AS (
            SELECT sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) AS k1,
                   sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) AS k2,
                   tot.n1, tot.n2
            FROM grid CROSS JOIN tot
        )
        SELECT max(n1) AS n_a, max(n2) AS n_b,
               round(max(abs(k1 / CAST(n1 AS DOUBLE)
                             - k2 / CAST(n2 AS DOUBLE))), 9) AS d_stat
        FROM cum
    """
    d["maf_gene_cooccurrence"] = """
        WITH maf AS (
            SELECT 'GENE' || CAST(o_orderkey % 40 AS VARCHAR) AS gene,
                   'TSB-' || CAST(o_orderkey % 500 AS VARCHAR) AS s
            FROM orders
        ),
        top AS (
            SELECT gene, CAST(count(DISTINCT s) AS BIGINT) AS n_samples
            FROM maf GROUP BY gene
            ORDER BY n_samples DESC, gene LIMIT 10
        ),
        gs AS (
            SELECT DISTINCT m.gene, m.s
            FROM maf m JOIN top USING (gene)
        ),
        nt AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS n FROM maf),
        pb AS (
            SELECT a.gene AS gene_a, b.gene AS gene_b,
                   CAST(count(*) AS BIGINT) AS n_both
            FROM gs a JOIN gs b ON a.s = b.s AND a.gene < b.gene
            GROUP BY 1, 2
        ),
        grid AS (
            SELECT ta.gene AS gene_a, ta.n_samples AS n_a,
                   tb.gene AS gene_b, tb.n_samples AS n_b
            FROM top ta CROSS JOIN top tb
            WHERE ta.gene < tb.gene
        )
        SELECT g.gene_a, g.gene_b, g.n_a, g.n_b,
               coalesce(b.n_both, 0) AS n_both,
               round(g.n_a * g.n_b / CAST(nt.n AS DOUBLE), 6) AS expected,
               round(log2((coalesce(b.n_both, 0) + 1)
                          / (g.n_a * g.n_b / CAST(nt.n AS DOUBLE) + 1)), 6)
                   AS log2_ratio
        FROM grid g
        LEFT JOIN pb b ON b.gene_a = g.gene_a AND b.gene_b = g.gene_b
        CROSS JOIN nt
    """
    d["emb_random_projection"] = """
        SELECT vec_id AS id, CAST(j.pos AS INTEGER) AS pos,
               round(list_reduce(list_prepend(0.0,
                   list_transform(range(1, len(embedding) + 1),
                       i -> CAST(embedding[i] AS DOUBLE)
                            * (1 - 2 * ((((i - 1) * 131 + j.pos * 137 + 13)
                                         * ((i - 1) * 131 + j.pos * 137 + 13)
                                         % 1000003) % 2)))),
                   (a, x) -> a + x) * 0.25, 6) AS value
        FROM embeddings, (SELECT unnest(range(0, 16)) AS pos) j
    """
    d["events_exp_smoothing"] = """
        WITH hourly AS (
            SELECT event_type AS k, date_trunc('hour', ts) AS h,
                   sum(CAST(value AS DECIMAL(18,2))) AS v
            FROM events GROUP BY 1, 2
        ),
        series AS (
            SELECT k,
                   list(CAST(v AS DOUBLE) ORDER BY h) AS vals
            FROM hourly GROUP BY k
        )
        SELECT k AS event_type,
               CAST(len(vals) AS INTEGER) AS n_hours,
               round(vals[len(vals)], 6) AS last_value,
               round(list_reduce(vals,
                     (acc, x) -> 0.3 * x + (1.0 - 0.3) * acc), 6)
                   AS smoothed
        FROM series
    """
    d["events_transition_matrix"] = """
        WITH s AS (
            SELECT user_id,
                   (epoch_us(ts) // 1000000) * 1000000000 + event_id AS k,
                   event_type AS t
            FROM events
        ),
        steps AS (
            SELECT t,
                   lag(t) OVER (PARTITION BY user_id ORDER BY k) AS prev
            FROM s
        ),
        counts AS (
            SELECT prev AS from_type, t AS to_type,
                   CAST(count(*) AS BIGINT) AS n_transitions
            FROM steps WHERE prev IS NOT NULL
            GROUP BY 1, 2
        ),
        totals AS (
            SELECT from_type, CAST(sum(n_transitions) AS BIGINT) AS rt
            FROM counts GROUP BY from_type
        )
        SELECT c.from_type, c.to_type, c.n_transitions,
               round(c.n_transitions / CAST(t.rt AS DOUBLE), 6) AS prob
        FROM counts c JOIN totals t USING (from_type)
    """
    d["graph_triangles"] = """
        WITH e AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        verts AS (
            SELECT count(DISTINCT x) AS nv FROM (
                SELECT u AS x FROM e UNION ALL SELECT v FROM e)
        ),
        tri AS (
            SELECT CAST(count(*) AS BIGINT) AS nt
            FROM e e1 JOIN e e2 ON e1.v = e2.u
                      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT CAST(verts.nv AS BIGINT) AS n_vertices,
               (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
               tri.nt AS n_triangles
        FROM verts CROSS JOIN tri
    """
    d["dedup_jaccard_prefix"] = f"""
        WITH t AS MATERIALIZED (
            SELECT doc_id, list_sort(list_distinct({_TOKS})) AS ts
            FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
                     / (len(a.ts) + len(b.ts)
                        - len(list_intersect(a.ts, b.ts))), 6) AS jaccard
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
              / (len(a.ts) + len(b.ts)
                 - len(list_intersect(a.ts, b.ts))) >= 0.9
    """
    d["sim_item_cf"] = """
        WITH ui AS MATERIALIZED (
            SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        ic AS MATERIALIZED (
            SELECT i, CAST(count(*) AS BIGINT) AS ci FROM ui GROUP BY i
        ),
        pairs AS MATERIALIZED (
            SELECT a.i AS item_a, b.i AS item_b,
                   CAST(count(*) AS BIGINT) AS n_both
            FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
            GROUP BY 1, 2
        )
        SELECT p.item_a, p.item_b, p.n_both,
               round(p.n_both / sqrt(CAST(ca.ci AS DOUBLE) * cb.ci), 6)
                   AS cosine
        FROM pairs p JOIN ic ca ON p.item_a = ca.i
                     JOIN ic cb ON p.item_b = cb.i
        ORDER BY p.n_both DESC, p.item_a, p.item_b
        LIMIT 100
    """
    d["stats_ab_ztest"] = """
        WITH units AS (
            SELECT user_id,
                   CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS bk,
                   CASE WHEN arg_min(event_type,
                                     (epoch_us(ts) // 1000000) * 1000000000
                                     + event_id) = 'purchase'
                        THEN 1 ELSE 0 END AS converted
            FROM events GROUP BY user_id
        ),
        per AS (
            SELECT bk, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(converted) AS BIGINT) AS conv
            FROM units GROUP BY bk
        ),
        j AS (
            SELECT a.bk AS bucket_a, a.n AS n_a, a.conv AS conv_a,
                   b.bk AS bucket_b, b.n AS n_b, b.conv AS conv_b
            FROM per a CROSS JOIN per b
            WHERE a.bk = 'A' AND b.bk = 'B'
        )
        SELECT bucket_a, bucket_b, n_a, n_b, conv_a, conv_b,
               round(conv_a / CAST(n_a AS DOUBLE), 6) AS p_a,
               round(conv_b / CAST(n_b AS DOUBLE), 6) AS p_b,
               round((conv_a / CAST(n_a AS DOUBLE)
                      - conv_b / CAST(n_b AS DOUBLE))
                     / sqrt(((conv_a + conv_b)
                             / CAST(n_a + n_b AS DOUBLE))
                            * (1.0 - (conv_a + conv_b)
                               / CAST(n_a + n_b AS DOUBLE))
                            * (1.0 / n_a + 1.0 / n_b)), 6) AS z
        FROM j
    """
    d["graph_kcore"] = _kcore_oracle(k=90, rounds=4)
    d["graph_bfs"] = _bfs_oracle(source=0, rounds=3)
    d["graph_label_propagation"] = _lpa_oracle(rounds=3)
    d["text_char_entropy"] = """
        WITH c AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, ''), x -> x <> '')
                       AS chars
            FROM documents
        ),
        k AS (
            SELECT doc_id, chars,
                   list_sort(list_distinct(chars)) AS classes
            FROM c
        )
        SELECT doc_id AS id,
               CAST(len(chars) AS INTEGER) AS n_chars,
               CAST(len(classes) AS INTEGER) AS n_distinct_chars,
               round(CASE WHEN len(chars) > 0 THEN
                   -list_reduce(list_prepend(0.0,
                       list_transform(classes, ch ->
                           (CAST(len(list_filter(chars, x -> x = ch))
                                 AS DOUBLE) / len(chars))
                           * ln(CAST(len(list_filter(chars, x -> x = ch))
                                     AS DOUBLE) / len(chars)))),
                       (a, x) -> a + x)
                   ELSE 0.0 END, 6) AS entropy
        FROM k
    """
    d["events_time_to_convert"] = """
        WITH sec AS MATERIALIZED (
            SELECT user_id AS u, event_type AS t,
                   epoch_us(ts) // 1000000 AS s
            FROM events WHERE event_type IN ('view', 'purchase')
        ),
        fv AS (
            SELECT u, min(CASE WHEN t = 'view' THEN s END) AS fv
            FROM sec GROUP BY u
        ),
        gaps AS MATERIALIZED (
            SELECT sec.u, min(sec.s) - fv.fv AS gap
            FROM sec JOIN fv ON sec.u = fv.u
            WHERE sec.t = 'purchase' AND fv.fv IS NOT NULL
                  AND sec.s >= fv.fv
            GROUP BY sec.u, fv.fv
        ),
        r AS (
            SELECT gap,
                   row_number() OVER (ORDER BY gap, u) AS rn,
                   count(*) OVER () AS n
            FROM gaps
        )
        SELECT CAST(max(n) AS BIGINT) AS n_converted,
               max(CASE WHEN rn = CAST(ceil(n / 2.0) AS BIGINT)
                        THEN gap END) AS median_seconds,
               max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                        THEN gap END) AS p90_seconds
        FROM r
    """
    d["stats_mutual_information"] = """
        WITH obs AS MATERIALIZED (
            SELECT o_orderpriority AS a, o_orderstatus AS b,
                   CAST(count(*) AS BIGINT) AS o
            FROM orders GROUP BY 1, 2
        ),
        rm AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM obs GROUP BY a),
        cm AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM obs GROUP BY b),
        tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                       CAST(sum(o) AS DOUBLE) AS nd FROM obs),
        mi AS (
            SELECT CAST(sum(CAST(round((o / nd)
                       * ln((o / nd) / ((ra / nd) * (cb / nd))), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS mi
            FROM obs JOIN rm USING (a) JOIN cm USING (b) CROSS JOIN tot
        ),
        ha AS (
            SELECT CAST(sum(CAST(round(-(ra / nd) * ln(ra / nd), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS ha
            FROM rm CROSS JOIN tot
        ),
        hb AS (
            SELECT CAST(sum(CAST(round(-(cb / nd) * ln(cb / nd), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS hb
            FROM cm CROSS JOIN tot
        )
        SELECT tot.n, round(ha.ha, 6) AS h_a, round(hb.hb, 6) AS h_b,
               round(mi.mi, 6) AS mi,
               CASE WHEN least(ha.ha, hb.hb) > 0
                    THEN round(mi.mi / least(ha.ha, hb.hb), 6) END
                   AS normalized_mi
        FROM tot CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb
    """
    d["sim_association_rules"] = """
        WITH ui AS MATERIALIZED (
            SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        nb AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS nb FROM ui),
        ic AS MATERIALIZED (
            SELECT i, CAST(count(*) AS BIGINT) AS ci FROM ui GROUP BY i
        ),
        pairs AS MATERIALIZED (
            SELECT a.i AS antecedent, b.i AS consequent,
                   CAST(count(*) AS BIGINT) AS support
            FROM ui a JOIN ui b ON a.u = b.u AND a.i <> b.i
            GROUP BY 1, 2 HAVING count(*) >= 3
        )
        SELECT p.antecedent, p.consequent, p.support,
               round(p.support / CAST(ca.ci AS DOUBLE), 6) AS confidence,
               round((p.support * nb.nb)
                     / (CAST(ca.ci AS DOUBLE) * cb.ci), 6) AS lift
        FROM pairs p JOIN ic ca ON p.antecedent = ca.i
                     JOIN ic cb ON p.consequent = cb.i
                     CROSS JOIN nb
        ORDER BY p.support DESC, p.antecedent, p.consequent
        LIMIT 100
    """
    d["events_seasonal_residuals"] = """
        WITH hourly AS MATERIALIZED (
            SELECT event_type AS k, date_trunc('hour', ts) AS h,
                   sum(CAST(value AS DECIMAL(18,2))) AS v
            FROM events GROUP BY 1, 2
        ),
        hh AS MATERIALIZED (
            SELECT k, h, v, CAST(date_part('hour', h) AS INTEGER) AS hod
            FROM hourly
        ),
        seasonal AS MATERIALIZED (
            SELECT k, hod, sum(v) AS sv, CAST(count(*) AS BIGINT) AS cnt
            FROM hh GROUP BY k, hod
        )
        SELECT hh.k AS event_type,
               strftime(hh.h, '%Y-%m-%d %H:%M:%S') AS window_start,
               hh.hod AS hour_of_day,
               CAST(hh.v AS DOUBLE) AS hourly_value,
               round(CAST(s.sv AS DOUBLE) / s.cnt, 6) AS seasonal_mean,
               round(CAST(hh.v AS DOUBLE)
                     - CAST(s.sv AS DOUBLE) / s.cnt, 6) AS residual
        FROM hh JOIN seasonal s ON hh.k = s.k AND hh.hod = s.hod
    """
    d["stats_mad_outliers"] = """
        WITH v AS MATERIALIZED (
            SELECT o_orderpriority AS g,
                   CAST(floor(o_totalprice * 100) AS BIGINT) AS x
            FROM orders
        ),
        r AS MATERIALIZED (
            SELECT g, x,
                   row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
                   count(*) OVER (PARTITION BY g) AS n
            FROM v
        ),
        med AS MATERIALIZED (
            SELECT g, x AS med, CAST(n AS BIGINT) AS n FROM r
            WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
        ),
        dev AS MATERIALIZED (
            SELECT v.g, v.x, med.med, med.n, abs(v.x - med.med) AS ad
            FROM v JOIN med ON v.g = med.g
        ),
        dr AS MATERIALIZED (
            SELECT g, ad,
                   row_number() OVER (PARTITION BY g ORDER BY ad, x) AS arn,
                   n
            FROM dev
        ),
        mad AS MATERIALIZED (
            SELECT g, ad AS mad FROM dr
            WHERE arn = CAST(ceil(n / 2.0) AS BIGINT)
        )
        SELECT dev.g AS o_orderpriority, max(dev.n) AS n,
               max(dev.med) AS median, max(mad.mad) AS mad,
               CAST(sum(CASE WHEN dev.ad > 5 * mad.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM dev JOIN mad ON dev.g = mad.g
        GROUP BY dev.g
    """
    _CORR_COLS = [
        ("qty", "floor(l_quantity)"),
        ("price_c", "floor(l_extendedprice * 100)"),
        ("disc_bp", "floor(l_discount * 10000)"),
        ("tax_bp", "floor(l_tax * 10000)"),
    ]
    _sum_exprs = [
        "CAST(count(*) AS BIGINT) AS n_exact",
        "CAST(count(*) AS DOUBLE) AS n",
    ]
    for _a, _expr in _CORR_COLS:
        _sum_exprs.append(
            f"CAST(sum(CAST({_expr} AS BIGINT)) AS DOUBLE) AS s_{_a}"
        )
        _sum_exprs.append(
            f"CAST(sum(CAST({_expr} AS BIGINT) * CAST({_expr} AS BIGINT))"
            f" AS DOUBLE) AS ss_{_a}"
        )
    _corr_pairs = []
    for _i, (_a, _ea) in enumerate(_CORR_COLS):
        for _b, _eb in _CORR_COLS[_i + 1:]:
            _sum_exprs.append(
                f"CAST(sum(CAST({_ea} AS BIGINT) * CAST({_eb} AS BIGINT))"
                f" AS DOUBLE) AS sp_{_a}_{_b}"
            )
            _corr_pairs.append(
                f"""SELECT '{_a}' AS col_a, '{_b}' AS col_b,
                    n_exact AS n,
                    round((n * sp_{_a}_{_b} - s_{_a} * s_{_b})
                          / (sqrt(n * ss_{_a} - s_{_a} * s_{_a})
                             * sqrt(n * ss_{_b} - s_{_b} * s_{_b})), 6)
                        AS pearson_r FROM sums"""
            )
    d["stats_correlation"] = (
        "WITH sums AS MATERIALIZED (SELECT "
        + ", ".join(_sum_exprs)
        + " FROM lineitem)\n"
        + " UNION ALL ".join(_corr_pairs)
    )

    # Efraimidis–Spirakis: same id hash, same ln key, same total order.
    d["sample_weighted"] = """
        WITH s AS (
            SELECT doc_id, n_chars,
                   ln(((((doc_id + 0) * 2654435761) % 1000003) + 0.5)
                      / 1000003.0) / CAST(n_chars AS DOUBLE) AS k
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0
        )
        SELECT doc_id, n_chars, round(k, 6) AS es_key
        FROM s ORDER BY k DESC, doc_id ASC LIMIT 50
    """

    # Skyline: SQL's only expression of the operator is the quadratic
    # NOT-EXISTS dominance anti-join — fine at oracle scale, the exact
    # plan the engine's two-phase prune exists to avoid at 100 TB.
    d["skyline_pareto"] = """
        WITH p AS (
            SELECT p_partkey, p_size, p_retailprice,
                   length(p_name) AS name_len
            FROM part
            WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
        )
        SELECT p_partkey, p_size, p_retailprice, name_len
        FROM p a
        WHERE NOT EXISTS (
            SELECT 1 FROM p b
            WHERE b.p_retailprice <= a.p_retailprice
              AND b.p_size >= a.p_size
              AND b.name_len <= a.name_len
              AND (b.p_retailprice < a.p_retailprice
                   OR b.p_size > a.p_size
                   OR b.name_len < a.name_len)
        )
    """
    return d
