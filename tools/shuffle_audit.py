"""Per-query SHUFFLE-VOLUME audit: runs registry queries and reports how
many bytes actually crossed an exchange, against how many bytes were read
from parquet — the hard evidence behind every "only sketches shuffle"
claim in this repo.

Wall-clock on one box says little about 100 TB; shuffle bytes do. A query
whose shuffle volume is a small fraction of its input scales with the
network it has; one that shuffles its whole input is bounded by it. This
tool turns the plan-shape assertions (PLANS.md) into measured numbers:

    python tools/shuffle_audit.py [sf_dir] [query ...]   (writes SHUFFLE.md
    when run with no explicit query list)

Implementation: Spark's UI REST API (/api/v1/applications/<id>/stages)
exposes per-stage shuffleWriteBytes / inputRecords; stages are attributed
by recording the completed-stage id set before and after (local mode runs
one app, so stage ids are global and monotone), metrics read AFTER the
query completes — no listener plumbing through py4j. Local ``file://``
scans do NOT populate the inputBytes task metric in this build (checked:
a full column read over a 2 MB table reports 3.3 KB), so source volume is
taken from the plan instead: the scan locations in the formatted explain,
summed as on-disk file sizes. That is bytes-of-files-scanned — an upper
bound that ignores column pruning, i.e. the CONSERVATIVE denominator for
a shuffle ratio."""

from __future__ import annotations

import json
import os
import re
import sys
import time
import urllib.request

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from iatlas_cbioportal_export_spark import get_spark  # noqa: E402

# The headline tier plus the heavy sketch/graph/join paths whose scale
# story rests on bounded shuffle.
DEFAULT_QUERIES = [
    "flagship_case_lists",
    "clinical_e2e_preprocess",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_jaccard_prefix",
    "dedup_span_windows",
    "embedding_near_dup",
    "sim_ann_lsh",
    "sim_ivf_topk",
    "text_tfidf",
    "text_cooccurrence_pmi",
    "graph_pagerank",
    "fuzzy_join_names",
    "exact_quantiles",
    "events_sessionize",
    "profile_key_skew",
    "text_vocab_growth",
    "sketch_hll_distinct",
    "sketch_bloom_prefilter",
    "sketch_hll_set_ops",
    "sketch_heavy_hitters",
    "sketch_bitmap_distinct",
    "text_inverted_index",
    "text_quality_classifier",
    "snapshot_diff",
    "events_resample_ffill",
    # round-4 second/third batches
    "text_cosine_pairs",
    "graph_hits",
    "running_revenue",
    "salted_skew_join",
    "constraint_suite",
    "events_sliding_distinct",
    "sketch_rank_quantile",
    "text_naive_bayes",
    "profile_table",
    "graph_sssp",
    "entity_fs_linkage",
    "stats_ols_multi",
    "sim_grid_dbscan",
    "sim_ivfpq_topk",
    "eval_auc",
    "stream_topk_snapshot",
    "events_feature_matrix",
    "stats_covariance_matrix",
    "profile_join_cardinality",
    "dedup_cluster_report",
    # round-5 additions
    "sample_mixture_weights",
    "text_repetition",
    "eval_confusion",
    "dedup_containment",
    "clinical_field_conformance",
    "text_cosine_capped",
    "entity_golden_record",
    "multimodal_wav_roundtrip",
    "multimodal_image_resize",
    "curation_pii_pseudonyms",
    "sketch_kmv_distinct",
    "graph_link_prediction",
    "eval_mrr",
    "text_nfc_normalize",
    # round-6 additions
    "bundle_cross_checks",
    "multimodal_png_roundtrip",
    "multimodal_container_metadata",
    "dedup_containment_capped",
    "dedup_url_canonical",
    "sample_pack_sequences",
    "meta_consistency",
    "curation_k_anonymity",
    # round-7 additions
    "multimodal_mp4_samples",
    "multimodal_mp3_frames",
    "multimodal_audio_features",
    "multimodal_g711_stats",
    "multimodal_keyframe_ranges",
    "multimodal_gif_roundtrip",
    "multimodal_jpeg_roundtrip",
    "multimodal_id3_tags",
    "multimodal_webdataset_index",
    "multimodal_bmp_roundtrip",
    "multimodal_zip_index",
    "header_conformance",
    "dedup_paragraphs",
    "text_trigram_backoff",
    # round-8 additions
    "multimodal_zip64_index",
    "dedup_containment_word",
    "multimodal_image_dhash",
    "multimodal_vad_segments",
]


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.loads(r.read())


def _stage_rows(base: str, app_id: str) -> dict[int, dict]:
    out = {}
    for st in _api(base, f"/api/v1/applications/{app_id}/stages?status=complete"):
        # attemptId collisions are resolved last-wins (retries are rare in
        # local mode and metrics are cumulative per attempt)
        out[st["stageId"]] = st
    return out


_LOC = re.compile(r"Location: \w+ \[([^\]]*)\]")


def _path_bytes(p: str) -> int:
    if os.path.isfile(p):
        return os.path.getsize(p)
    total = 0
    for root, _dirs, files in os.walk(p):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def source_bytes(df) -> int:
    """On-disk bytes of every distinct scan location in the physical plan."""
    qe = df._jdf.queryExecution()
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = qe.explainString(jmode)
    paths = set()
    for m in _LOC.finditer(plan):
        for p in m.group(1).split(","):
            p = p.strip()
            if p.startswith("file:"):
                paths.add(p[5:])
    return sum(_path_bytes(p) for p in paths)


def fmt_bytes(n: float) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if abs(n) < 1024:
            return f"{n:.1f}{unit}"
        n /= 1024
    return f"{n:.1f}TB"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or DEFAULT_QUERIES
    write_md = not sys.argv[2:]
    # the engine session disables the UI (bench hygiene); the audit NEEDS
    # the REST metrics endpoint, so re-enable it for this tool only
    spark = get_spark(
        "shuffle-audit", extra_conf={"spark.ui.enabled": "true"}
    )
    queries = entrymod.queries()
    spark.range(1).count()  # warm the stack before baseline snapshot
    base = spark.sparkContext.uiWebUrl
    if not base:
        print("Spark UI disabled — cannot audit", file=sys.stderr)
        sys.exit(1)
    app_id = spark.sparkContext.applicationId

    rows = []
    for name in names:
        # snapshot BEFORE query construction: iterative operators
        # (pagerank, exact quantiles, jaccard's stats/collapse) run eager
        # localCheckpoint / decision jobs while the query is being BUILT —
        # those stages are part of the query's cost and must be attributed
        # to it. source_bytes comes from the plan afterwards; checkpointed
        # plans root at LogicalRDD with no file location, so src can be 0
        # (reported as n/a) even though input was read during construction.
        before = set(_stage_rows(base, app_id))
        t0 = time.time()
        df = queries[name](spark, sf_dir)
        src = source_bytes(df)
        df.count()
        wall = time.time() - t0
        # completed-stage metrics can lag the job end by a beat
        time.sleep(0.3)
        after = _stage_rows(base, app_id)
        new = [st for sid, st in after.items() if sid not in before]
        in_rec = sum(st.get("inputRecords", 0) for st in new)
        sw = sum(st.get("shuffleWriteBytes", 0) for st in new)
        ratio = f"{sw / src:.3f}" if src else "n/a"
        srcs = fmt_bytes(src) if src else "n/a"
        rows.append((name, srcs, in_rec, sw, ratio, wall, len(new)))
        print(
            f"{name:28s} src={srcs:>9s} in_rec={in_rec:>9d} "
            f"shuffle={fmt_bytes(sw):>9s} ratio={ratio:>7s} "
            f"stages={len(new):3d} wall={wall:5.1f}s"
        )

    if write_md:
        lines = [
            "# SHUFFLE.md — measured shuffle volume per query",
            "",
            f"sf_dir: `{sf_dir}`, local[32]. `src` = on-disk bytes of every",
            "file the plan scans (conservative denominator — ignores column",
            "pruning); `in_rec` = measured input records; `shuffle` =",
            "measured shuffle-write bytes over all the query's stages (Spark",
            "UI REST metrics); `ratio` = shuffle / src. Small ratios mean",
            "the operator moves sketches or aggregates, not raw data — the",
            "property that survives a 100x scale-up; ratios near or above 1",
            "mark queries whose shuffle IS their semantics (self-join",
            "fan-out, whole-table regroup), documented per operator.",
            "",
            "| query | src bytes | input records | shuffle write | ratio | stages | wall |",
            "|---|---|---|---|---|---|---|",
        ]
        for name, srcs, in_rec, sw, ratio, wall, nst in rows:
            lines.append(
                f"| {name} | {srcs} | {in_rec} | {fmt_bytes(sw)} "
                f"| {ratio} | {nst} | {wall:.1f}s |"
            )
        with open(os.path.join(REPO_ROOT, "SHUFFLE.md"), "w") as f:
            f.write("\n".join(lines) + "\n")
        print("\nSHUFFLE.md written")


if __name__ == "__main__":
    main()
