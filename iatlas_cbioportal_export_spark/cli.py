"""CLI surface mirroring the reference's four entry points
(``clinical.py:842-954``, ``maf.py:272-348``, ``validate.py:229-284``,
``load.py:85-137`` — each an argparse ``main()``), re-expressed over the
Spark plans:

    python -m iatlas_cbioportal_export_spark.cli clinical  --clinical c.tsv --oncotree o.tsv --dataset D --out dir
    python -m iatlas_cbioportal_export_spark.cli maf       --maf-folder dir --out dir [--endpoint URL]
    python -m iatlas_cbioportal_export_spark.cli validate  --bundle dir
    python -m iatlas_cbioportal_export_spark.cli load      --bundle dir --dest dir

``validate`` exits non-zero when any check ERRORs — the reference's
``ErrorFlagHandler`` gate (``utils.py:52-58``) as an exit code.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

from pyspark.sql import SparkSession


def _spark() -> SparkSession:
    from iatlas_cbioportal_export_spark.session import get_spark

    return get_spark("iatlas-cli")


def cmd_clinical(args: argparse.Namespace) -> int:
    from iatlas_cbioportal_export_spark.operators.projections import (
        split_patient_sample,
    )
    from iatlas_cbioportal_export_spark.plans.bundle import write_study_bundle
    from iatlas_cbioportal_export_spark.plans.clinical_pipeline import (
        preprocess_clinical,
    )
    from iatlas_cbioportal_export_spark.sources.readers import read_tsv

    spark = _spark()
    clinical = read_tsv(spark, args.clinical)
    oncotree = read_tsv(spark, args.oncotree)
    codes = read_tsv(spark, args.codes) if args.codes else None
    neo = read_tsv(spark, args.neoantigen) if args.neoantigen else None
    header_renames: dict[str, str] = {}
    case_modes: dict[str, str] = {}
    attr_types: dict[str, str] = {}
    if args.mapping:
        # The cli→cBioPortal attribute mapping drives three things in the
        # reference: header renames (clinical.py:334-340), per-column case
        # normalization (clinical.py:136-167) and the PATIENT/SAMPLE split
        # (clinical.py:381-395). It is a kilobyte dimension table — collect.
        for row in read_tsv(spark, args.mapping).collect():
            src = row["iATLAS_attribute"] if "iATLAS_attribute" in row else None
            dst = row["NORMALIZED_HEADER"]
            if src and dst and src != dst:
                header_renames[src] = dst
            case = row["Case"] if "Case" in row else None
            if case:
                case_modes[dst] = case
            attr_type = row["ATTRIBUTE_TYPE"] if "ATTRIBUTE_TYPE" in row else None
            if attr_type:
                attr_types[dst] = attr_type
    pre = preprocess_clinical(
        clinical,
        oncotree,
        neoantigen=neo,
        header_renames=header_renames or None,
        case_modes=case_modes or None,
        oncotree_codes=codes,
    )
    if not attr_types:
        # no mapping given: the reference cannot split either — treat every
        # non-key column as a sample attribute (documented degraded mode)
        attr_types = {c: "SAMPLE" for c in pre.columns if c not in ("PATIENT_ID",)}
    patient, sample = split_patient_sample(pre, attr_types)
    bundle_kwargs: dict = {}
    if getattr(args, "reference_artifacts", False):
        # r9: byte-parity artifact mode — matches the reference main()'s
        # output surface exactly: data_clinical_merged.txt next to the two
        # views, %.12g float rendering, deterministic key-sorted rows
        # (pinned by tests/test_reference_differential_bundle.py)
        bundle_kwargs = {
            "clinical_merged": pre,
            "pandas_float_format": True,
            "order_by": {
                "patient": ["PATIENT_ID"],
                "sample": ["SAMPLE_ID"],
                "merged": ["SAMPLE_ID"],
            },
        }
    artifacts = write_study_bundle(
        args.out, args.dataset, patient, sample, **bundle_kwargs
    )
    print(f"wrote {len(artifacts)} artifacts to {args.out}")
    return 0


def cmd_maf(args: argparse.Namespace) -> int:
    from iatlas_cbioportal_export_spark.operators.maf import (
        annotate,
        drop_chrm,
        fake_annotator,
        http_annotator,
        split_annotation_errors,
    )
    from iatlas_cbioportal_export_spark.plans.bundle import write_mutations
    from iatlas_cbioportal_export_spark.sources.readers import read_maf_folder
    from iatlas_cbioportal_export_spark.sources.sinks import write_chunked_tsv

    spark = _spark()
    maf = read_maf_folder(spark, args.maf_folder)
    if maf is None:
        print("no .maf files found", file=sys.stderr)
        return 1
    annotator = http_annotator(args.endpoint) if args.endpoint else fake_annotator
    ok, failed = split_annotation_errors(annotate(maf, annotator=annotator))
    write_mutations(args.out, args.dataset, drop_chrm(ok), max_rows=args.max_rows)
    n_failed = failed.count()
    if n_failed:
        write_chunked_tsv(failed, os.path.join(args.out, "annotation_errors"))
        print(f"{n_failed} rows failed annotation", file=sys.stderr)
    return 0


# Columns that identify the gene row (not a sample) in the pass-through
# matrices (gene-signature / RNA-seq: gene × sample wide tables).
_MATRIX_GENE_COLS = {
    "Hugo_Symbol", "Entrez_Gene_Id", "geneset_id", "NAME", "DESCRIPTION",
}


def cmd_validate(args: argparse.Namespace) -> int:
    """Full-bundle validation: the reference ``validate.py`` main flow
    (``validate.py:229-284``) re-expressed natively over the whole bundle —
    V1 file presence (``utils.py:11-22``), per-clinical-table fused profile
    checks, patient↔sample referential keyset, the 118-column MAF schema
    check (V12, ``validate.py:159-172``), MAF value conformance (the native
    subset of cBioPortal ``validateData.py --strict_maf_checks`` the
    reference shells out to, ``validate.py:211-216``), MAF-barcodes ⊆
    clinical-samples, V13 maf-vs-neoantigen keyset (``validate.py:135-157``,
    with ``--neoantigen``), and gene-signature / RNA-seq pass-through matrix
    checks (``validate.py:175-195``: present, non-empty, sample columns ⊆
    clinical samples). The whole suite is ONE lazy findings union, collected
    once: every finding is printed, and the exit code is 1 on any ERROR row
    (ErrorFlagHandler semantics, ``utils.py:52-58``)."""
    from pyspark.sql import functions as F

    from iatlas_cbioportal_export_spark.operators.validation import (
        file_presence_findings,
        findings_union,
        keyed_dup_and_distinct_checks,
        keyset_preserved,
        keyset_subset,
        maf_value_conformance,
        required_columns_present,
        table_profile_checks,
    )
    from iatlas_cbioportal_export_spark.plans.bundle import (
        PASSTHROUGH_FILES,
        mutation_data_path,
        required_files,
    )
    from iatlas_cbioportal_export_spark.sources.maf_schema import REQUIRED_MAF_COLS
    from iatlas_cbioportal_export_spark.sources.readers import (
        read_tsv,
        read_tsv_skip_cbioportal_header,
    )

    spark = _spark()
    bundle = args.bundle
    findings = []

    required = required_files(bundle)
    optional = list(PASSTHROUGH_FILES)
    if args.strict:
        required += optional
        optional = []
    findings.append(file_presence_findings(spark, bundle, required, optional))

    # --- clinical tables: fused single-scan profiles + keyed uniqueness ---
    clinical: dict[str, object] = {}
    for name, key in (
        ("data_clinical_patient.txt", "PATIENT_ID"),
        ("data_clinical_sample.txt", "SAMPLE_ID"),
    ):
        path = os.path.join(bundle, name)
        if not os.path.exists(path):
            continue  # already an ERROR finding from file presence
        df = read_tsv_skip_cbioportal_header(spark, path)
        clinical[name] = df
        short = name[len("data_clinical_") : -len(".txt")]
        findings.append(
            table_profile_checks(
                df,
                no_null_cols=[key] if key in df.columns else [],
                all_null_cols=list(df.columns),
            )
        )
        if key in df.columns:
            findings.append(
                keyed_dup_and_distinct_checks(
                    df, key, dup_check=f"no_duplicate_{key.lower()}_{short}"
                )
            )
    patient = clinical.get("data_clinical_patient.txt")
    sample = clinical.get("data_clinical_sample.txt")
    if (
        patient is not None
        and sample is not None
        and "PATIENT_ID" in sample.columns
        and "PATIENT_ID" in patient.columns
    ):
        findings.append(
            keyset_subset(
                sample, "PATIENT_ID", patient, "PATIENT_ID",
                check="sample_patients_in_patient_table",
            )
        )

    # --- mutation data: V12 schema, value conformance, referential checks ---
    maf_path = mutation_data_path(bundle)
    if maf_path is not None:
        # Inferred types (file or chunked directory alike): a header-only
        # read would make every column a string and turn numeric checks
        # (position ordering, allele counts) lexicographic.
        maf = read_tsv(spark, maf_path, comment="#")
        findings.append(
            required_columns_present(
                maf, REQUIRED_MAF_COLS, check="maf_required_columns"
            )
        )
        findings.append(maf_value_conformance(maf))
        if "Tumor_Sample_Barcode" in maf.columns:
            findings.append(
                table_profile_checks(maf, no_null_cols=["Tumor_Sample_Barcode"])
            )
            if sample is not None and "SAMPLE_ID" in sample.columns:
                findings.append(
                    keyset_subset(
                        maf, "Tumor_Sample_Barcode", sample, "SAMPLE_ID",
                        check="maf_barcodes_in_clinical",
                    )
                )
            if args.neoantigen:
                neo = read_tsv(spark, args.neoantigen)
                findings.append(
                    keyset_preserved(
                        maf, "Tumor_Sample_Barcode", neo, "Sample_ID",
                        check="neoantigen_maf_ids_equal",
                    )
                )

    # --- pass-through matrices: non-empty + sample columns ⊆ clinical ---
    for name in (n for n in PASSTHROUGH_FILES if n.startswith("data_")):
        path = os.path.join(bundle, name)
        if not os.path.exists(path):
            continue
        mat = read_tsv(spark, path)
        findings.append(
            mat.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(f"nonempty_{name}").alias("check"),
                F.when(F.col("n") > 0, F.lit("OK"))
                .otherwise(F.lit("ERROR"))
                .alias("status"),
                F.col("n").cast("long").alias("observed"),
                F.lit(1).cast("long").alias("expected"),
                F.lit("matrix row count").alias("detail"),
            )
        )
        sample_cols = [c for c in mat.columns if c not in _MATRIX_GENE_COLS]
        if sample_cols == list(mat.columns):
            sample_cols = sample_cols[1:]  # unknown gene column: skip the first
        if sample_cols and sample is not None and "SAMPLE_ID" in sample.columns:
            col_df = spark.createDataFrame(
                [(c,) for c in sample_cols], "matrix_sample string"
            )
            findings.append(
                keyset_subset(
                    col_df, "matrix_sample", sample, "SAMPLE_ID",
                    check=f"matrix_samples_in_clinical_{name}",
                )
            )

    suite = findings_union(findings)
    rows = suite.collect()
    print("\t".join(suite.columns))
    for row in rows:
        print("\t".join("" if v is None else str(v) for v in row))
    return 1 if any(row["status"] == "ERROR" for row in rows) else 0


def cmd_load(args: argparse.Namespace) -> int:
    # The reference's load stage first generates cases_all/cases_sequenced
    # from the exported artifacts (load.py:12-35, the external
    # generate_case_lists.py), THEN uploads; mirror that ordering so a
    # clinical+maf bundle leaves load complete. Upload itself (Synapse,
    # load.py:38-82) becomes a copy to the destination store path
    # (driver-side, kilobyte metas + already-distributed data files).
    from iatlas_cbioportal_export_spark.plans.bundle import (
        write_load_stage_case_lists,
    )

    written = write_load_stage_case_lists(_spark(), args.bundle)
    if written:
        print(f"wrote {len(written)} case lists: {sorted(written)}")
    shutil.copytree(args.bundle, args.dest, dirs_exist_ok=True)
    print(f"loaded bundle {args.bundle} -> {args.dest}")
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """LLM-corpus curation end-to-end over JSONL: normalize → quality gates
    → optional classifier gate → language filter → PII redaction → exact
    dedup → JSONL out. Each stage is the library operator; the CLI only
    wires them."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from iatlas_cbioportal_export_spark.operators import curation as cur
    from iatlas_cbioportal_export_spark.operators.dedup import exact_dedup_keep_min
    from iatlas_cbioportal_export_spark.operators.text import (
        language_id,
        quality_classifier,
    )
    from iatlas_cbioportal_export_spark.sources.readers import read_jsonl, write_jsonl

    spark = _spark()
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    docs = read_jsonl(spark, args.input, schema)
    n_in = docs.count()
    normed = cur.normalize_text(docs).withColumnRenamed("text_norm", "text")
    gates = cur.gopher_quality(normed, min_words=args.min_words)
    kept = normed.join(
        gates.filter(F.col("passes")).select("doc_id"), "doc_id", "left_semi"
    )
    if args.min_quality is not None:
        scored = quality_classifier(kept, threshold=args.min_quality)
        kept = kept.join(
            scored.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
        )
    if args.lang:
        langs = language_id(kept)
        kept = kept.join(
            langs.filter(F.col("predicted_lang") == args.lang).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    redacted = cur.redact_pii(kept).withColumnRenamed("text_redacted", "text")
    keepers = exact_dedup_keep_min(redacted).select("doc_id")
    out = redacted.select("doc_id", "text").join(keepers, "doc_id", "left_semi")
    write_jsonl(out, args.output)
    n_out = out.count()
    print(f"curated {n_in} -> {n_out} docs ({args.input} -> {args.output})")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="iatlas-export-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("clinical", help="preprocess clinical TSVs into a study bundle")
    c.add_argument("--clinical", required=True)
    c.add_argument("--oncotree", required=True)
    c.add_argument("--codes")
    c.add_argument("--neoantigen")
    c.add_argument(
        "--mapping",
        help="clinical→cBioPortal attribute mapping TSV (iATLAS_attribute, "
        "NORMALIZED_HEADER, ATTRIBUTE_TYPE, Case) driving renames, case "
        "normalization and the patient/sample split",
    )
    c.add_argument("--dataset", required=True)
    c.add_argument("--out", required=True)
    c.add_argument(
        "--reference-artifacts",
        action="store_true",
        default=False,
        help="byte-parity artifact mode: also write data_clinical_merged"
        ".txt, render floats with the reference's %%.12g, and sort rows by"
        " their id columns (reproducible single-file artifacts)",
    )
    c.set_defaults(fn=cmd_clinical)

    m = sub.add_parser("maf", help="annotate and export mutation data")
    m.add_argument("--maf-folder", required=True)
    m.add_argument("--out", required=True)
    m.add_argument("--endpoint", help="Genome Nexus REST endpoint (default: offline fake)")
    m.add_argument("--max-rows", type=int, default=40_000)
    m.add_argument("--dataset", default="study", help="dataset name for the study id")
    m.set_defaults(fn=cmd_maf)

    v = sub.add_parser("validate", help="run the validation suite on a bundle")
    v.add_argument("--bundle", required=True)
    v.add_argument(
        "--neoantigen",
        help="neoantigen summary TSV for the V13 maf-vs-neoantigen keyset check",
    )
    v.add_argument(
        "--strict",
        action="store_true",
        help="treat missing gene-signature / RNA-seq pass-through files as "
        "ERROR (the reference requires all 10 bundle files)",
    )
    v.set_defaults(fn=cmd_validate)

    load = sub.add_parser("load", help="copy a bundle to its destination store")
    load.add_argument("--bundle", required=True)
    load.add_argument("--dest", required=True)
    load.set_defaults(fn=cmd_load)

    cu = sub.add_parser(
        "curate",
        help="LLM-corpus curation over JSONL: normalize, quality-gate, "
        "language-filter, PII-redact, dedup",
    )
    cu.add_argument("--input", required=True, help="input JSONL path/dir")
    cu.add_argument("--output", required=True, help="output JSONL dir")
    cu.add_argument("--min-words", type=int, default=50)
    cu.add_argument(
        "--min-quality",
        type=float,
        default=None,
        help="classifier-gate threshold on quality_prob (off when omitted)",
    )
    cu.add_argument("--lang", help="keep only this predicted language (e.g. en)")
    cu.set_defaults(fn=cmd_curate)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
