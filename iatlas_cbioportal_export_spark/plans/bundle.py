"""Study-bundle writer: the reference's complete per-dataset output surface
(SURVEY.md §3.1 steps 6-7, §2.9) as one composed plan.

This module is the only owner of the bundle layout: artifact names, meta
documents and case lists are written here, and the CLI's ``maf``,
``validate`` and ``load`` commands take the mutation artifact, the
required-file names and the case-list rendering from here.

For each dataset the reference emits (``clinical.py:572-656``, ``maf.py:168-216``,
``load.py:12-35``):

- ``data_clinical_patient.txt`` / ``data_clinical_sample.txt`` — the two
  clinical views, 100%-null columns pruned (P5, ``clinical.py:581-582``),
  each with the 4 ``#``-prefixed cBioPortal metadata header lines that the
  ``insert_clinical_metadata.py`` subprocess used to add (``clinical.py:598-604``);
- ``data_mutations_extended/`` parts — the annotated MAF, chunked to
  ≤``max_rows`` rows per file (S4, ``maf.py:39-72``);
- ``meta_*.txt`` — key:value descriptors per datatype plus ``meta_study.txt``
  (study id ``iatlas_{dataset}``, reference genome hg38, ``clinical.py:645-656``);
- ``case_lists/`` — ``cases_all`` (every sample), ``cases_sequenced``
  (samples present in the mutation data — J5, ``load.py:16-18``), and one
  list per CANCER_TYPE (A1+F7/F8, ``clinical.py:659-718``). In the CLI chain
  ``clinical`` writes the bundle without mutations and ``maf`` adds them, so
  ``load`` writes the final ``cases_all``/``cases_sequenced``
  (:func:`write_load_stage_case_lists`).

Scale shape: the two clinical views and the MAF write distributed (csv sink
tasks); only the case-list aggregation result (one row per cancer type, with
its sample-id list) and the kilobyte meta documents are collected — bounded
by id-list size, never by table width or the MAF. For a multi-dataset run,
call once per dataset over a ``.filter(Dataset == d)`` slice — with the input
stored partitioned by ``Dataset`` the filter is partition pruning, not a scan.
"""

from __future__ import annotations

import os
from collections.abc import Mapping
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

from iatlas_cbioportal_export_spark.operators.aggregates import case_list_groups
from iatlas_cbioportal_export_spark.operators.joins import semi_join_sequenced
from iatlas_cbioportal_export_spark.operators.projections import (
    prune_all_null_columns,
)
from iatlas_cbioportal_export_spark.sources.sinks import (
    render_case_list_text,
    render_meta_file,
    write_cbioportal_clinical,
    write_chunked_tsv,
    write_single_tsv,
)


_MUTATIONS_ARTIFACT = "data_mutations_extended"
_MUTATIONS_META = "meta_mutations_extended.txt"
# Accepted spellings, ours first: the reference writes a single
# data_mutations.txt (utils.py:11-22 REQUIRED_OUTPUT_FILES), this writer a
# chunked directory (S4). Spark's csv scan reads a file or a directory alike.
_MAF_ARTIFACT_NAMES = (
    _MUTATIONS_ARTIFACT,
    "data_mutations.txt",
    "data_mutations_extended.txt",
)
_MAF_META_NAMES = (_MUTATIONS_META, "meta_mutations.txt")
_CLINICAL_FILES = (
    "data_clinical_patient.txt",
    "data_clinical_sample.txt",
    "meta_clinical_patient.txt",
    "meta_clinical_sample.txt",
    "meta_study.txt",
)
# The rest of the reference's 10 required files: pass-through matrices
# this writer does not produce.
PASSTHROUGH_FILES = (
    "data_gene_signatures.txt",
    "meta_gene_signatures.txt",
    "data_rna_seq_mrna.txt",
    "meta_rna_seq_mrna.txt",
)


def _first_present(bundle_dir: str, names: tuple[str, ...]) -> str | None:
    return next(
        (n for n in names if os.path.exists(os.path.join(bundle_dir, n))), None
    )


def _write_text(path: str, text: str) -> str:
    with open(path, "w") as fh:
        fh.write(text)
    return path


def mutation_data_path(bundle_dir: str) -> str | None:
    """The bundle's mutation data under the first accepted spelling
    present, or ``None``."""
    name = _first_present(bundle_dir, _MAF_ARTIFACT_NAMES)
    return None if name is None else os.path.join(bundle_dir, name)


def required_files(bundle_dir: str) -> list[str]:
    """V1's required names (``utils.py:11-22``) less the pass-throughs:
    the clinical views and metas, ``meta_study.txt``, and the mutation data
    and meta under whichever accepted spelling is present (ours if none)."""
    return [
        *_CLINICAL_FILES,
        _first_present(bundle_dir, _MAF_ARTIFACT_NAMES) or _MUTATIONS_ARTIFACT,
        _first_present(bundle_dir, _MAF_META_NAMES) or _MUTATIONS_META,
    ]


def write_mutations(
    out_dir: str, dataset: str, mutations: DataFrame, max_rows: int = 40_000
) -> dict[str, str]:
    """The mutation artifact, chunked to ≤``max_rows`` rows per file, and its
    meta descriptor (the reference's generate_meta_files step,
    ``maf.py:209-216``); returns artifact name → path."""
    maf_dir = os.path.join(out_dir, _MUTATIONS_ARTIFACT)
    write_chunked_tsv(mutations, maf_dir, max_rows=max_rows)
    meta = render_meta_file(
        {
            "cancer_study_identifier": f"iatlas_{dataset}",
            "genetic_alteration_type": "MUTATION_EXTENDED",
            "datatype": "MAF",
            "data_filename": _MUTATIONS_ARTIFACT,
        }
    )
    meta_path = _write_text(os.path.join(out_dir, _MUTATIONS_META), meta)
    return {_MUTATIONS_ARTIFACT: maf_dir, _MUTATIONS_META: meta_path}


def _write_load_stage_lists(
    case_list_dir: str,
    study_id: str,
    all_ids: list[str],
    seq_ids: list[str] | None,
) -> dict[str, str]:
    """``cases_all`` and, when ``seq_ids`` is given, ``cases_sequenced``.
    The reference delegates both to the external datahub
    generate_case_lists.py (``load.py:28-35``); the name/description follow
    that tool's conf conventions ("All samples" / "... (NUM samples)", NUM =
    id count) over the same documented case-list template the reference's
    native per-type writer uses — byte-pinned by the bundle differential's
    documented-format re-statement of the tool."""
    lists = [("all", all_ids, "All samples", "All samples")]
    if seq_ids is not None:
        lists.append(
            ("sequenced", seq_ids, "Sequenced samples", "Samples with mutation data")
        )
    artifacts: dict[str, str] = {}
    for stem, ids, name, description in lists:
        ids = sorted(ids)
        _, text = render_case_list_text(
            study_id, stem, ids, name=name,
            description=f"{description} ({len(ids)} samples)",
        )
        artifacts[f"case_lists/cases_{stem}.txt"] = _write_text(
            os.path.join(case_list_dir, f"cases_{stem}.txt"), text
        )
    return artifacts


def _meta_clinical(study_id: str, datatype: str, filename: str) -> Mapping[str, object]:
    return {
        "cancer_study_identifier": study_id,
        "genetic_alteration_type": "CLINICAL",
        "datatype": datatype,
        "data_filename": filename,
    }


def write_study_bundle(
    out_dir: str,
    dataset: str,
    clinical_patient: DataFrame,
    clinical_sample: DataFrame,
    mutations: DataFrame | None = None,
    attr_meta: Mapping[str, Mapping[str, object]] | None = None,
    sample_id_col: str = "SAMPLE_ID",
    cancer_type_col: str = "CANCER_TYPE",
    barcode_col: str = "Tumor_Sample_Barcode",
    max_maf_rows: int = 40_000,
    clinical_merged: DataFrame | None = None,
    pandas_float_format: bool = False,
    order_by: Mapping[str, list[str]] | None = None,
) -> dict[str, str]:
    """Write one dataset's complete cBioPortal study bundle; returns
    artifact name → path.

    ``clinical_sample`` feeds FOUR actions (P5 null-count aggregate, the file
    write, the A1 case-list aggregation, the J5 semi-join) — without a
    persist each action re-runs the whole upstream preprocess DAG, so both
    views are cached for the bundle's lifetime (memory-and-disk: safe when a
    dataset slice outgrows executor memory) and released before returning.

    Reference byte-parity knobs (r9, pinned by the full-bundle
    differential): ``clinical_merged`` writes the reference's
    ``data_clinical_merged.txt`` (a single header'd TSV — column header but
    none of the 4 ``#`` metadata lines; the reference's ``to_csv`` with the
    ``header=True`` default, ``clinical.py:611-620``, after unconditionally
    dropping the ``Dataset`` bookkeeping column — we drop it here too when
    present); ``pandas_float_format=True`` renders float
    columns with the reference's ``%.12g``; ``order_by`` gives each view a
    deterministic global row order (keys ``"patient"``/``"sample"``/
    ``"merged"`` → sort columns) so single-file artifacts are reproducible
    byte-for-byte.
    """
    study_id = f"iatlas_{dataset}"
    os.makedirs(out_dir, exist_ok=True)
    case_list_dir = os.path.join(out_dir, "case_lists")
    os.makedirs(case_list_dir, exist_ok=True)
    attr_meta = attr_meta or {}
    artifacts: dict[str, str] = {}
    clinical_patient = clinical_patient.persist()
    clinical_sample = clinical_sample.persist()

    order_by = order_by or {}

    # Clinical views: prune 100%-null columns (P5), then header'd single file.
    # r11 (guide §2.6 overlap independent jobs): each artifact costs a fixed
    # chain of small driver-triggered jobs (the P5 null-count aggregate, the
    # csv write, and — for the sample view — the A1 case-list aggregate).
    # The chains are independent (distinct output files, shared persisted
    # inputs), so they run from a small thread pool and back-fill each
    # other's job tails instead of serializing ~5 fixed-overhead jobs.
    # Byte surface unchanged: same files, same contents, and the artifacts
    # dict is assembled in the original insertion order after the futures
    # complete.
    def _clinical_artifact(name: str, view: DataFrame, okey: str):
        pruned = prune_all_null_columns(view)
        path = os.path.join(out_dir, name)
        written = write_cbioportal_clinical(
            pruned,
            path,
            attr_meta,
            pandas_float_format=pandas_float_format,
            order_by=order_by.get(okey),
        )
        meta_name = "meta_" + name[len("data_") :]
        datatype = "PATIENT_ATTRIBUTES" if "patient" in name else "SAMPLE_ATTRIBUTES"
        meta_path = _write_text(
            os.path.join(out_dir, meta_name),
            render_meta_file(_meta_clinical(study_id, datatype, name)),
        )
        return [(name, written), (meta_name, meta_path)]

    with ThreadPoolExecutor(max_workers=3) as pool:
        clinical_futures = [
            pool.submit(_clinical_artifact, name, view, okey)
            for name, view, okey in (
                ("data_clinical_patient.txt", clinical_patient, "patient"),
                ("data_clinical_sample.txt", clinical_sample, "sample"),
            )
        ]
        # Case lists need only the persisted sample view — kick the A1
        # aggregate off concurrently; its rendering happens below, after
        # the meta_study write, exactly where it happened before.
        groups_future = pool.submit(
            lambda: case_list_groups(
                clinical_sample, group_col=cancer_type_col, id_col=sample_id_col
            ).collect()
        )
        for fut in clinical_futures:
            for key, value in fut.result():
                artifacts[key] = value

    # data_clinical_merged.txt — the pre-split frame the reference keeps
    # next to the two views (clinical.py:611-620; it also feeds the
    # reference's case-list reader). Single header'd TSV (column header,
    # no # metadata lines), no pruning: the reference writes the merged
    # subset as-is, minus the Dataset bookkeeping column, which it drops
    # unconditionally (clinical.py:615) — mirror that here so callers that
    # pass the pre-split frame straight through (the CLI) stay byte-equal.
    if clinical_merged is not None:
        if "Dataset" in clinical_merged.columns:
            clinical_merged = clinical_merged.drop("Dataset")
        merged_path = os.path.join(out_dir, "data_clinical_merged.txt")
        artifacts["data_clinical_merged.txt"] = write_single_tsv(
            clinical_merged,
            merged_path,
            pandas_float_format=pandas_float_format,
            order_by=order_by.get("merged"),
        )

    if mutations is not None:
        artifacts.update(write_mutations(out_dir, dataset, mutations, max_maf_rows))

    # meta_study.txt — byte-identical to the reference's native writer
    # (clinical.py:645-656: exact key order, TBD/PLACEHOLDER fields and
    # all; pinned by the rendering differential).
    meta_study = render_meta_file(
        {
            "cancer_study_identifier": study_id,
            "type_of_cancer": "mixed",
            "name": "TBD",
            "pmid": "29033130",
            "reference_genome": "hg38",
            "citation": "PLACEHOLDER",
            "description": "PLACEHOLDER",
        }
    )
    artifacts["meta_study.txt"] = _write_text(
        os.path.join(out_dir, "meta_study.txt"), meta_study
    )

    # Case lists. ONE aggregation pass (A1); collected result is one row per
    # cancer type carrying its (sorted) sample-id list (computed concurrently
    # with the clinical artifacts above).
    groups = groups_future.result()
    all_ids: list[str] = []
    for row in sorted(groups, key=lambda r: (r[cancer_type_col] is None, r[cancer_type_col])):
        ids = row["sample_ids"]
        all_ids.extend(ids)
        slug, text = render_case_list_text(study_id, row[cancer_type_col], ids)
        artifacts[f"case_lists/cases_{slug}.txt"] = _write_text(
            os.path.join(case_list_dir, f"cases_{slug}.txt"), text
        )

    # cases_sequenced: samples present in the mutation data (J5 semi-join).
    seq_ids = None
    if mutations is not None:
        sequenced = (
            semi_join_sequenced(
                clinical_sample.select(sample_id_col),
                mutations,
                clinical_key=sample_id_col,
                mutation_key=barcode_col,
            )
            .select(sample_id_col)
            .collect()
        )
        seq_ids = [r[sample_id_col] for r in sequenced]
    artifacts.update(
        _write_load_stage_lists(case_list_dir, study_id, all_ids, seq_ids)
    )

    clinical_patient.unpersist()
    clinical_sample.unpersist()
    return artifacts


def write_load_stage_case_lists(
    spark,
    bundle_dir: str,
    sample_id_col: str = "SAMPLE_ID",
    barcode_col: str = "Tumor_Sample_Barcode",
) -> dict[str, str]:
    """The reference's LOAD-stage case-list generation
    (``load.py:12-35``, ``write_case_lists_all_and_sequenced`` → external
    ``generate_case_lists.py``): ``cases_all.txt`` and — when the bundle
    carries mutation data — ``cases_sequenced.txt`` (J5 semi-join), written
    from the already-exported bundle artifacts right before upload. The
    study id is parsed from the bundle's own ``meta_study.txt``; sample ids
    come from ``data_clinical_merged.txt`` when present (the staging file
    the external tool reads) else ``data_clinical_sample.txt``.

    Scale shape: only the distinct sample-id list is collected (the same
    KB/MB-bounded id-list class as the bundle writer's case lists); the
    semi-join and distincts run distributed. Returns artifact → path for
    whatever it wrote (empty dict when the bundle has no clinical file)."""
    from iatlas_cbioportal_export_spark.sources.readers import (
        read_tsv,
        read_tsv_skip_cbioportal_header,
    )

    meta_study = os.path.join(bundle_dir, "meta_study.txt")
    study_id = None
    if os.path.exists(meta_study):
        with open(meta_study) as fh:
            for line in fh:
                if line.startswith("cancer_study_identifier:"):
                    study_id = line.split(":", 1)[1].strip()
                    break
    if study_id is None:
        return {}

    merged_path = os.path.join(bundle_dir, "data_clinical_merged.txt")
    sample_path = os.path.join(bundle_dir, "data_clinical_sample.txt")
    if os.path.exists(merged_path):
        samples = read_tsv(spark, merged_path)
    elif os.path.exists(sample_path):
        samples = read_tsv_skip_cbioportal_header(spark, sample_path)
    else:
        return {}
    if sample_id_col not in samples.columns:
        return {}
    samples = samples.select(sample_id_col).distinct()

    ids = [r[sample_id_col] for r in samples.collect()]
    seq_ids = None
    maf_path = mutation_data_path(bundle_dir)
    if maf_path is not None:
        # Only the barcodes are needed: no type inference pass.
        maf = (
            spark.read.option("sep", "\t")
            .option("header", True)
            .option("comment", "#")
            .csv(maf_path)
        )
        if barcode_col in maf.columns:
            sequenced = semi_join_sequenced(
                samples, maf,
                clinical_key=sample_id_col, mutation_key=barcode_col,
            ).collect()
            seq_ids = [r[sample_id_col] for r in sequenced]

    case_list_dir = os.path.join(bundle_dir, "case_lists")
    os.makedirs(case_list_dir, exist_ok=True)
    return _write_load_stage_lists(case_list_dir, study_id, ids, seq_ids)
