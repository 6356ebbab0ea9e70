"""Study-bundle writer: complete per-dataset output surface (SURVEY.md §3.1)."""

import os

from iatlas_cbioportal_export_spark.plans.bundle import write_study_bundle
from iatlas_cbioportal_export_spark.sources.readers import (
    read_tsv_skip_cbioportal_header,
)


def _fixtures(spark):
    patient = spark.createDataFrame(
        [
            ("P1", "F", None),
            ("P2", "M", None),
        ],
        "PATIENT_ID string, SEX string, DEAD_COL string",
    )
    sample = spark.createDataFrame(
        [
            ("S1", "P1", "Melanoma"),
            ("S2", "P1", "Lung Cancer"),
            ("S3", "P2", "Melanoma"),
            ("S4", "P2", None),
        ],
        "SAMPLE_ID string, PATIENT_ID string, CANCER_TYPE string",
    )
    maf = spark.createDataFrame(
        [
            ("TP53", "chr17", "S1"),
            ("KRAS", "chr12", "S1"),
            ("EGFR", "chr7", "S3"),
            ("BRAF", "chr7", "SX"),  # barcode not in clinical
        ],
        "Hugo_Symbol string, Chromosome string, Tumor_Sample_Barcode string",
    )
    return patient, sample, maf


def test_bundle_structure_and_roundtrip(spark, tmp_path):
    patient, sample, maf = _fixtures(spark)
    out = str(tmp_path / "bundle")
    attr_meta = {"SEX": {"display_name": "Sex", "datatype": "STRING", "priority": 1}}
    artifacts = write_study_bundle(
        out, "Demo_2026", patient, sample, mutations=maf, attr_meta=attr_meta
    )

    expected = {
        "data_clinical_patient.txt",
        "data_clinical_sample.txt",
        "meta_clinical_patient.txt",
        "meta_clinical_sample.txt",
        "meta_study.txt",
        "data_mutations_extended",
        "meta_mutations_extended.txt",
        "case_lists/cases_all.txt",
        "case_lists/cases_sequenced.txt",
        "case_lists/cases_Melanoma.txt",
        "case_lists/cases_Lung_Cancer.txt",
        "case_lists/cases_no_oncotree_code.txt",
    }
    assert expected <= set(artifacts)
    for path in artifacts.values():
        assert os.path.exists(path)

    # 4 '#' header lines + column header + rows; all-null DEAD_COL pruned (P5)
    with open(artifacts["data_clinical_patient.txt"]) as fh:
        lines = fh.read().splitlines()
    assert [ln[0] for ln in lines[:4]] == ["#"] * 4
    assert lines[0] == "#PATIENT_ID\tSex"
    assert lines[4].split("\t") == ["PATIENT_ID", "SEX"]
    assert len(lines) == 4 + 1 + 2

    # S3 inverse scan round-trips the data under the headers
    back = read_tsv_skip_cbioportal_header(
        spark, artifacts["data_clinical_sample.txt"]
    )
    assert back.count() == 4
    assert set(back.columns) == {"SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE"}

    # case lists: cases_all covers every sample; sequenced = J5 semi-join
    with open(artifacts["case_lists/cases_all.txt"]) as fh:
        assert fh.read().splitlines()[-1] == "case_list_ids: S1\tS2\tS3\tS4"
    with open(artifacts["case_lists/cases_sequenced.txt"]) as fh:
        body = fh.read()
    assert body.splitlines()[-1] == "case_list_ids: S1\tS3"
    assert "cancer_study_identifier: iatlas_Demo_2026" in body

    with open(artifacts["meta_study.txt"]) as fh:
        meta = fh.read()
    assert "reference_genome: hg38" in meta
    assert "cancer_study_identifier: iatlas_Demo_2026" in meta


def test_bundle_maf_chunking(spark, tmp_path):
    patient, sample, maf = _fixtures(spark)
    out = str(tmp_path / "bundle2")
    write_study_bundle(
        out, "Demo_2026", patient, sample, mutations=maf, max_maf_rows=2
    )
    maf_dir = os.path.join(out, "data_mutations_extended")
    parts = [f for f in os.listdir(maf_dir) if f.endswith(".csv")]
    # 4 rows at ≤2 rows/file → ≥2 part files (ceil-division, maf.py:43,63)
    assert len(parts) >= 2


def test_bundle_leaves_no_staging_dirs(spark, tmp_path):
    """The single-file artifacts are merged from a csv sink's ``*.parts``
    staging dir; the bundle holds only artifacts once the writer returns."""
    patient, sample, maf = _fixtures(spark)
    out = str(tmp_path / "bundle3")
    write_study_bundle(
        out, "Demo_2026", patient, sample, mutations=maf, clinical_merged=sample
    )
    assert os.path.exists(os.path.join(out, "data_clinical_merged.txt"))
    staged = [
        os.path.join(root, name)
        for root, dirs, files in os.walk(out)
        for name in dirs + files
        if name.endswith(".parts")
    ]
    assert staged == []


def test_load_stage_case_lists_match_bundle_writer(spark, tmp_path):
    """The load stage re-derives cases_all/cases_sequenced from the written
    artifacts (clinical sample file + chunked MAF directory); the bytes
    equal the ones the bundle writer rendered from the frames."""
    from iatlas_cbioportal_export_spark.plans.bundle import (
        write_load_stage_case_lists,
    )

    patient, sample, maf = _fixtures(spark)
    out = str(tmp_path / "bundle4")
    artifacts = write_study_bundle(
        out, "Demo_2026", patient, sample, mutations=maf, max_maf_rows=2
    )
    names = ["case_lists/cases_all.txt", "case_lists/cases_sequenced.txt"]
    written = {}
    for name in names:
        with open(artifacts[name], "rb") as fh:
            written[name] = fh.read()
        os.remove(artifacts[name])
    assert sorted(write_load_stage_case_lists(spark, out)) == names
    for name in names:
        with open(os.path.join(out, name), "rb") as fh:
            assert fh.read() == written[name], name


def test_single_tsv_global_order_across_many_partitions(spark, tmp_path):
    """r9 byte-parity plumbing under REAL parallelism: write_single_tsv with
    order_by over a 5000-row, 32-partition frame must produce ONE file in
    global key order (orderBy range-partitions; filename-ordered part
    concatenation preserves the total order) with %.12g float rendering
    (integral doubles bare, NaN empty)."""
    import pyspark.sql.functions as F

    from iatlas_cbioportal_export_spark.sources.sinks import write_single_tsv

    n = 5000
    df = (
        spark.range(n)
        .repartition(32)
        .select(
            # keys arrive shuffled across partitions, zero-padded for
            # lexicographic == numeric order
            F.format_string("k%05d", (F.col("id") * 2654435761 % n)).alias("k"),
            F.when(F.col("id") % 11 == 0, None)
            .otherwise((F.col("id") % 7).cast("double"))
            .alias("v"),
        )
    )
    path = str(tmp_path / "single.tsv")
    write_single_tsv(df, path, pandas_float_format=True, order_by=["k"])
    with open(path) as fh:
        lines = fh.read().splitlines()
    assert lines[0] == "k\tv"
    keys = [ln.split("\t")[0] for ln in lines[1:]]
    assert len(keys) == n
    assert keys == sorted(keys), "single-file artifact lost the global order"
    vals = {ln.split("\t")[1] for ln in lines[1:]}
    # integral doubles render bare; nulls render empty
    assert vals <= {"", "0", "1", "2", "3", "4", "5", "6"}, vals


def test_concat_csv_parts_survives_empty_leading_part(tmp_path):
    """r10 (ADVICE): an empty (0-byte) part-*.csv sorting FIRST must not
    have its '' readline consumed as the column header — that used to emit
    a headerless artifact and drop the real header from the next part.
    (This Spark build writes header-only files for empty partitions, but
    older/other writers produce 0-byte parts; the merge is defensive.)"""
    from iatlas_cbioportal_export_spark.sources.sinks import _concat_csv_parts

    parts = tmp_path / "x.parts"
    parts.mkdir()
    (parts / "part-00000-a.csv").write_text("")  # empty partition's file
    (parts / "part-00001-b.csv").write_text("k\tv\nz1\t1\n")
    (parts / "part-00002-c.csv").write_text("k\tv\nz2\t2\n")
    out = str(tmp_path / "x.tsv")
    _concat_csv_parts(str(parts), out, ["# meta"])
    with open(out) as fh:
        lines = fh.read().splitlines()
    assert lines[0] == "# meta"
    assert lines[1] == "k\tv", "column header lost to an empty leading part"
    assert lines[2:] == ["z1\t1", "z2\t2"]
