"""Seeded synthetic iAtlas study for the four-command export chain.

Writes the inputs ``cli clinical`` and ``cli maf`` read — a merged clinical
TSV, the oncotree map, the oncotree code expansion, the attribute mapping and
a folder of 118-column MAF files — and derives, independently of the
program, what a correct export must contain:

- ``cases_all``: every emitted ``SAMPLE_ID`` (paper id preferred over the
  original name, minus the ``-nd-``/``-ad-``/``-nr-`` ids of
  ``Anders_JITC_2022``, which the scoped filter drops);
- ``cases_sequenced``: the emitted samples with at least one non-chrM
  variant.

The study gates clean under ``cli validate``: patient-level attributes are
constant per patient, and every ``Tumor_Sample_Barcode`` is an emitted
``SAMPLE_ID``. The same ``(seed, size)`` always writes the same bytes.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

ANDERS = "Anders_JITC_2022"
DATASETS = [ANDERS] + [
    f"{name}_{year}"
    for name, year in zip(
        "Chen Gide Hugo IMVigor210 Kim Liu Mariathasan Miao Prins Prat Riaz "
        "Rose Snyder VanAllen Zhao Choueiri Cloughesy HTAN Ravi Amato Jung "
        "Melero".split(),
        [2016, 2019, 2016, 2018, 2018, 2019, 2018, 2018, 2019, 2017, 2017,
         2021, 2017, 2015, 2019, 2020, 2019, 2022, 2023, 2020, 2019, 2021],
    )
]
TCGA = ["SKCM", "LUAD", "BLCA", "KIRC", "GBM", "STAD", "HNSC", "BRCA"]
CANCER = {
    "SKCM": ("Melanoma", "Cutaneous Melanoma"),
    "LUAD": ("Non-Small Cell Lung Cancer", "Lung Adenocarcinoma"),
    "BLCA": ("Bladder Cancer", "Bladder Urothelial Carcinoma"),
    "KIRC": ("Renal Cell Carcinoma", "Renal Clear Cell Carcinoma"),
    "GBM": ("Glioma", "Glioblastoma Multiforme"),
    "STAD": ("Esophagogastric Cancer", "Stomach Adenocarcinoma"),
    "HNSC": ("Head and Neck Cancer", "Head and Neck Squamous Cell Carcinoma"),
    "BRCA": ("Breast Cancer", "Breast Invasive Carcinoma"),
}
# (iATLAS_attribute, NORMALIZED_HEADER, ATTRIBUTE_TYPE, Case, DATA_TYPE)
MAPPING = [
    ("OS_STATUS", "OS_STATUS", "PATIENT", "None", "STRING"),
    ("OS_MONTHS", "OS_MONTHS", "PATIENT", "None", "NUMBER"),
    ("PFS_STATUS", "PFS_STATUS", "PATIENT", "None", "STRING"),
    ("PFS_MONTHS", "PFS_MONTHS", "PATIENT", "None", "NUMBER"),
    ("TCGA_Study", "TCGA_STUDY", "PATIENT", "None", "STRING"),
    ("AMADEUS_Study", "AMADEUS_STUDY", "PATIENT", "None", "STRING"),
    ("Sex", "SEX", "PATIENT", "Title Case", "STRING"),
    ("Race", "RACE", "PATIENT", "CAPS", "STRING"),
    ("Ethnicity", "ETHNICITY", "PATIENT", "Title Case", "STRING"),
    ("Dataset", "Dataset", "SAMPLE", "None", "STRING"),
    ("Cancer_Tissue", "CANCER_TISSUE", "SAMPLE", "Title Case", "STRING"),
    ("Clinical_Response", "CLINICAL_RESPONSE", "SAMPLE", "None", "STRING"),
    ("TMB", "TMB", "SAMPLE", "None", "NUMBER"),
    ("ONCOTREE_CODE", "ONCOTREE_CODE", "SAMPLE", "None", "STRING"),
]
SCOPED_MARKERS = ["-nd-", "-ad-", "-nr-"]  # dropped inside ANDERS
KEPT_MARKERS = ["-ar-", "-ND-"]  # case-sensitive pattern: kept
CHROMS = [f"chr{i}" for i in range(1, 23)] + ["chrX"]
BASES = np.array(list("ACGT"))
GENES = [
    ("TP53", 7157), ("KRAS", 3845), ("EGFR", 1956), ("BRAF", 673),
    ("PIK3CA", 5290), ("PTEN", 5728), ("NRAS", 4893), ("CDKN2A", 1029),
    ("ARID1A", 8289), ("NF1", 4763), ("APC", 324), ("KMT2D", 8085),
    ("FAT1", 2195), ("LRP1B", 53353), ("TTN", 7273), ("MUC16", 94025),
]
MAF_VALUES_FILLED = {
    "Center": "iatlas", "NCBI_Build": "GRCh38", "Strand": "+",
    "Mutation_Status": "Somatic", "Validation_Status": "Untested",
    "Verification_Status": "Unknown", "Sequencing_Phase": "Phase_I",
    "Sequence_Source": "WXS", "Sequencer": "Illumina HiSeq",
    "FILTER": "PASS", "PICK": "1", "SYMBOL_SOURCE": "HGNC",
}


@dataclass(frozen=True)
class StudySize:
    n_samples: int
    n_variants: int
    n_maf_files: int = 8

    @property
    def n_patients(self) -> int:
        return max(2, int(self.n_samples * 0.35))


@dataclass
class Study:
    root: str
    clinical: str
    oncotree: str
    codes: str
    mapping: str
    maf_folder: str
    cases_all: list[str]
    cases_sequenced: list[str]
    n_maf_rows: int
    n_maf_rows_kept: int
    input_bytes: int

    def cli_args(self, bundle: str, store: str) -> dict[str, list[str]]:
        """The four command lines of the chain, in order."""
        return {
            "clinical": [
                "clinical", "--clinical", self.clinical, "--oncotree", self.oncotree,
                "--codes", self.codes, "--mapping", self.mapping,
                "--dataset", "iatlas", "--out", bundle,
            ],
            "maf": ["maf", "--maf-folder", self.maf_folder, "--out", bundle,
                    "--dataset", "iatlas"],
            "validate": ["validate", "--bundle", bundle],
            "load": ["load", "--bundle", bundle, "--dest", store],
        }


def _write_tsv(df: pd.DataFrame, path: str) -> None:
    df.to_csv(path, sep="\t", index=False, na_rep="", lineterminator="\n")


def _patients(rng: np.random.Generator, n: int) -> pd.DataFrame:
    ds = rng.integers(0, len(DATASETS), n)
    tcga = np.asarray(TCGA)[(ds + rng.integers(0, 2, n)) % len(TCGA)]
    pid = np.array([f"P{j:06d}" for j in range(n)])
    has_paper_id = rng.random(n) < 0.7
    status = rng.choice([0, 1, 2], n, p=[0.55, 0.4, 0.05]).astype(object)
    status[rng.random(n) < 0.05] = None
    return pd.DataFrame(
        {
            "patient_name": np.where(has_paper_id, np.char.add("orig-", pid), pid),
            "study_patient_name": np.where(has_paper_id, pid, None),
            "PATIENT_ID": pid,
            "Dataset": np.asarray(DATASETS)[ds],
            "TCGA_Study": tcga,
            "AMADEUS_Study": np.char.add(np.char.lower(tcga), "_amadeus"),
            "OS_STATUS": status,
            "OS_MONTHS": np.round(rng.uniform(10, 3000, n), 3),
            "PFS_STATUS": rng.integers(0, 2, n),
            "PFS_MONTHS": np.round(rng.uniform(5, 2000, n), 1),
            "Sex": rng.choice(["female", "male"], n),
            "Race": rng.choice(["white", "asian", "black_or_african_american"], n),
            "Ethnicity": rng.choice(
                ["not_hispanic_or_latino", "hispanic_or_latino"], n
            ),
        }
    )


def _samples(rng: np.random.Generator, patients: pd.DataFrame, n: int) -> pd.DataFrame:
    owner = np.concatenate(
        [np.arange(len(patients)), rng.integers(0, len(patients), n - len(patients))]
    )
    rng.shuffle(owner)
    s = patients.iloc[owner].reset_index(drop=True)
    marker = np.full(n, "-", dtype=object)
    roll = rng.random(n)
    marker[roll < 0.12] = rng.choice(SCOPED_MARKERS, int((roll < 0.12).sum()))
    kept_mark = (roll >= 0.12) & (roll < 0.16)
    marker[kept_mark] = rng.choice(KEPT_MARKERS, int(kept_mark.sum()))
    sid = [f"S{i:06d}{m}T" for i, m in enumerate(marker)]
    has_paper_id = rng.random(n) < 0.8
    s["SAMPLE_ID"] = sid
    s["sample_name"] = np.where(has_paper_id, [f"orig-{x}" for x in sid], sid)
    s["study_sample_name"] = np.where(has_paper_id, sid, None)
    tissue = rng.choice(["liver", "lung", "skin", "lymph_node"], n)
    s["Cancer_Tissue"] = np.char.add(tissue.astype(str), "_cancer_tissue")
    s["Clinical_Response"] = rng.choice(
        ["stable_clinical_response_clinical_response", "partial_clinical_response",
         "complete", None], n
    )
    s["TMB"] = np.round(rng.gamma(2.0, 4.0, n), 4)
    s["emitted"] = ~(
        (s["Dataset"] == ANDERS)
        & s["SAMPLE_ID"].str.contains("|".join(SCOPED_MARKERS), regex=True)
    )
    return s


def _maf_frame(rng: np.random.Generator, barcodes: np.ndarray, n: int) -> pd.DataFrame:
    from iatlas_cbioportal_export_spark.sources.maf_schema import REQUIRED_MAF_COLS

    gene = rng.integers(0, len(GENES), n)
    chrom = np.asarray(CHROMS)[rng.integers(0, len(CHROMS), n)]
    chrom[rng.random(n) < 0.04] = "chrM"
    start = rng.integers(10_000, 200_000_000, n)
    ref_i = rng.integers(0, 4, n)
    ref = BASES[ref_i]
    alt = BASES[(ref_i + rng.integers(1, 4, n)) % 4]
    depth = rng.integers(20, 400, n)
    alt_n = (depth * rng.uniform(0.05, 0.6, n)).astype(np.int64)
    cols: dict[str, object] = {c: "" for c in REQUIRED_MAF_COLS}
    cols.update(MAF_VALUES_FILLED)
    cols.update(
        {
            "Hugo_Symbol": np.asarray([g for g, _ in GENES])[gene],
            "Entrez_Gene_Id": np.asarray([e for _, e in GENES])[gene],
            "Chromosome": chrom,
            "Start_Position": start,
            "End_Position": start,
            "Reference_Allele": ref,
            "Tumor_Seq_Allele1": ref,
            "Tumor_Seq_Allele2": alt,
            "Match_Norm_Seq_Allele1": ref,
            "Match_Norm_Seq_Allele2": ref,
            "dbSNP_RS": np.where(rng.random(n) < 0.3, "novel", ""),
            "Tumor_Sample_Barcode": barcodes,
            "Matched_Norm_Sample_Barcode": np.char.add(barcodes.astype(str), "-N"),
            "Score": np.round(rng.uniform(0, 100, n), 2),
            "t_depth": depth,
            "t_ref_count": depth - alt_n,
            "t_alt_count": alt_n,
            "n_depth": depth,
            "n_ref_count": depth,
            "n_alt_count": 0,
            "AF": np.round(rng.beta(0.5, 20, n), 6),
            "AFR_AF": np.round(rng.beta(0.5, 20, n), 6),
            "EUR_AF": np.round(rng.beta(0.5, 20, n), 6),
            "IMPACT": rng.choice(["HIGH", "MODERATE", "LOW", "MODIFIER"], n),
            "vcf_id": [f"rs{x}" for x in rng.integers(1, 10**8, n)],
            "vcf_pos": start,
            "vcf_qual": np.round(rng.uniform(10, 1000, n), 1),
            "HLA_Allele": rng.choice(["HLA-A*02:01", "HLA-B*07:02", ""], n),
            "Peptide": ["".join(p) for p in rng.choice(list("ACDEFGHIKLMNPQRSTVWY"), (n, 9))],
            "MHCflurry_2.1.1_affinity_nm": np.round(rng.uniform(1, 5e4, n), 3),
            "MHCflurry_2.1.1_presentation_score": np.round(rng.uniform(0, 1, n), 6),
        }
    )
    return pd.DataFrame(cols, columns=REQUIRED_MAF_COLS)


def generate(out_dir: str, seed: int, size: StudySize) -> Study:
    """Write a study under ``out_dir`` and return its paths and expectations."""
    rng = np.random.default_rng([seed, size.n_samples, size.n_variants])
    os.makedirs(out_dir, exist_ok=True)
    patients = _patients(rng, size.n_patients)
    samples = _samples(rng, patients, size.n_samples)

    clinical_cols = [
        "sample_name", "study_sample_name", "patient_name", "study_patient_name",
        "Dataset", "TCGA_Study", "AMADEUS_Study", "OS_STATUS", "OS_MONTHS",
        "PFS_STATUS", "PFS_MONTHS", "Sex", "Race", "Ethnicity", "Cancer_Tissue",
        "Clinical_Response", "TMB",
    ]
    paths = {
        name: os.path.join(out_dir, f"{name}.tsv")
        for name in ("clinical", "oncotree", "codes", "mapping")
    }
    _write_tsv(samples[clinical_cols], paths["clinical"])
    # Oncotree map: every (TCGA, AMADEUS, Dataset) triple the clinical table
    # carries, minus ~5% left unmapped (their samples get no cancer type).
    combos = (
        samples[["TCGA_Study", "AMADEUS_Study", "Dataset"]]
        .drop_duplicates()
        .sort_values(["Dataset", "TCGA_Study"])
        .reset_index(drop=True)
    )
    combos = combos[rng.random(len(combos)) >= 0.05].copy()
    combos["ONCOTREE_CODE"] = combos["TCGA_Study"]
    _write_tsv(combos, paths["oncotree"])
    _write_tsv(
        pd.DataFrame(
            [(code, *CANCER[code]) for code in TCGA],
            columns=["ONCOTREE_CODE", "CANCER_TYPE", "CANCER_TYPE_DETAILED"],
        ),
        paths["codes"],
    )
    _write_tsv(
        pd.DataFrame(
            [
                (src, dst, typ, case, f"{dst} description", dtype, dst.title(), i + 1)
                for i, (src, dst, typ, case, dtype) in enumerate(MAPPING)
            ],
            columns=["iATLAS_attribute", "NORMALIZED_HEADER", "ATTRIBUTE_TYPE",
                     "Case", "DESCRIPTION", "DATA_TYPE", "DISPLAY_NAME", "PRIORITY"],
        ),
        paths["mapping"],
    )

    emitted = samples.loc[samples["emitted"], "SAMPLE_ID"].to_numpy()
    # ~15% of emitted samples carry no variant at all, so cases_sequenced is
    # a strict subset of cases_all.
    carriers = emitted[rng.random(len(emitted)) >= 0.15]
    maf = _maf_frame(rng, carriers[rng.integers(0, len(carriers), size.n_variants)],
                     size.n_variants)
    maf_folder = os.path.join(out_dir, "mafs")
    os.makedirs(maf_folder, exist_ok=True)
    bounds = np.linspace(0, len(maf), size.n_maf_files + 1).astype(int)
    for i in range(size.n_maf_files):
        with open(os.path.join(maf_folder, f"part_{i:02d}.maf"), "w") as fh:
            fh.write("#version 2.4\n")
            maf.iloc[bounds[i] : bounds[i + 1]].to_csv(
                fh, sep="\t", index=False, lineterminator="\n"
            )
    kept = maf["Chromosome"] != "chrM"
    input_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d in (out_dir, maf_folder)
        for f in os.listdir(d)
        if os.path.isfile(os.path.join(d, f))
    )
    study = Study(
        root=out_dir,
        maf_folder=maf_folder,
        cases_all=sorted(emitted.tolist()),
        cases_sequenced=sorted(set(maf.loc[kept, "Tumor_Sample_Barcode"])),
        n_maf_rows=len(maf),
        n_maf_rows_kept=int(kept.sum()),
        input_bytes=input_bytes,
        **paths,
    )
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump({"cases_all": study.cases_all,
                   "cases_sequenced": study.cases_sequenced,
                   "n_maf_rows": study.n_maf_rows,
                   "n_maf_rows_kept": study.n_maf_rows_kept,
                   "input_bytes": study.input_bytes}, fh)
    return study


def load(out_dir: str) -> Study:
    """The study ``generate`` wrote under ``out_dir``."""
    with open(os.path.join(out_dir, "expected.json")) as fh:
        expected = json.load(fh)
    return Study(
        root=out_dir,
        maf_folder=os.path.join(out_dir, "mafs"),
        **{name: os.path.join(out_dir, f"{name}.tsv")
           for name in ("clinical", "oncotree", "codes", "mapping")},
        **expected,
    )


if __name__ == "__main__":
    # python3 gen_study.py OUT_DIR SEED N_SAMPLES N_VARIANTS N_MAF_FILES
    import sys

    out, seed, *size = sys.argv[1:]
    generate(out, int(seed), StudySize(*(int(v) for v in size)))
