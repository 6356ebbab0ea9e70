"""Self-tests of the benchmark's own code: the event-log fold, span
attribution, the seeded study generator, the output checks and the metric names
it prints.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for _p in (ROOT, HERE):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import checks  # noqa: E402
import gen_study  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

FIXTURE_LOG = os.path.join(HERE, "fixtures", "local-fixture")
MB = 1024 * 1024


def test_fold_fixture_log():
    jobs = tracing.fold_event_log(FIXTURE_LOG)
    assert sorted(jobs) == [0, 1]
    j0, j1 = jobs[0], jobs[1]
    assert (j0.submit, j0.end, j0.span, j0.succeeded) == (1.0, 1.5, 1, True)
    # stage 1 belongs to job 0 (lowest job id listing it); job 1 skips it
    assert (j0.stages, j0.tasks, j0.failed_tasks) == (2, 3, 0)
    assert j0.task_s == pytest.approx(0.45)
    assert j0.gc_s == pytest.approx(0.03)
    assert (j0.shuffle_write_b, j0.shuffle_read_b) == (2 * MB, 2 * MB)
    assert (j0.spill_b, j0.output_b) == (MB // 2, 777)
    assert (j1.span, j1.succeeded, j1.stages, j1.tasks, j1.failed_tasks) == (None, False, 1, 1, 1)
    assert j1.task_s == pytest.approx(0.05)


def test_attribution_tag_then_innermost_open_span():
    tracer = tracing.Tracer()
    outer = tracer.open("cli.clinical", "cli")
    inner = tracer.open("sinks.write_tsv", "sinks")
    tracer.close(inner)
    tracer.close(outer)
    outer.start, outer.end = 0.0, 10.0
    inner.start, inner.end = 2.0, 4.0
    jobs = {
        0: tracing.Job(id=0, submit=3.0, end=3.5),  # untagged, inside both
        1: tracing.Job(id=1, submit=5.0, end=6.0),  # untagged, outer only
        2: tracing.Job(id=2, submit=3.0, end=3.5, span=outer.id),  # tagged
        3: tracing.Job(id=3, submit=20.0, end=21.0),  # outside every span
    }
    owner = tracing.attribute(jobs, tracer.spans)
    assert owner == {0: inner.id, 1: outer.id, 2: outer.id, 3: None}


def test_pool_thread_span_nests_under_open_span():
    tracer = tracing.Tracer()
    outer = tracer.open("bundle.write_study_bundle", "bundle")
    seen = []
    t = threading.Thread(target=lambda: seen.append(tracer.open("sinks.write_tsv", "sinks")))
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    assert seen[0].parent == outer.id


def test_union_and_self_times():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert tracing.union_length([]) == 0.0
    tracer = tracing.Tracer()
    root = tracer.open("iteration")
    a = tracer.open("a")
    tracer.close(a)
    tracer.close(root)
    root.start, root.end, a.start, a.end = 0.0, 10.0, 1.0, 4.0
    selfs = tracing.self_times(tracer.spans)
    assert selfs[root.id] == pytest.approx(7.0)
    assert selfs[a.id] == pytest.approx(3.0)


def test_patches_replace_every_module_reference_and_restore():
    from iatlas_cbioportal_export_spark.plans import bundle
    from iatlas_cbioportal_export_spark.sources import sinks

    original = sinks.write_cbioportal_clinical
    assert bundle.write_cbioportal_clinical is original
    patches = tracing.Patches()
    tracing.wrap_layer(tracing.Tracer(), patches, sinks, "sinks")
    assert sinks.write_cbioportal_clinical is not original
    assert bundle.write_cbioportal_clinical is sinks.write_cbioportal_clinical
    patches.restore()
    assert sinks.write_cbioportal_clinical is original
    assert bundle.write_cbioportal_clinical is original


SMALL = gen_study.StudySize(n_samples=120, n_variants=900, n_maf_files=3)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_study_generator_is_byte_identical_per_seed(tmp_path):
    gen_study.generate(str(tmp_path / "a"), 7, SMALL)
    gen_study.generate(str(tmp_path / "b"), 7, SMALL)
    gen_study.generate(str(tmp_path / "c"), 8, SMALL)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_every_study_seed_has_pinned_digests():
    with open(os.path.join(HERE, "pinned_digests.json")) as fh:
        pinned = json.load(fh)
    assert set(pinned) == {str(s) for s in range(run.PINNED_SEEDS)}
    assert all(pinned[str(s)] for s in range(run.PINNED_SEEDS))


def test_heap_after_gc_reads_only_the_window(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.010s][info][gc] Using G1\n"
        "[1.500s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 900M->700M(2048M) 4.1ms\n"
        "[2.500s][info][gc] GC(1) Pause Young (Normal) (G1 Evacuation Pause) 300M->120M(2048M) 3.2ms\n"
        "[2.600s][info][gc] GC(2) Concurrent Mark Cycle 12.0ms\n"
        "[3.000s][info][gc] GC(3) Pause Young (Concurrent Start) (G1 Humongous Allocation) 1G->1536K(2048M) 2.0ms\n"
        "[4.000s][info][gc] GC(4) Pause Full (System.gc()) 200M->90M(2048M) 40.0ms\n"
    )
    assert run.heap_after_gc_mb(str(log), 2.0, 4.0) == (120.0, 90.0)
    assert run.heap_after_gc_mb(str(log), 2.9, 3.1) == (1.5, 1.5)
    with pytest.raises(RuntimeError):
        run.heap_after_gc_mb(str(log), 5.0, 6.0)


def test_study_is_shaped_to_gate_clean(tmp_path):
    import pandas as pd

    study = gen_study.generate(str(tmp_path / "s"), 5, SMALL)
    clinical = pd.read_csv(study.clinical, sep="\t", dtype=str, keep_default_na=False)
    patient = clinical["study_patient_name"].where(
        clinical["study_patient_name"] != "", clinical["patient_name"]
    )
    attrs = ["OS_STATUS", "OS_MONTHS", "PFS_STATUS", "PFS_MONTHS", "TCGA_Study",
             "AMADEUS_Study", "Sex", "Race", "Ethnicity"]
    assert (clinical.assign(P=patient).groupby("P")[attrs].nunique() <= 1).all().all()
    assert gen_study.ANDERS in set(clinical["Dataset"])
    emitted = set(study.cases_all)
    assert all(
        not any(m in s for m in gen_study.SCOPED_MARKERS)
        for s, ds in zip(clinical["study_sample_name"].where(
            clinical["study_sample_name"] != "", clinical["sample_name"]), clinical["Dataset"])
        if s in emitted and ds == gen_study.ANDERS
    )
    barcodes = set()
    for f in os.listdir(study.maf_folder):
        maf = pd.read_csv(os.path.join(study.maf_folder, f), sep="\t", comment="#", dtype=str)
        assert len(maf.columns) == 118
        barcodes |= set(maf["Tumor_Sample_Barcode"])
    assert barcodes <= emitted
    assert set(study.cases_sequenced) < emitted


def test_artifact_digest_ignores_row_order_and_part_split(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    (a / "part-0001-x.csv").write_text("h1\th2\n1\t2\n3\t4\n")
    (a / "._SUCCESS.crc").write_text("x")
    (b / "part-0007-y.csv").write_text("h1\th2\n3\t4\n")
    (b / "part-0008-y.csv").write_text("h1\th2\n1\t2\n")
    assert checks.artifact_digest(str(a)) == checks.artifact_digest(str(b))
    (b / "part-0009-y.csv").write_text("h1\th2\n5\t6\n")
    assert checks.artifact_digest(str(a)) != checks.artifact_digest(str(b))
    assert checks.data_rows(str(b), 1) == 3


def test_tail_percentile():
    assert run.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    pct, value = run.tail([float(i) for i in range(1, 21)])
    assert pct == 50.0 and value == 10.0


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared_e2e == run.END_TO_END_UNITS
    assert declared_layer == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    for name in list(declared_e2e) + list(declared_layer):
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
