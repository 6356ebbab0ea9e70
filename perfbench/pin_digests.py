"""Pin the study export's artifact digests for a range of seeds.

    python3 perfbench/pin_digests.py FIRST_SEED LAST_SEED

Runs the four-command chain once per seed in one process and writes
``pinned_digests.json``, which ``run.py`` checks every study_export run
against; its study seeds run from 0 to ``run.PINNED_SEEDS - 1``. Re-pin only when the study generator or the program's artifact
format changes on purpose.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    first, last = (int(a) for a in sys.argv[1:3])
    work = os.path.join(run.ROOT, ".perfbench_work", f"pin-{os.getpid()}")
    mem = run.driver_mem(run.host_mem_gib())
    run.configure_env(work, run.host_cpus(), mem)
    from iatlas_cbioportal_export_spark import get_spark

    path = os.path.join(run.HERE, "pinned_digests.json")
    with open(path) as fh:
        pinned = json.load(fh)
    spark = get_spark("perfbench-pin", extra_conf=run.session_conf(work, mem, False))
    try:
        for seed in range(first, last + 1):
            study = run.StudyExport(os.path.join(work, str(seed)), seed)
            study.prepare()
            study.pinning = True
            study.setup(spark)
            study.iteration(0, None)
            if study.failed:
                print(f"seed {seed}: {study.failures}", file=sys.stderr)
                return 1
            pinned[str(study.study_seed)] = study.digests
            shutil.rmtree(os.path.join(work, str(seed)))
            print(f"pinned seed {seed}", file=sys.stderr)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
