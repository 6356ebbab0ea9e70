"""Output checks: order-insensitive artifact digests, case-list parsing, and
the registry's row-level comparison against its DuckDB oracle twin.

The oracle comparison runs as its own process, so DuckDB never loads into
the benchmarked one:

    python3 perfbench/checks.py SF_DIR PICKLE_DIR QUERY...

reads each ``PICKLE_DIR/<query>.pkl`` (the Spark rows as a pandas frame) and
prints one JSON object, query → list of problems.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Hadoop/Spark bookkeeping next to real output: checksums and commit markers.
_IGNORED = (".crc", "_SUCCESS")


def _data_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(_IGNORED) and not f.startswith("."):
                out.append(os.path.join(root, f))
    return out


def artifact_digest(path: str) -> str:
    """sha256 over the sorted lines of ``path``; for a directory of part
    files, over the distinct header lines plus the sorted data lines.

    Row order inside a Spark output and its split into part files (whose
    names carry a random id) vary run to run; the header and the multiset
    of rows do not."""
    if os.path.isfile(path):
        with open(path, "rb") as fh:
            lines = sorted(fh.read().splitlines())
    else:
        headers: set[bytes] = set()
        rows: list[bytes] = []
        for f in _data_files(path):
            with open(f, "rb") as fh:
                part = fh.read().splitlines()
            if part:
                headers.add(part[0])
                rows.extend(part[1:])
        lines = sorted(headers) + sorted(rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line)
        h.update(b"\n")
    return h.hexdigest()[:16]


# Staging directories a sink leaves next to its artifact (``*.txt.parts``)
# are not artifacts; they are measured (store size) but not pinned.
def store_digests(store: str) -> dict[str, str]:
    """Digest per artifact of a loaded store: every top-level file and
    directory except sink staging directories, and every case list."""
    out = {}
    for name in sorted(os.listdir(store)):
        path = os.path.join(store, name)
        if name.endswith(".parts"):
            continue
        if name == "case_lists":
            for f in sorted(os.listdir(path)):
                out[f"case_lists/{f}"] = artifact_digest(os.path.join(path, f))
        else:
            out[name] = artifact_digest(path)
    return out


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``, bookkeeping included."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    total = n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
            n += 1
    return total, n


def data_rows(path: str, header_lines: int) -> int:
    """Rows of a file or a Spark output directory, less ``header_lines`` per
    non-empty file."""
    total = 0
    for f in _data_files(path):
        with open(f, "rb") as fh:
            total += max(0, sum(1 for _ in fh) - header_lines)
    return total


def case_list_ids(path: str) -> list[str]:
    """The ``case_list_ids:`` members of a cBioPortal case-list file."""
    with open(path) as fh:
        for line in fh:
            if line.startswith("case_list_ids:"):
                ids = line.split(":", 1)[1].strip()
                return sorted(ids.split("\t")) if ids else []
    raise ValueError(f"{path}: no case_list_ids line")


def load_parity_compare(repo_root: str):
    """``compare(spark_pdf, oracle_pdf) -> problems`` from the repository's
    parity checker, so the benchmark applies the same comparison rules."""
    path = os.path.join(repo_root, "tools", "check_parity.py")
    spec = importlib.util.spec_from_file_location("_perfbench_check_parity", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)  # the script prepends its own checkout path
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.compare


def oracle_problems(sf_dir: str, pickle_dir: str, names: list[str]) -> dict[str, list[str]]:
    """Each query's Spark rows against its ``oracle_sql()`` twin on DuckDB
    over the same tables; a query without a twin must return rows."""
    import duckdb
    import pandas as pd

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from iatlas_cbioportal_export_spark.sources.readers import TESTDATA_TABLES

    compare = load_parity_compare(ROOT)
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for name in names:
        pdf = pd.read_pickle(os.path.join(pickle_dir, f"{name}.pkl"))
        if name in oracles:
            out[name] = compare(pdf, con.execute(oracles[name]).fetchdf())
        else:
            out[name] = [] if len(pdf) else ["no rows"]
    con.close()
    return out


if __name__ == "__main__":
    sf_dir, pickle_dir, *names = sys.argv[1:]
    print(json.dumps(oracle_problems(sf_dir, pickle_dir, names)))
