"""Regenerate PARITY_LOCAL.md from two check_parity runs.

Usage:
    python tools/check_parity.py /root/testdata/sf0.01        > /tmp/pe.txt 2>&1
    python tools/check_parity.py /root/testdata/sf0.01 --plain > /tmp/pp.txt 2>&1
    python tools/gen_parity_local.py /tmp/pe.txt /tmp/pp.txt
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

LINE = re.compile(r"(OK|FAIL|rows)\s+(\w+): (\d+) rows \[([0-9.]+)s\]")


def parse(path: str) -> dict[str, tuple[str, int, float]]:
    out: dict[str, tuple[str, int, float]] = {}
    for raw in open(path, errors="replace"):
        # progress bars glue \r fragments onto result lines
        for chunk in raw.split("\r"):
            m = LINE.search(chunk)
            if m:
                out[m.group(2)] = (
                    m.group(1),
                    int(m.group(3)),
                    float(m.group(4)),
                )
    return out


def main() -> int:
    engine = parse(sys.argv[1])
    plain = parse(sys.argv[2])
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
    ).stdout.strip()
    n_ok = sum(1 for n in names if engine.get(n, ("?",))[0] == "OK")
    n_ok_p = sum(1 for n in names if plain.get(n, ("?",))[0] == "OK")
    rows = [
        "# PARITY_LOCAL — full-registry oracle check (local evidence)",
        "",
        "The driver's correctness gate covers the FIRST 50 `queries()`"
        " entries; this file is the committed local evidence for the rest"
        " (and a re-confirmation of the first 50). Generated at commit"
        f" `{commit}` by `tools/gen_parity_local.py` from:",
        "",
        "    python tools/check_parity.py /root/testdata/sf0.01          # engine session",
        "    python tools/check_parity.py /root/testdata/sf0.01 --plain  # driver-style bare session",
        "",
        f"Engine session: **{n_ok}/{len(names)} OK**; bare session:"
        f" **{n_ok_p}/{len(names)} OK** (row count + column set +"
        " order-insensitive values vs the DuckDB oracle twin).",
        "",
        "| # | query | engine | bare | rows | sec |",
        "|---|---|---|---|---|---|",
    ]
    for i, n in enumerate(names, 1):
        e = engine.get(n)
        p = plain.get(n)
        rows.append(
            f"| {i} | {n} | {e[0] if e else 'missing'} |"
            f" {p[0] if p else 'missing'} |"
            f" {e[1] if e else '-'} | {e[2] if e else '-'} |"
        )
    open(os.path.join(REPO_ROOT, "PARITY_LOCAL.md"), "w").write("\n".join(rows) + "\n")
    missing = [n for n in names if n not in engine or n not in plain]
    print(f"wrote PARITY_LOCAL.md: {n_ok}/{len(names)} engine OK, "
          f"{n_ok_p}/{len(names)} bare OK, missing={missing}")
    return 0 if not missing and n_ok == len(names) == n_ok_p else 1


if __name__ == "__main__":
    raise SystemExit(main())
