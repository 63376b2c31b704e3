"""Regenerate CHECKED.md — the per-query driver-evidence ledger.

One row per registry entry: every round whose CORRECTNESS_r*.json
contains the query (i.e. it sat inside the driver's 50-row window
that round), whether it was green there, and its current window
position. Replaces the judge archaeology of diffing N CORRECTNESS
files to find which queries still lack public driver evidence.

    python tools/window_ledger.py          # rewrites CHECKED.md
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from oracle_suite.queries import QUERIES

    rounds: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            rounds[int(m.group(1))] = json.load(f)

    names = list(QUERIES)
    lines = [
        "# CHECKED — driver-evidence ledger",
        "",
        "Generated by `python tools/window_ledger.py` from the registry",
        "order and every `CORRECTNESS_r*.json` on disk. A query is",
        "\"checked\" in a round iff it appeared in that round's driver",
        "window (the first 50 registry entries); ✓ = all three of",
        "rows/schema/hash matched, ✗ = any mismatch; the `latest`",
        "column names the failing fields for the most recent driver",
        "appearance (r8 judge ask #4 — red is a first-class state).",
        "Queries past the window are gated locally by",
        "`tools/check_correctness.py` and `tests/test_tail_oracle.py`",
        "every round regardless.",
        "",
        "| # | query | window now | rounds checked | latest | last green |",
        "|---|---|---|---|---|---|",
    ]
    never: list[str] = []
    red: list[str] = []
    for i, name in enumerate(names, 1):
        checked = []
        last_green = None
        latest = None
        for r in sorted(rounds):
            entry = rounds[r].get(name)
            if entry is None:
                continue
            failing = [
                f
                for f in ("rows_match", "schema_match", "hash_match")
                if not entry.get(f)
            ]
            if entry.get("err"):
                failing.append("err")
            if failing:
                checked.append(f"r{r}✗")
                latest = f"r{r} FAIL({', '.join(failing)})"
            else:
                checked.append(f"r{r}✓")
                latest = f"r{r} pass"
                last_green = f"r{r}"
        pos = "in" if i <= 50 else "tail"
        if not checked:
            never.append(name)
        if latest and "FAIL" in latest:
            red.append(f"{name}: {latest}")
        lines.append(
            f"| {i} | {name} | {pos} | {' '.join(checked) or '—'} "
            f"| {latest or 'never'} | {last_green or 'never'} |"
        )
    lines += [
        "",
        f"Registry: {len(names)} queries; never driver-checked: "
        f"{len(never)}" + (f" ({', '.join(never)})" if never else "")
        + f"; latest-round RED: {len(red)}"
        + (f" ({'; '.join(red)})" if red else ""),
        "",
    ]
    out = os.path.join(REPO, "CHECKED.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(names)} queries, {len(never)} never checked")


if __name__ == "__main__":
    main()
