#!/usr/bin/env python
"""Per-query bench drift table (VERDICT r3 "Next round" #6).

Per-query drift between rounds (sessionize 0.56->0.74 s between rounds
2 and 3, say) could not be attributed without re-deriving that the code
was diff-identical — this script makes drift adjudication a one-command
diff.

Reads every driver round file (BENCH_r*.json, payload under "parsed") plus
the committed exclusive-run log (BENCH/exclusive_runs.jsonl: one JSON
object per run with "label" and "queries") and prints a markdown table of
per-query seconds across all of them, flagging cells that moved >= 25%
vs the previous column (host steal on this shared VM swings 1-17%, so
single-run deltas under ~20% are noise — see BASELINE.md).

Usage: python BENCH/perquery.py  (from the repo root; writes stdout)
"""

from __future__ import annotations

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def columns() -> list[tuple[str, dict[str, float]]]:
    cols: list[tuple[str, dict[str, float]]] = []
    for path in sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json"))):
        with open(path) as fh:
            d = json.load(fh)
        q = (d.get("parsed") or d).get("queries")
        if q:
            label = os.path.basename(path).replace("BENCH_", "").replace(
                ".json", ""
            )
            cols.append((label, q))
    log = os.path.join(REPO, "BENCH", "exclusive_runs.jsonl")
    if os.path.exists(log):
        with open(log) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                d = json.loads(line)
                if d.get("queries"):
                    cols.append((d.get("label", "excl"), d["queries"]))
    return cols


def main() -> None:
    cols = columns()
    names = sorted({n for _, q in cols for n in q})
    print("| query | " + " | ".join(label for label, _ in cols) + " |")
    print("|---" * (len(cols) + 1) + "|")
    for n in names:
        row = [n]
        prev: float | None = None
        for _, q in cols:
            v = q.get(n)
            if v is None:
                row.append("-")
            else:
                flag = (
                    " *"
                    if prev is not None and abs(v - prev) >= 0.25 * prev
                    else ""
                )
                row.append(f"{v:.2f}{flag}")
                prev = v
        print("| " + " | ".join(row) + " |")
    print()
    print("`*` = moved >= 25% vs the previous column (past typical host "
          "steal); driver columns (rN) carry co-tenant noise, exclusive "
          "columns are the comparable series.")


if __name__ == "__main__":
    main()
