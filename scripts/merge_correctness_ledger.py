#!/usr/bin/env python3
"""Maintain CORRECTNESS_CUMULATIVE.json — the per-query ledger of the
latest driver-verified green CORRECTNESS row.

Why it exists: the driver's gate checks a rotating 50-query window per
round and keeps only recent CORRECTNESS_r{N}.json artifacts on disk, so
"every registered query has a green row" was previously reconstructible
only from verdict prose. The ledger makes it checkable from the repo
(asserted by tests/test_correctness_ledger.py).

The ledger also drives that window: ``queries.check_window`` puts the 50
queries with the oldest green round at the front of the registry, so
merging is what rotates it. Run at each round boundary — i.e. at round
start, once the previous round's CORRECTNESS_r{N}.json is on disk:

    python scripts/merge_correctness_ledger.py

Merge rules:
- A query row is GREEN when rows_match, schema_match and hash_match are
  all true and err is null.
- For each on-disk CORRECTNESS_r{N}.json, a green row upgrades the
  query's entry when N is newer than the recorded round; `artifact`
  names the file the row came from.
- `last_checked` records the newest round the query appeared in a
  window at all (green or not).
- Entries whose artifact has rotated off disk are preserved verbatim
  (including prose-sourced `note` entries seeded from VERDICT.md for
  rounds whose artifacts predate the ledger).
- `merged_artifacts` keeps every artifact ever absorbed, including the
  ones that have since rotated off disk.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(REPO, "CORRECTNESS_CUMULATIVE.json")


def is_green(row: dict) -> bool:
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match")
        and row.get("err") is None
    )


def main() -> int:
    ledger: dict = {"queries": {}}
    if os.path.exists(LEDGER):
        with open(LEDGER) as fh:
            ledger = json.load(fh)
    queries = ledger.setdefault("queries", {})
    artifacts = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    for path in artifacts:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            entry = queries.setdefault(
                name, {"round": None, "artifact": None, "last_checked": None}
            )
            if entry.get("last_checked") is None or rnd > entry["last_checked"]:
                entry["last_checked"] = rnd
            if is_green(row) and (entry.get("round") is None or rnd > entry["round"]):
                entry["round"] = rnd
                entry["artifact"] = os.path.basename(path)
                # a concrete artifact supersedes any prose/pending note
                entry.pop("note", None)
    ledger["queries"] = dict(sorted(queries.items()))
    ledger["n_queries"] = len(queries)
    ledger["merged_artifacts"] = sorted(
        set(ledger.get("merged_artifacts", []))
        | {os.path.basename(p) for p in artifacts}
    )
    with open(LEDGER, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=False)
        fh.write("\n")
    n_green = sum(1 for e in queries.values() if e.get("round") is not None)
    n_prose = sum(
        1
        for e in queries.values()
        if e.get("round") is None and e.get("note")
    )
    print(
        f"ledger: {len(queries)} queries — {n_green} with on-disk green "
        f"artifact, {n_prose} prose-sourced, "
        f"{len(queries) - n_green - n_prose} unverified"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
