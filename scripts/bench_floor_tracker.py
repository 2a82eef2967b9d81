#!/usr/bin/env python3
"""Floor-of-N bench drift tracker (r14 verdict item 8, landed r16).

Problem: sub-second bench entries swing ±40 % per session (SCALING.md),
so round-over-round deltas alone cannot distinguish host noise from a
real regression, and each judge has had to re-derive the noise band in
prose. This script turns that adjudication into an artifact: for every
query in the CURRENT BENCH_LOCAL.json it computes the query's FLOOR —
the minimum min-of-N recorded across the last `--depth` committed
generations of BENCH_LOCAL.json (close-out profiles only; the committed
file is by policy a clean-host close-out) — and flags entries whose
current time exceeds `--ratio` (default 1.5) × floor.

Usage:
  python scripts/bench_floor_tracker.py [--depth N] [--ratio R]
Writes BENCH_FLOORS.json at the repo root (commit it with the
close-out) and prints the flagged list. Flags are TRIAGE INPUT, not
verdicts: a flagged query either carries an intentional-change note in
the optimization log for the round, or needs a drift check (seeded
perfbench spreads, or an interleaved scripts/ab_probe.py run against
the previous revision) before the round closes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str) -> str:
    return subprocess.check_output(["git", *args], cwd=REPO, text=True)


def _bench_revisions(depth: int) -> list[tuple[str, dict]]:
    """The last `depth` committed generations of BENCH_LOCAL.json,
    newest first, as (rev, parsed-json)."""
    revs = _git(
        "log", "--format=%H", "-n", str(depth), "--", "BENCH_LOCAL.json"
    ).split()
    out = []
    for rev in revs:
        try:
            blob = _git("show", f"{rev}:BENCH_LOCAL.json")
            out.append((rev[:9], json.loads(blob)))
        except (subprocess.CalledProcessError, json.JSONDecodeError):
            continue
    return out


def _all_timings(doc: dict) -> dict[str, float]:
    q = dict(doc.get("queries") or {})
    q.update(doc.get("queries_extended") or {})
    return {k: v for k, v in q.items() if isinstance(v, (int, float))}


def main() -> int:
    depth, ratio = 4, 1.5
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        if args[i] == "--depth":
            depth = int(args[i + 1]); i += 2
        elif args[i] == "--ratio":
            ratio = float(args[i + 1]); i += 2
        else:
            raise SystemExit(f"unknown arg {args[i]}")
    with open(os.path.join(REPO, "BENCH_LOCAL.json")) as f:
        current = _all_timings(json.load(f))
    history = _bench_revisions(depth)
    floors: dict[str, dict] = {}
    flagged = []
    for name, now in sorted(current.items()):
        past = [
            (t[name], rev)
            for rev, doc in history
            for t in (_all_timings(doc),)
            if name in t
        ]
        # the floor includes the current reading: a query can never be
        # flagged against rounds that predate its registration, and a
        # new all-time best immediately becomes the next bar
        floor, floor_rev = min(past + [(now, "worktree")])
        entry = {
            "floor_sec": round(floor, 3),
            "floor_rev": floor_rev,
            "current_sec": round(now, 3),
            "ratio": round(now / floor, 3) if floor > 0 else None,
            "flagged": floor > 0 and now > ratio * floor,
            "n_generations": len(past),
        }
        floors[name] = entry
        if entry["flagged"]:
            flagged.append((entry["ratio"], name))
    artifact = {
        "depth": depth,
        "flag_ratio": ratio,
        "generations": [rev for rev, _ in history],
        "n_flagged": len(flagged),
        "floors": floors,
    }
    with open(os.path.join(REPO, "BENCH_FLOORS.json"), "w") as f:
        json.dump(artifact, f, indent=1)
        f.write("\n")
    for r, name in sorted(flagged, reverse=True):
        print(f"FLAGGED {name}: {floors[name]['current_sec']}s = "
              f"{r}x floor {floors[name]['floor_sec']}s "
              f"({floors[name]['floor_rev']})")
    print(f"BENCH_FLOORS.json written: {len(floors)} queries, "
          f"{len(flagged)} flagged (>{ratio}x floor-of-{depth})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
