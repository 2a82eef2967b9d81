#!/usr/bin/env python3
"""Full-registry oracle-parity sweep at an arbitrary scale factor.

Drives the whole registry (or named queries) at any scale factor:
sf0.01 between optimization waves, sf0.1 as the close-out sweep.

Usage: python scripts/sweep_oracle.py [SF_DIR] [--fast] [name ...]
  SF_DIR defaults to /root/testdata/sf0.01; positional names restrict
  the sweep to those queries (post-wave spot checks).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

QUADRATIC_ORACLES = ["ann_lsh_cosine", "dedup_ngram_jaccard", "fuzzy_name_match"]


def main() -> int:
    import __spark_entry__ as entrymod
    from etl_gcp_function_tmabrasil_spark.session import get_spark

    from oracle_check import compare, duckdb_connection

    args = [a for a in sys.argv[1:] if a != "--fast"]
    fast = "--fast" in sys.argv
    sf_dir = "/root/testdata/sf0.01"
    names_filter = []
    for a in args:
        if os.path.isdir(a):
            sf_dir = a
        else:
            names_filter.append(a)
    # the engine's own session (AQE, UTC, broadcast threshold) at
    # $SPARK_GRAFT_CPUS cores, so the sweep checks the engine as it
    # runs in production and in the benchmark
    spark = get_spark(app_name="sweep_oracle")
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb_connection(sf_dir)
    if names_filter:
        names = names_filter
    else:
        names = [n for n in sorted(qs) if n not in QUADRATIC_ORACLES]
        if not fast:
            names += QUADRATIC_ORACLES
    bad = 0
    for name in names:
        t0 = time.time()
        try:
            problems = compare(
                qs[name](spark, sf_dir),
                con.execute(osql[name]).fetchdf(),
                name,
            )
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            problems = [f"EXC {type(exc).__name__}: {str(exc)[:200]}"]
        if problems:
            bad += 1
            print("FAIL", name, problems, flush=True)
        else:
            print(f"ok   {name} ({time.time() - t0:.1f}s)", flush=True)
    print(f"done: {len(names) - bad}/{len(names)} green", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
