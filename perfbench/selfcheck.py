"""The benchmark's own checks.

    python3 perfbench/selfcheck.py

Run from the root of a checkout (takes a few minutes). Checks that:

- a tiny-size run of every workload prints every end-to-end metric
  (``--trace 0``) and every per-layer metric (``--trace 1``) named in
  ``BENCHMARK.json``, with its unit, and no failed operation;
- a planted wrong output row raises the failed count above 0 on an ETL
  and on a query workload, and so do a planted wrong digest and a
  planted crash of an ETL drain;
- in a directory holding only ``BENCHMARK.json`` and the benchmark, a
  run exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(cwd: str, workload: str, *extra: str) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload",
           workload, "--seed", "3", "--seconds", "1", *extra]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=200)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if not isinstance(result, dict) or "metrics" not in result:
        result = None
    return p.returncode, result


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    problems: list[str] = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = _run(root, w, "--trace", str(trace), "--size", "tiny")
            names = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in (res or {}).get("metrics", {}).items()}
            expect(rc == 0 and res is not None and got == names,
                   f"{w} trace={trace}: every {key} metric with its unit")
            expect(res is not None and res["failed"] == 0 and res["attempted"] > 0,
                   f"{w} trace={trace}: attempted > 0 and nothing failed")
    etl = next(w for w in workloads if w.startswith("etl"))
    query = next(w for w in workloads if not w.startswith("etl"))
    for w, plant in ((etl, "row"), (etl, "crash"), (query, "row"), (query, "digest")):
        rc, res = _run(root, w, "--trace", "0", "--size", "tiny", "--plant", plant)
        expect(rc == 0 and res is not None and res["failed"] > 0 and not res["correct"],
               f"{w}: planted {plant} is counted as failed")

    bare = os.path.join(root, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = _run(bare, workloads[0], "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and res is None, "bare directory: non-zero exit, no result")
    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
