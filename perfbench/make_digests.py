"""Regenerate ``perfbench/digests.json``: the expected result digest of
every suite query, at the suite's scale and at the tiny self-check scale.

    python3 perfbench/make_digests.py [workload ...]

Run from the root of a checkout. For each query the Spark result is first
compared with the query's DuckDB oracle (``oracle_sql()``, through the
repo's own ``tests/oracle_check.compare``) on the same seeded fixture;
only a query that matches its oracle, and hashes the same on a second
run, gets a digest. Exits non-zero if any query does not.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str]) -> int:
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    import fixtures
    import run
    import suites

    work = os.path.join(root, ".perfbench_work", f"digests-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(run._env(root, work))

    import __spark_entry__
    from etl_gcp_function_tmabrasil_spark.catalog import TABLES, table_path
    from etl_gcp_function_tmabrasil_spark.session import get_spark
    from tests.oracle_check import compare

    import duckdb

    wanted = argv[1:] or list(suites.SUITES)
    registry, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    try:
        with open(suites.DIGESTS) as f:
            out = json.load(f)
    except FileNotFoundError:
        out = {}
    spark = get_spark(app_name="perfbench-digests",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    bad = []
    try:
        for workload in wanted:
            suite = suites.SUITES[workload]
            out[workload] = {}
            for sf, text_sf in ((suite["sf"], suite.get("text_sf")), (suites.TINY_SF, None)):
                sf_dir = suites.fixture_dir(root, sf, text_sf)
                fixtures.ensure_tables(sf_dir, sf, suites.FIXTURE_SEED, text_sf)
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
                entry = out[workload][str(sf)] = {}
                for name in suite["queries"]:
                    df = registry[name](spark, sf_dir)
                    rows, cols = df.collect(), df.columns
                    problems = compare(df, con.execute(oracles[name]).fetchdf(), name)
                    h = suites.digest(rows, cols)
                    again = registry[name](spark, sf_dir)
                    if suites.digest(again.collect(), again.columns) != h:
                        problems.append(f"{name}: digest differs between two runs")
                    print(f"{workload} sf{sf} {name}: rows={len(rows)} "
                          f"{'OK' if not problems else problems}", flush=True)
                    if problems:
                        bad.append((workload, sf, name))
                        continue
                    entry[name] = {"rows": len(rows), "sha256": h}
                con.close()
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(suites.DIGESTS, "w") as f:
        json.dump({k: v for k, v in out.items() if k in suites.SUITES}, f,
                  indent=1, sort_keys=True)
        f.write("\n")
    if bad:
        print(f"no digest for {bad}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
