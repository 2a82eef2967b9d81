"""Query workloads: a closed loop of one client running a fixed suite of
registered queries in sequence over the seeded parquet fixture.

Each query is timed as a caller waits for it: construction plus execution
to the ``noop`` sink. Set-up loads every table the suite reads once
(first touch) and runs each query once, collecting its result; that
result is hashed (untimed) and checked against the committed oracle
digest. The measured phase then runs a fixed number of seed-ordered passes over
the suite and reports per-query medians.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import sys
import time

from statistics import geometric_mean, median

import numpy as np

import fixtures

#: fixture seed for the query tables: the committed digests were computed
#: (and matched against the DuckDB oracles) on exactly this data
FIXTURE_SEED = 42

SUITES = {
    # relational operators over the star schema and events (catalog scans,
    # joins, aggregation, windows, shuffle) next to text, dedup and
    # similarity operators with Python workers and self-joins
    "queries_sf01": dict(
        sf=0.1,
        # the text and vector tables at sf0.03 (1,500 documents, 600
        # vectors): at sf0.1 one simjoin execution takes about 8 s on a
        # 4-core host, which leaves no room for two passes in a run
        text_sf=0.03,
        tables=["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"],
        queries=[
            "q3_shipping_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
            "window_rank_orders", "dedup_pick_latest", "join_asof_purchase",
            "sql_recursive_cte_index", "text_token_count", "udf_arrow_vector_norms",
            "dedup_minhash_lsh", "simjoin_prefix_jaccard",
        ],
        # seconds of one warm pass on a 4-core host: --seconds becomes a
        # fixed number of passes, so every run takes the same medians;
        # at least two, because one execution per query left single
        # hiccups of the short queries in suite_s
        nominal_s=10.0,
        min_passes=2,
    ),
}
TINY_SF = 0.002

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def fixture_dir(root: str, sf: float, text_sf: float | None = None) -> str:
    """The cached fixture's dir, keyed by the generator's source, so a
    changed generator never reuses tables written by an older one."""
    with open(fixtures.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    text = f"_text{text_sf}" if text_sf is not None else ""
    return os.path.join(root, ".perfbench_cache",
                        f"tables_sf{sf}{text}_seed{FIXTURE_SEED}_{version}")


def _canon(v):
    """A deterministic, type-tagged text form of one result value."""
    if v is None:
        return "null"
    if isinstance(v, (np.generic,)):
        v = v.item()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (bool, int, str, decimal.Decimal)):
        return f"{type(v).__name__}:{v}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}={_canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    if hasattr(v, "__iter__"):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):  # pandas Timestamp
        return v.isoformat()
    return f"{type(v).__name__}:{v}"


def digest(rows: list, columns: list[str]) -> str:
    """Order-insensitive SHA-256 of a collected result (Rows), columns
    taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def load_digests() -> dict:
    with open(DIGESTS) as f:
        return json.load(f)


def run(spark, ctx) -> dict:
    from etl_gcp_function_tmabrasil_spark.catalog import load_table

    import __spark_entry__

    suite = SUITES[ctx.workload]
    sf, text_sf = (TINY_SF, None) if ctx.tiny else (suite["sf"], suite.get("text_sf"))
    sf_dir = fixture_dir(ctx.root, sf, text_sf)
    t = time.perf_counter()
    fixtures.ensure_tables(sf_dir, sf, FIXTURE_SEED, text_sf)
    gen_s = time.perf_counter() - t
    registry = __spark_entry__.queries()
    names = suite["queries"]
    expected = load_digests()[ctx.workload][str(sf)]
    if ctx.plant == "digest":
        expected = dict(expected)
        expected[names[0]] = dict(expected[names[0]], sha256="0" * 64)
    group = spark.sparkContext.setJobGroup if ctx.trace else (lambda *a: None)

    # set-up: first-touch table loads, then one collected run per query
    t = time.perf_counter()
    for table in suite["tables"]:
        load_table(spark, sf_dir, table)
    load_s = time.perf_counter() - t
    bad: set[str] = set()
    warm_s = 0.0
    for name in names:
        group(f"w:{name}", name)
        t = time.perf_counter()
        try:
            df = registry[name](spark, sf_dir)
            rows, cols = df.collect(), df.columns
        except Exception as exc:  # noqa: BLE001 — counted as failed
            print(f"{name} failed in set-up: {exc!r}", file=sys.stderr)
            bad.add(name)
            continue
        finally:
            warm_s += time.perf_counter() - t
        if ctx.plant == "row" and name == names[0] and rows:
            rows = rows[1:] + rows[:1] + rows[:1]
        if digest(rows, cols) != expected[name]["sha256"]:
            print(f"{name}: result digest differs from its oracle digest", file=sys.stderr)
            bad.add(name)
    setup_s = load_s + warm_s

    rng = np.random.default_rng(ctx.seed)
    construct: dict[str, list[float]] = {n: [] for n in names}
    execute: dict[str, list[float]] = {n: [] for n in names}
    attempted = failed = 0
    passes = max(suite["min_passes"], round(ctx.seconds / suite["nominal_s"]))
    for _ in range(passes):
        for i in rng.permutation(len(names)):
            name = names[int(i)]
            attempted += 1
            group(f"m:{name}", name)
            try:
                t0 = time.perf_counter()
                df = registry[name](spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — counted as failed
                print(f"{name} failed: {exc!r}", file=sys.stderr)
                failed += 1
                continue
            construct[name].append(t1 - t0)
            execute[name].append(t2 - t1)
            if name in bad:
                failed += 1
    per_query = {
        n: median([c + e for c, e in zip(construct[n], execute[n])])
        for n in names if construct[n]
    }
    suite_s, query_geomean_s = sum(per_query.values()), geometric_mean(per_query.values())
    out = {
        "setup_s": setup_s,
        "groups": {f"m:{n}" for n in names},
        "reps": passes,
        "attempted": attempted,
        "failed": failed,
        "work_s": suite_s,
        "op_geomean_s": query_geomean_s,
        "figures": {
            "suite_s": {"value": suite_s, "unit": "s"},
            "query_geomean_s": {"value": query_geomean_s, "unit": "s"},
        },
        "report": {
            "passes": passes,
            "generator_s": round(gen_s, 3),
            "per_query_s": {n: round(v, 4) for n, v in per_query.items()},
        },
    }
    if ctx.trace:
        out["layers"] = {
            "catalog.load_table_s": load_s,
            "queries.construct_s": sum(median(v) for v in construct.values() if v),
            "queries.exec_s": sum(median(v) for v in execute.values() if v),
            **{f"queries.{n}.s": v for n, v in per_query.items()},
        }
    return out
