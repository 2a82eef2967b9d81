"""Seeded inputs for the benchmark.

Two generators, both pure functions of their seed:

- :func:`write_tables` writes the ten parquet tables of the repo's
  seed-42 test fixture (``FIXTURES.md``, ``TESTDATA.md``: TPC-H-ish star
  schema, ``events``, ``documents``, ``embeddings``) at a scale factor.
  The benchmark reads only inside its checkout, which does not hold that
  fixture, so it regenerates tables with the fixture's row counts, types,
  column domains and distributions: for example ``documents`` is the
  fixture's 30-word lowercase vocabulary, 10 to 99 tokens per document,
  5% near-duplicates carrying an extra ``dup`` token.
- :func:`etl_backlog` builds a landing backlog for the XLSX pipeline:
  workbooks, one CloudEvent per landing file, and the expected-outcome
  ledger every drain is checked against.
"""

from __future__ import annotations

import io
import json
import os
import zipfile
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from etl_gcp_function_tmabrasil_spark.sources.xlsx import write_minimal_xlsx

# --------------------------------------------------------------------------
# parquet tables

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    """`n` midnight timestamps uniform over [lo, hi]."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return pa.array(rng.integers(a, b + 1, n) * 86_400_000_000, pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def build_tables(sf: float, seed: int, text_sf: float | None = None) -> dict[str, pa.Table]:
    """The ten tables at scale factor `sf` (lineitem ~ 6M * sf rows);
    ``documents`` and ``embeddings`` at `text_sf` when given."""
    rng = np.random.default_rng(seed)
    text_sf = sf if text_sf is None else text_sf
    n_cust = max(20, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = max(200, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * text_sf))
    n_vec = max(20, int(20_000 * text_sf))
    n_user = max(10, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    start_us = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
    ts = np.sort(start_us + rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), k)])
        for k in rng.integers(10, 100, n_doc)
    ]
    # planted near-duplicates: a copy of another document plus one token
    # (two copies of one document are exact duplicates of each other)
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vec = rng.standard_normal((n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return t


def write_tables(sf_dir: str, sf: float, seed: int, text_sf: float | None = None) -> None:
    """Write the tables as ``<sf_dir>/<name>.parquet`` (one file each).

    Written into a sibling temp dir and renamed, so a run killed midway
    never leaves a half-written fixture that a later run would reuse."""
    tmp = sf_dir + ".partial"
    os.makedirs(tmp, exist_ok=True)
    for name, table in build_tables(sf, seed, text_sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, sf_dir)


def ensure_tables(sf_dir: str, sf: float, seed: int, text_sf: float | None = None) -> None:
    """Write the tables unless a complete copy is already there."""
    if not all(os.path.isfile(os.path.join(sf_dir, f"{n}.parquet")) for n in TABLE_NAMES):
        write_tables(sf_dir, sf, seed, text_sf)


# --------------------------------------------------------------------------
# XLSX landing backlog

COLUMNS = ["event_id", "user_id", "event_type", "value"]
SCHEMA_DDL = "event_id long, user_id long, event_type string, value double"
PREFIX = "minha-pasta/"
#: per-workbook cap handed to the pipeline; healthy workbooks stay far
#: below it, planted oversize ones exceed it
MAX_FILE_BYTES = 96 * 1024


@dataclass
class Backlog:
    """One landing backlog and the outcome every drain must reproduce."""

    files: dict[str, bytes]  # object name (under the bucket) -> bytes
    events: list[dict]  # one CloudEvent per landing file, in landing order
    rows: dict[str, list[tuple]]  # healthy object name -> its expected sink rows
    dead: dict[str, str]  # dead-lettered object name -> expected _status
    duplicates: int  # accepted redeliveries of an already-seen event

    @property
    def accepted(self) -> int:
        return len(self.rows) + len(self.dead) + self.duplicates

    @property
    def n_rows(self) -> int:
        return sum(len(r) for r in self.rows.values())


def _skewed_sizes(n: int, total: int) -> list[int]:
    """`n` positive sizes summing exactly to `total`, heavy-tailed: the
    lognormal(0, 1) quantiles at (i + 0.5) / n, so a few workbooks carry
    much of the backlog, in one fixed shuffled order. The order is the
    same for every seed: the pipeline scans the workbooks in name order,
    so a seeded order would change which big workbooks share a scan
    partition, and with it the drain time, from seed to seed."""
    w = np.exp([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
    sizes = np.maximum(1, np.floor(w / w.sum() * total)).astype(int)
    sizes[-1] += total - int(sizes.sum())
    return [int(s) for s in np.random.default_rng(0).permutation(sizes)]


def _workbook(columns: list[str], rows: list[list]) -> bytes:
    buf = io.BytesIO()
    write_minimal_xlsx(buf, columns, rows)
    return buf.getvalue()


def etl_backlog(
    seed: int,
    n_healthy: int,
    total_rows: int,
    n_corrupt: int,
    n_empty: int,
    n_oversize: int,
    n_missing: int,
    n_redelivered: int,
    n_decoys: int,
) -> Backlog:
    """A seeded backlog: healthy workbooks (heavy-tailed rows per file,
    `total_rows` in all), planted corrupt / header-only / oversize /
    missing objects, redelivered copies of healthy events, and decoy
    events outside the accept filter that point at real workbooks."""
    rng = np.random.default_rng(seed)
    files: dict[str, bytes] = {}
    rows: dict[str, list[tuple]] = {}
    dead: dict[str, str] = {}
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    next_id = [seed * 10_000_000]
    n_made = [0]

    def event(name: str | None) -> dict:
        n_made[0] += 1
        ts = t0 + timedelta(seconds=n_made[0] * 7 + int(rng.integers(0, 7)))
        size = str(len(files.get(name, b""))) if name else None
        return {"bucket": "bench-bucket", "name": name, "size": size,
                "ts": ts.strftime("%Y-%m-%dT%H:%M:%SZ")}

    def data_rows(n: int) -> list[list]:
        out = []
        for _ in range(n):
            out.append([
                next_id[0],
                int(rng.integers(0, 5000)),
                _EVENT_TYPES[int(rng.integers(0, 5))],
                round(float(rng.integers(0, 100_000)) / 100.0, 2),
            ])
            next_id[0] += 1
        return out

    healthy = []
    for i, n in enumerate(_skewed_sizes(n_healthy, total_rows)):
        name = f"{PREFIX}wb{i:05d}.xlsx"
        r = data_rows(n)
        files[name] = _workbook(COLUMNS, r)
        rows[name] = [tuple(x) for x in r]
        healthy.append(event(name))
    planted = []
    for i in range(n_corrupt):
        name = f"{PREFIX}corrupt{i:04d}.xlsx"
        files[name] = b"PK\x03\x04 not a workbook " + rng.bytes(256)
        dead[name] = "error"
        planted.append(event(name))
    for i in range(n_empty):
        name = f"{PREFIX}empty{i:04d}.xlsx"
        files[name] = _workbook(COLUMNS, [])
        dead[name] = "empty"
        planted.append(event(name))
    for i in range(n_oversize):
        name = f"{PREFIX}big{i:04d}.xlsx"
        # a real workbook padded past the cap with an incompressible part
        buf = io.BytesIO(_workbook(COLUMNS, data_rows(3)))
        with zipfile.ZipFile(buf, "a", zipfile.ZIP_STORED) as zf:
            zf.writestr("xl/media/pad.bin", rng.bytes(MAX_FILE_BYTES + 4096))
        files[name] = buf.getvalue()
        dead[name] = "oversize"
        planted.append(event(name))
    for i in range(n_missing):
        name = f"{PREFIX}gone{i:04d}.xlsx"
        dead[name] = "missing"
        planted.append(event(name))
    decoys = []
    for i in range(n_decoys):
        kind = i % 3
        if kind == 2:
            decoys.append(event(None))
            continue
        r = data_rows(2)
        name = f"outra-pasta/d{i:04d}.xlsx" if kind == 0 else f"{PREFIX}d{i:04d}.csv"
        files[name] = _workbook(COLUMNS, r)
        decoys.append(event(name))
    base = healthy + planted + decoys
    events = [base[int(k)] for k in rng.permutation(len(base))]
    # each redelivery lands at a random point after the event it repeats
    for j in rng.choice(len(healthy), n_redelivered, replace=False):
        first = events.index(healthy[int(j)])
        events.insert(int(rng.integers(first + 1, len(events) + 1)), dict(healthy[int(j)]))
    return Backlog(files, events, rows, dead, n_redelivered)


def land(backlog: Backlog, bucket_dir: str, landing_dir: str) -> None:
    """Write the backlog's objects under `bucket_dir` and one landing
    JSON file per event under `landing_dir`, in event order (file names
    sort in landing order, which is the file source's admission order)."""
    for name, data in backlog.files.items():
        path = os.path.join(bucket_dir, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
    os.makedirs(landing_dir, exist_ok=True)
    for i, ev in enumerate(backlog.events):
        with open(os.path.join(landing_dir, f"ev{i:06d}.json"), "w") as f:
            f.write(json.dumps(ev) + "\n")
