"""XLSX ingestion-edge tests (FIXTURES.md `xlsx_sheet`): write workbooks
mirroring a slice of `events`, read them back distributed, compare with
the same slice from parquet."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from pyspark.sql import functions as F

from etl_gcp_function_tmabrasil_spark.catalog import load_table
from etl_gcp_function_tmabrasil_spark.sources.xlsx import (
    parse_xlsx_bytes,
    read_xlsx,
    read_xlsx_tolerant,
    write_minimal_xlsx,
)
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COLS = ["event_id", "user_id", "event_type", "value"]


@pytest.fixture(scope="module")
def xlsx_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("xlsx_landing")
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select(*COLS)
        .orderBy("event_id")
        .limit(100)
        .collect()
    )
    # two workbooks of 50 rows each → two parallel parse tasks
    for i in range(2):
        rows = [[r.event_id, r.user_id, r.event_type, r.value] for r in ev[i * 50 : (i + 1) * 50]]
        write_minimal_xlsx(str(out / f"part{i}.xlsx"), COLS, rows)
    # a decoy that must be ignored by the path glob
    (out / "ignore.csv").write_text("event_id\n999\n")
    return str(out)


def test_roundtrip_vs_parquet(spark, xlsx_dir):
    df = read_xlsx(
        spark,
        xlsx_dir,
        COLS,
        schema_ddl="event_id long, user_id long, event_type string, value double",
    )
    got = {r.event_id: (r.user_id, r.event_type, r.value) for r in df.collect()}
    want = {
        r.event_id: (r.user_id, r.event_type, r.value)
        for r in load_table(spark, SF_SMOKE, "events")
        .select(*COLS)
        .orderBy("event_id")
        .limit(100)
        .collect()
    }
    assert got == want
    assert df.count() == 100


def test_source_file_column(spark, xlsx_dir):
    df = read_xlsx(spark, xlsx_dir, COLS)
    files = {r._source_file.rsplit("/", 1)[-1] for r in df.select("_source_file").distinct().collect()}
    assert files == {"part0.xlsx", "part1.xlsx"}


def test_parse_handles_shared_and_inline_strings():
    # inline strings path (our writer) — plus empty + special chars
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.xlsx")
        write_minimal_xlsx(p, ["a", "b"], [["x<&>y", 1.5], [None, 2]])
        pdf = parse_xlsx_bytes(open(p, "rb").read())
        assert list(pdf.columns) == ["a", "b"]
        assert pdf.iloc[0]["a"] == "x<&>y"
        assert pdf.iloc[0]["b"] == "1.5"
        assert pdf.iloc[1]["a"] is None


def test_parse_reads_shared_strings_and_rich_text_runs():
    """Shared-string cells join a string's direct and rich-run texts but
    skip its phonetic runs (<rPh>); inline rich text joins its runs; a
    value-less styled cell is an absent cell."""
    import io
    import zipfile

    from etl_gcp_function_tmabrasil_spark.sources.xlsx import parse_rows

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sst = (
        f'<sst xmlns="{ns}"><si><t>hdr</t></si>'
        "<si><r><t>ri</t></r><r><t>ch</t></r><rPh><t>PH</t></rPh></si>"
        "<si><t>x</t><rPh><t>no</t></rPh></si></sst>"
    )
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c>'
        '<c r="B1" t="inlineStr"><is><r><t>in</t></r><r><t>l</t></r></is></c></row>'
        '<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>3.5</v></c></row>'
        '<row r="3"><c r="B3" t="s"><v>2</v></c><c r="C3" s="1"/></row>'
        "</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/sharedStrings.xml", sst)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    assert parse_rows(buf.getvalue()) == (
        ["hdr", "inl"], [["rich", "3.5"], [None, "x"]]
    )


def test_corrupt_workbook_fails_loudly(spark, tmp_path):
    bad = tmp_path / "bad.xlsx"
    bad.write_bytes(b"this is not a zip")
    with pytest.raises(Exception):
        read_xlsx(spark, str(tmp_path), COLS).collect()


def test_empty_and_header_mismatch_yield_null_columns(spark, tmp_path):
    # header-only workbook -> zero rows; workbook whose header shares no
    # names with the requested columns -> n rows of NULLs (neither may
    # crash the parse task)
    from etl_gcp_function_tmabrasil_spark.sources.xlsx import (
        read_xlsx,
        write_minimal_xlsx,
    )

    write_minimal_xlsx(str(tmp_path / "header_only.xlsx"), ["a", "b"], [])
    write_minimal_xlsx(
        str(tmp_path / "other_header.xlsx"), ["x", "y"], [[1, 2], [3, 4]]
    )
    out = read_xlsx(spark, str(tmp_path), ["a", "b"]).collect()
    by_file = {}
    for r in out:
        by_file.setdefault(r._source_file.rsplit("/", 1)[-1], []).append(r)
    assert "header_only.xlsx" not in by_file  # zero data rows
    rows = by_file["other_header.xlsx"]
    assert len(rows) == 2 and all(r.a is None and r.b is None for r in rows)


def test_ragged_row_beyond_header_fails_loudly(tmp_path):
    # a data cell to the right of the header's last column would be
    # silently dropped by a truncating read — the contract is to raise
    import zipfile

    from etl_gcp_function_tmabrasil_spark.sources.xlsx import (
        parse_xlsx_bytes,
        write_minimal_xlsx,
    )

    p = str(tmp_path / "ragged.xlsx")
    write_minimal_xlsx(p, ["a"], [[1]])
    # widen the data row past the 1-column header by editing the sheet
    with zipfile.ZipFile(p) as zf:
        names = {n: zf.read(n) for n in zf.namelist()}
    sheet = names["xl/worksheets/sheet1.xml"].decode()
    sheet = sheet.replace(
        '<c r="A2"', '<c r="E2" t="inlineStr"><is><t>lost</t></is></c><c r="A2"', 1
    )
    names["xl/worksheets/sheet1.xml"] = sheet.encode()
    with zipfile.ZipFile(p, "w") as zf:
        for n, data in names.items():
            zf.writestr(n, data)
    import pytest

    with pytest.raises(ValueError, match="beyond the 1-column header"):
        parse_xlsx_bytes(open(p, "rb").read())


def test_oversized_workbook_fails_before_content_read(spark, tmp_path):
    from etl_gcp_function_tmabrasil_spark.sources.xlsx import (
        read_xlsx,
        write_minimal_xlsx,
    )

    write_minimal_xlsx(str(tmp_path / "big.xlsx"), ["a"], [[1], [2]])
    import pytest

    with pytest.raises(ValueError, match="xlsx too large"):
        read_xlsx(spark, str(tmp_path), ["a"], max_file_bytes=10)


def test_tolerant_read_dead_letters_file_grown_after_prescan(spark, tmp_path):
    """The oversize race: a file that grows past max_file_bytes after
    the read is built must still yield its 'oversize' marker, so the
    event dead-letters instead of vanishing. The parse task stats and
    opens the object only at action time, so appending to the file
    between construction and collect() reproduces the race exactly."""
    from etl_gcp_function_tmabrasil_spark.sources.xlsx import read_xlsx_tolerant

    good = tmp_path / "good.xlsx"
    grower = tmp_path / "grower.xlsx"
    write_minimal_xlsx(str(good), COLS, [[1, 10, "click", 1.5]])
    write_minimal_xlsx(str(grower), COLS, [[2, 20, "view", 2.5]])
    cap = max(good.stat().st_size, grower.stat().st_size) + 1024
    df = read_xlsx_tolerant(spark, [str(good), str(grower)], COLS, max_file_bytes=cap)
    # the race: grower passes the pre-scan, then grows past the cap
    # before the content scan lists it
    with open(grower, "ab") as fh:
        fh.write(b"\0" * (cap + 1))
    rows = {r._source_file.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert rows["good.xlsx"]._status == "ok"
    assert rows["grower.xlsx"]._status == "oversize", (
        "grown file silently dropped — every requested path must yield a row"
    )
    assert rows["grower.xlsx"].event_id is None


def _plant(kind: str, path) -> None:
    """One object per tolerant-read outcome (see the parametrization)."""
    if kind == "ok":
        write_minimal_xlsx(str(path), COLS, [[1, 10, "click", 1.5], [2, 20, "view", 2.5]])
    elif kind == "empty":
        write_minimal_xlsx(str(path), COLS, [])
    elif kind == "error":
        path.write_bytes(b"this is not a zip")
    elif kind == "oversize":
        write_minimal_xlsx(str(path), COLS, [[i, i, "x" * 40, 0.5] for i in range(200)])
    elif kind == "directory":
        path.mkdir()
    elif kind == "fifo":
        os.mkfifo(path)
    # "absent": nothing is created


@pytest.mark.parametrize(
    "kind, status",
    [
        ("ok", "ok"),
        ("empty", "empty"),
        ("error", "error"),
        ("oversize", "oversize"),
        ("absent", "missing"),
        ("directory", "missing"),
        ("fifo", "missing"),
    ],
)
def test_tolerant_read_yields_a_row_per_path_for_every_outcome(
    spark, tmp_path, kind, status
):
    """Every requested path yields at least one row, and a non-data
    path exactly one marker row with NULL data columns. A directory or
    a FIFO named ``*.xlsx`` dead-letters as 'missing' without blocking
    the read (a FIFO with no writer would block a plain open)."""
    from etl_gcp_function_tmabrasil_spark.sources.xlsx import read_xlsx_tolerant

    good = tmp_path / "good.xlsx"
    _plant("ok", good)
    target = tmp_path / f"{kind}.xlsx"
    _plant(kind, target)
    cap = 4096
    assert good.stat().st_size <= cap
    if kind == "oversize":
        assert target.stat().st_size > cap
    rows = read_xlsx_tolerant(
        spark, [str(good), str(target)], COLS, max_file_bytes=cap
    ).collect()
    by_file: dict[str, list] = {}
    for r in rows:
        by_file.setdefault(r._source_file, []).append(r)
    assert set(by_file) == {f"file:{good}", f"file:{target}"}
    assert [r._status for r in by_file[f"file:{good}"]] == ["ok", "ok"]
    got = by_file[f"file:{target}"]
    assert {r._status for r in got} == {status}
    if status == "ok":
        assert sorted(r.event_id for r in got) == ["1", "2"]
        assert all(r._error is None for r in got)
    else:
        assert len(got) == 1, "a non-data path must yield exactly one marker row"
        assert all(getattr(got[0], c) is None for c in COLS)
        assert (got[0]._error is None) == (status == "empty")


def test_tolerant_read_stamps_event_keys_on_every_row(spark, tmp_path):
    """With event keys, every row of a path — data and marker rows —
    ends with that path's `_event_name` and `_event_ts`, and a path
    listed twice yields one set of rows per key. Without keys the
    schema carries no event columns."""
    from etl_gcp_function_tmabrasil_spark.sources.xlsx import read_xlsx_tolerant

    good = tmp_path / "good.xlsx"
    _plant("ok", good)
    bad = tmp_path / "bad.xlsx"
    _plant("error", bad)
    absent = tmp_path / "absent.xlsx"
    paths = [str(good), str(good), str(bad), str(absent)]
    keys = [("good", "1"), ("good", "2"), ("bad", "3"), ("absent", "4")]

    df = read_xlsx_tolerant(spark, paths, COLS, event_keys=keys)
    assert df.columns == [
        "_source_file", "_status", "_error", *COLS, "_event_name", "_event_ts"
    ]
    got = sorted(
        (r._event_name, r._event_ts, r._status, r.event_id, r._source_file)
        for r in df.collect()
    )
    assert got == [
        ("absent", "4", "missing", None, f"file:{absent}"),
        ("bad", "3", "error", None, f"file:{bad}"),
        ("good", "1", "ok", "1", f"file:{good}"),
        ("good", "1", "ok", "2", f"file:{good}"),
        ("good", "2", "ok", "1", f"file:{good}"),
        ("good", "2", "ok", "2", f"file:{good}"),
    ]

    plain = read_xlsx_tolerant(spark, paths, COLS)
    assert plain.columns == ["_source_file", "_status", "_error", *COLS]
    with pytest.raises(ValueError, match="3 event keys for 4 paths"):
        read_xlsx_tolerant(spark, paths, COLS, event_keys=keys[:3])


def test_duplicate_requested_header_is_an_error_marker(spark, tmp_path):
    """A header that names a requested column twice dead-letters its
    object as 'error' (no telling which cell is meant) instead of
    failing the task, and fails the batch read like any other error
    marker. A duplicate among names not requested stays readable."""
    good = tmp_path / "good.xlsx"
    write_minimal_xlsx(str(good), ["a", "b"], [[1, "x"]])
    dup = tmp_path / "dup.xlsx"
    write_minimal_xlsx(str(dup), ["a", "a", "b"], [[1, 2, "y"]])
    other = tmp_path / "other.xlsx"
    write_minimal_xlsx(str(other), ["z", "z", "b"], [[1, 2, "z"]])

    rows = read_xlsx_tolerant(
        spark, [str(good), str(dup), str(other)], ["a", "b"]
    ).collect()
    got = sorted(
        (r._source_file.rsplit("/", 1)[-1], r._status, r._error, r.a, r.b)
        for r in rows
    )
    assert got == [
        ("dup.xlsx", "error", "xlsx: duplicate header 'a'", None, None),
        ("good.xlsx", "ok", None, "1", "x"),
        ("other.xlsx", "ok", None, None, "z"),
    ]
    with pytest.raises(Exception, match="duplicate header 'a'"):
        read_xlsx(spark, str(tmp_path), ["a", "b"]).collect()


def _plan_nodes(node) -> list[str]:
    """Node names of an executed plan, pre-order."""
    kids = node.children()
    return [node.nodeName()] + [
        n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))
    ]


def test_tolerant_read_runs_one_python_node_over_a_local_scan(spark, tmp_path):
    """The parse is the read's only Python-evaluated step: one
    MapInArrow over the driver's path frame, shipped as a
    LocalTableScan. A path frame from a Python RDD (Scan ExistingRDD)
    would start a second Python worker in every parse task."""
    good = tmp_path / "good.xlsx"
    _plant("ok", good)
    df = read_xlsx_tolerant(
        spark, [str(good)], COLS, schema_ddl="event_id long",
        event_keys=[("good", "1")],
    )
    assert len(df.collect()) == 2
    nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
    python = [n for n in nodes if "Python" in n or "MapIn" in n]
    assert python == ["MapInArrow"], nodes
    assert nodes[-1] == "LocalTableScan", nodes
    assert not any("ExistingRDD" in n for n in nodes), nodes


_PARSE_TASK_CHILD = """
import sys, tempfile
from pyarrow.lib import StringBuilder
import pyarrow as pa
from etl_gcp_function_tmabrasil_spark.sources import xlsx
print("pandas" in sys.modules)
path = tempfile.mkdtemp() + "/t.xlsx"
xlsx.write_minimal_xlsx(path, ["a"], [["x"], ["y"]])
b = StringBuilder()
b.append_values([path])
batch = pa.RecordBatch.from_arrays([b.finish()], names=["path"])
out = list(xlsx._parse_batches(iter([batch]), ["_source_file", "_status", "_error", "a"], ["a"], 1 << 20, 1))
print([r["a"] for o in out for r in o.to_pylist()], "pandas" in sys.modules)
"""


def test_xlsx_parse_task_leaves_pandas_unloaded():
    """Parse tasks import this module and build Arrow batches; pandas
    costs each new worker about 0.3 s, so only the `parse_xlsx_bytes`
    wrapper may import it."""
    out = subprocess.run(
        [sys.executable, "-c", _PARSE_TASK_CHILD],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split("\n")[:2] == ["False", "['x', 'y'] False"]


def test_tolerant_read_splits_rows_into_arrow_batches(spark, tmp_path):
    """A task's rows leave in RecordBatches of at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows; a batch
    boundary inside a file or next to a marker loses and repeats no
    row."""
    paths = []
    for i, n in enumerate([5, 0, 3]):
        p = tmp_path / f"f{i}.xlsx"
        write_minimal_xlsx(str(p), ["a"], [[f"{i}-{j}"] for j in range(n)])
        paths.append(str(p))
    paths.append(str(tmp_path / "absent.xlsx"))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        df = read_xlsx_tolerant(spark, paths, ["a"])
    finally:
        spark.conf.set(key, old)
    got = sorted((r._source_file.rsplit("/", 1)[-1], r._status, r.a) for r in df.collect())
    assert got == sorted(
        [("f0.xlsx", "ok", f"0-{j}") for j in range(5)]
        + [("f1.xlsx", "empty", None), ("absent.xlsx", "missing", None)]
        + [("f2.xlsx", "ok", f"2-{j}") for j in range(3)]
    )


_ZIP_CACHE_CHILD = """
import importlib, os, sys, tempfile, zipfile, zipimport

def write(path, mods):
    with zipfile.ZipFile(path, "w") as zf:
        for m in mods:
            zf.writestr(m + ".py", "NAME = %r\\n" % m)

archive = os.path.join(tempfile.mkdtemp(), "mods.zip")
write(archive, ["m1"])
sys.path.insert(0, archive)
import m1
original = zipimport.zipimporter.invalidate_caches
reads = []
read_directory = zipimport._read_directory

def counting(path):
    reads.append(path)
    return read_directory(path)

zipimport._read_directory = counting
from etl_gcp_function_tmabrasil_spark.sources import xlsx
list(xlsx._parse_batches(iter([]), ["_source_file", "_status", "_error"], [], 1, 1))
print(zipimport.zipimporter.invalidate_caches is original)
del reads[:]
importlib.invalidate_caches()
importlib.invalidate_caches()
print(reads.count(archive))
write(archive, ["m1", "m2"])
importlib.invalidate_caches()
import m2
print(m2.NAME)
"""


def test_parse_task_keeps_unchanged_zip_directories():
    """After a parse task, ``importlib.invalidate_caches()`` re-reads
    no directory of an unchanged zip archive on ``sys.path``, and still
    re-reads a rewritten one, whose new module then imports. Python
    3.13+ keeps its own invalidation. Run in a child process, so the
    pytest process keeps the stock zipimporter."""
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_CACHE_CHILD],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    stock, unchanged_reads, m2 = out.stdout.split("\n")[:3]
    assert m2 == "m2"
    if sys.version_info >= (3, 13):
        assert stock == "True"
    else:
        assert (stock, unchanged_reads) == ("False", "0")
