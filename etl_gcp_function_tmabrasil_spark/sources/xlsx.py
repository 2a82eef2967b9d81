"""Distributed XLSX ingestion — the reference's payload format
(``/root/reference/main.py:12``: objects are ``minha-pasta/*.xlsx``),
whose processing body the reference leaves as a placeholder
(``main.py:17``). Here it is made real and distributed:

    frame of local paths, optionally with each path's file-event key
    (sliced by path count and defaultParallelism)
      → mapInPandas: each task stats, opens and parses its own objects
        (parse_xlsx_bytes), one pandas batch per file or one marker row,
        every row stamped with its path's event key when one was given
      → cast to a declared schema (strings at the parse edge, typed
        columns in the engine)

The parser is self-contained stdlib (zipfile + ElementTree): XLSX is a
zip of XML parts. It covers the common subset — one worksheet, shared
or inline strings, numeric cells, a header row — and fails loudly
beyond it. Swap in pandas.read_excel/openpyxl via the same
``parse_xlsx_bytes`` seam when those libs are available.

Scale notes: parallelism is per-file (matching the reference's
per-object invocation model, ``main.py:5``); each task holds one
decompressed sheet in memory — the reference's own 512 MB/worker bound
(``main.tf:51``) is respected by capping workbook size
(`max_file_bytes`: checked on `stat` and bounded on read, so no task
loads more than the cap) and streaming rows out per batch.
"""

from __future__ import annotations

import fnmatch
import glob
import io
import os
import re
import stat
import zipfile
from collections.abc import Iterator
from xml.etree import ElementTree as ET

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

_NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_CELL_REF = re.compile(r"([A-Z]+)(\d+)")

#: Guard against a single giant workbook monopolizing task memory.
DEFAULT_MAX_FILE_BYTES = 256 * 1024 * 1024


def _col_index(ref: str) -> int:
    """'A'→0, 'B'→1, …, 'AA'→26 (cell reference column part)."""
    idx = 0
    for ch in ref:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def parse_xlsx_bytes(content: bytes) -> pd.DataFrame:
    """Parse one workbook's first worksheet into a string-typed pandas
    DataFrame, first row as header. Raises ValueError on workbooks
    outside the supported subset (no sheet, ragged header)."""
    with zipfile.ZipFile(io.BytesIO(content)) as zf:
        names = set(zf.namelist())
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in root.findall("m:si", _NS):
                # direct <t> plus rich-text runs <r><t> ONLY — si.iter
                # would also swallow phonetic-run (<rPh><t>) text,
                # corrupting cells from workbooks with furigana data
                parts = [t.text or "" for t in si.findall("m:t", _NS)]
                parts += [t.text or "" for t in si.findall("m:r/m:t", _NS)]
                shared.append("".join(parts))
        sheet_name = next(
            (n for n in sorted(names) if n.startswith("xl/worksheets/sheet")), None
        )
        if sheet_name is None:
            raise ValueError("xlsx: no worksheet part found")
        root = ET.fromstring(zf.read(sheet_name))
        rows: list[dict[int, str]] = []
        for row in root.iter(f"{{{_NS['m']}}}row"):
            cells: dict[int, str] = {}
            for c in row.findall("m:c", _NS):
                ref = c.get("r", "")
                m = _CELL_REF.match(ref)
                col = _col_index(m.group(1)) if m else len(cells)
                ctype = c.get("t", "n")
                if ctype == "inlineStr":
                    t = c.find("m:is", _NS)
                    val = "".join(
                        x.text or "" for x in t.iter(f"{{{_NS['m']}}}t")
                    ) if t is not None else ""
                elif ctype == "s":
                    v = c.find("m:v", _NS)
                    val = shared[int(v.text)] if v is not None and v.text else ""
                else:
                    v = c.find("m:v", _NS)
                    val = v.text if v is not None and v.text is not None else ""
                cells[col] = val
            rows.append(cells)
    if not rows:
        return pd.DataFrame()
    header_cells = rows[0]
    if not header_cells:
        # a styled-but-cellless first <row/>: fail with a diagnosable
        # message, not max()'s bare 'arg is an empty sequence'
        raise ValueError("xlsx: first row has no cells to use as a header")
    ncols = max(header_cells) + 1
    header = [header_cells.get(i, f"col{i}") for i in range(ncols)]
    # fail loudly on VALUED data cells beyond the header's width:
    # silently truncating a ragged row to ncols would LOSE values (the
    # module contract is "fails loudly beyond the supported subset").
    # Value-LESS cells out there are fine — Excel routinely emits
    # styled-but-empty trailing cells (<c r="E2" s="1"/>), and dropping
    # an empty string loses nothing; raising on those would poison-pill
    # ordinary workbooks.
    for idx, r in enumerate(rows[1:], start=2):
        wide = [i for i, v in r.items() if i >= ncols and v not in ("", None)]
        if wide:
            raise ValueError(
                f"xlsx: data cell in row {idx} at column {max(wide) + 1} "
                f"beyond the {ncols}-column header"
            )
    data = [[r.get(i) for i in range(ncols)] for r in rows[1:]]
    return pd.DataFrame(data, columns=header, dtype=object)


def write_minimal_xlsx(path: str, columns: list[str], rows: list[list]) -> None:
    """Write a minimal single-sheet workbook (inline strings + numbers).
    Test/fixture writer — the production path is the reader above."""
    def cell_xml(col: int, row: int, v) -> str:
        ref = ""
        c = col + 1
        while c:
            c, r = divmod(c - 1, 26)
            ref = chr(ord("A") + r) + ref
        ref = f"{ref}{row + 1}"
        if v is None:
            return ""
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return f'<c r="{ref}"><v>{v}</v></c>'
        s = (
            str(v)
            .replace("&", "&amp;")
            .replace("<", "&lt;")
            .replace(">", "&gt;")
        )
        return f'<c r="{ref}" t="inlineStr"><is><t>{s}</t></is></c>'

    sheet_rows = []
    for ri, row in enumerate([columns] + rows):
        cells = "".join(cell_xml(ci, ri, v) for ci, v in enumerate(row))
        sheet_rows.append(f'<row r="{ri + 1}">{cells}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(sheet_rows)}</sheetData></worksheet>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", content_types)
        zf.writestr("_rels/.rels", rels)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)


def _list_xlsx(path: str | list[str], path_glob: str) -> list[str]:
    """Driver-side listing for the batch reader: a directory contributes
    its files matching `path_glob`, a file is kept if it matches. A path
    that does not exist raises, as a file-source load would."""
    files: list[str] = []
    for entry in [path] if isinstance(path, str) else path:
        if not os.path.exists(entry):
            raise FileNotFoundError(f"xlsx path does not exist: {entry}")
        if os.path.isdir(entry):
            files += glob.glob(os.path.join(glob.escape(entry), path_glob))
        elif fnmatch.fnmatch(os.path.basename(entry), path_glob):
            files.append(entry)
    return sorted({os.path.abspath(f) for f in files if os.path.isfile(f)})


def _open_and_parse(
    path: str, max_file_bytes: int
) -> tuple[str, str | None, pd.DataFrame | None]:
    """One object's outcome, decided inside the task: ``(status, error,
    parsed)``, `parsed` set only for 'ok'. `stat` runs before `open`, so
    a directory or a FIFO is 'missing' and cannot block the read; at
    most ``max_file_bytes + 1`` bytes are read, so a file that grew
    after its stat is still 'oversize' without being loaded."""
    try:
        st = os.stat(path)
        if not stat.S_ISREG(st.st_mode):
            return "missing", "not a regular file", None
        if st.st_size > max_file_bytes:
            return "oversize", f"xlsx too large: {st.st_size} bytes", None
        with open(path, "rb") as fh:
            content = fh.read(max_file_bytes + 1)
        if len(content) > max_file_bytes:
            return "oversize", f"xlsx too large: over {max_file_bytes} bytes", None
        parsed = parse_xlsx_bytes(content)
    except (FileNotFoundError, NotADirectoryError):  # absent, or gone since stat
        return "missing", "no such object", None
    except Exception as exc:  # noqa: BLE001 — isolated per file
        return "error", str(exc)[:500], None
    return ("ok", None, parsed) if len(parsed) else ("empty", None, None)


def _scan_xlsx(
    spark: SparkSession,
    paths: list[str],
    columns: list[str],
    max_file_bytes: int,
    event_keys: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """The one XLSX read path: a frame of local paths, then
    `mapInPandas` tasks that open and parse their objects themselves.
    Every path yields its data rows (`_status` 'ok') or exactly one
    marker row ('empty' | 'error' | 'oversize' | 'missing') with the
    data columns NULL — never zero rows, and no object can fail the
    task. `_source_file` is the object's ``file:`` URI. With
    `event_keys` (one ``(name, ts)`` per path) the path frame carries
    them too and every row of a path ends with its `_event_name` and
    `_event_ts`."""
    out_fields = ", ".join(f"`{c}` string" for c in columns)
    out_schema = f"_source_file string, _status string, _error string, {out_fields}"
    rows = [(os.path.abspath(p),) for p in paths]
    path_schema = "path string"
    if event_keys is not None:
        if len(event_keys) != len(paths):
            raise ValueError(
                f"{len(event_keys)} event keys for {len(paths)} paths"
            )
        rows = [r + tuple(k) for r, k in zip(rows, event_keys)]
        path_schema += ", _event_name string, _event_ts string"
        out_schema += ", _event_name string, _event_ts string"
    sc = spark.sparkContext
    slices = max(1, min(len(paths), sc.defaultParallelism))
    path_df = spark.createDataFrame(sc.parallelize(rows, slices), path_schema)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, *key in pdf.itertuples(index=False):
                status, error, parsed = _open_and_parse(path, max_file_bytes)
                n = 1 if parsed is None else len(parsed)
                # explicit per-column Series: a dict of all-scalar Nones
                # (a marker, or a header sharing no names with
                # `columns`) would make the DataFrame constructor raise
                out = pd.DataFrame(
                    {
                        c: parsed[c].astype(object)
                        if parsed is not None and c in parsed
                        else pd.Series([None] * n, dtype=object)
                        for c in columns
                    }
                )
                out.insert(0, "_error", error)
                out.insert(0, "_status", status)
                out.insert(0, "_source_file", "file:" + path)
                if key:
                    out["_event_name"], out["_event_ts"] = key
                yield out

    return path_df.mapInPandas(parse, schema=out_schema)


def read_xlsx(
    spark: SparkSession,
    path: str | list[str],
    columns: list[str],
    schema_ddl: str | None = None,
    path_glob: str = "*.xlsx",
    max_file_bytes: int = DEFAULT_MAX_FILE_BYTES,
) -> DataFrame:
    """Distributed batch XLSX read over local files.

    Returns string columns named `columns` plus `_source_file`; pass
    `schema_ddl` (e.g. ``"event_id long, value double"``) to cast typed
    columns engine-side (Catalyst casts, not pandas). Fails the whole
    job loudly on any unreadable workbook — right for batch; the
    streaming ETL uses :func:`read_xlsx_tolerant` instead.
    """
    files = _list_xlsx(path, path_glob)
    # size guard at call time, before any content is read: the listing
    # already stat'ed every file on the driver
    for f in files:
        size = os.path.getsize(f)
        if size > max_file_bytes:
            raise ValueError(f"xlsx too large: {f} ({size} bytes)")
    scanned = _scan_xlsx(spark, files, columns, max_file_bytes)
    # a marker other than 'empty' (corrupt, deleted or grown since the
    # listing) fails the job; header-only workbooks contribute no rows
    keep = F.when(
        F.col("_status").isin("ok", "empty"), F.col("_status") == "ok"
    ).otherwise(
        F.raise_error(
            F.concat_ws(": ", F.col("_status"), F.col("_source_file"), F.col("_error"))
        )
    )
    df = scanned.filter(keep).drop("_status", "_error")
    return _apply_schema_ddl(df, schema_ddl)


def read_xlsx_tolerant(
    spark: SparkSession,
    paths: list[str],
    columns: list[str],
    schema_ddl: str | None = None,
    max_file_bytes: int = DEFAULT_MAX_FILE_BYTES,
    event_keys: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Per-file fault-isolated XLSX read for streaming ETL.

    Unlike :func:`read_xlsx` (which fails the whole job loudly — right
    for batch), every requested local path yields AT LEAST one row and
    no file can fail the task: a checkpointed stream replays a failed
    micro-batch with the identical file list, so one poisoned object
    would otherwise wedge ingestion permanently. Schema adds `_status`
    ('ok' | 'empty' | 'error' | 'oversize' | 'missing') and `_error`;
    data rows carry _status='ok', every other path produces exactly one
    marker row with the data columns NULL. The parse task stats and
    opens each object itself, so the invariant holds by construction —
    including for an object deleted, replaced by a non-file, or grown
    past `max_file_bytes` after the event was admitted.

    `event_keys`, when given, is input data parallel to `paths`: one
    ``(_event_name, _event_ts)`` pair per path, written by the parse
    task as two trailing string columns on every row the path yields,
    marker rows included. A path listed twice (one object, two events)
    is read once per entry and yields one set of rows per key. Without
    keys the schema has no event columns.
    """
    return _apply_schema_ddl(
        _scan_xlsx(spark, paths, columns, max_file_bytes, event_keys), schema_ddl
    )


def _apply_schema_ddl(df: DataFrame, schema_ddl: str | None) -> DataFrame:
    """Cast the string columns named in `schema_ddl` to their declared
    types; columns of `df` not named in the DDL pass through unchanged.
    Parsed with Spark's own DDL parser — a hand-rolled comma/space
    split breaks on any parametrized type (``decimal(10,2)``)."""
    if not schema_ddl:
        return df
    from pyspark.sql.types import StructType

    typed = {f.name: f.dataType for f in StructType.fromDDL(schema_ddl).fields}
    return df.select(
        *[
            F.col(c).cast(typed[c]).alias(c) if c in typed else F.col(c)
            for c in df.columns
        ]
    )
