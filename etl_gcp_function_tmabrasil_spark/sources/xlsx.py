"""Distributed XLSX ingestion — the reference's payload format
(``/root/reference/main.py:12``: objects are ``minha-pasta/*.xlsx``),
whose processing body the reference leaves as a placeholder
(``main.py:17``). Here it is made real and distributed:

    frame of local paths, optionally with each path's file-event key,
    shipped from the driver as Arrow (a LocalTableScan sliced by path
    count and defaultParallelism)
      → mapInArrow: each task stats, opens and parses its own objects
        (parse_rows), each file's data rows or one marker row, every
        row stamped with its path's event key when one was given, and
        yields one string RecordBatch per
        ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows
      → cast to a declared schema (strings at the parse edge, typed
        columns in the engine)

One Python worker per parse task, and it never imports pandas: the
path frame needs no Python worker of its own, and the parse builds
Arrow columns from plain lists (pandas is imported only by the
``parse_xlsx_bytes`` wrapper). A parse task also stops its worker
process from re-reading the directories of unchanged zip archives at
the start of every later task (``sources.reload_zips_only_when_changed``).

The parser is self-contained stdlib (zipfile + ElementTree): XLSX is a
zip of XML parts. It covers the common subset — one worksheet, shared
or inline strings, numeric cells, a header row — and fails loudly
beyond it. Swap in openpyxl via the same ``parse_rows`` seam when
that lib is available.

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
import sys
import zipfile
from collections.abc import Iterator
from typing import TYPE_CHECKING
from xml.etree import ElementTree as ET

import pyarrow as pa
from pyarrow.lib import StringBuilder

from pyspark.sql import DataFrame, SparkSession, functions as F

from etl_gcp_function_tmabrasil_spark.sources import (
    reload_zips_only_when_changed,
    rows_frame,
)

if TYPE_CHECKING:
    import pandas as pd

#: the SpreadsheetML namespace in ElementTree's ``{uri}tag`` form: a
#: qualified tag without a prefix map takes the C accelerator's direct
#: child scan in find/findall (a prefix map routes every call through
#: the pure-Python ElementPath, about half of a workbook's parse time)
_M = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_CELL_REF = re.compile(r"([A-Z]+)(\d+)")

#: Guard against a single giant workbook monopolizing task memory.
DEFAULT_MAX_FILE_BYTES = 256 * 1024 * 1024


def _col_index(ref: str) -> int:
    """'A'→0, 'B'→1, …, 'AA'→26 (cell reference column part)."""
    idx = 0
    for ch in ref:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def parse_rows(content: bytes) -> tuple[list[str], list[list[str | None]]]:
    """Parse one workbook's first worksheet into ``(header, rows)``:
    the first row's cell texts, then one list of cell texts (None for
    an absent cell) per data row, each as wide as the header. A sheet
    with no rows yields ``([], [])``. Raises ValueError on workbooks
    outside the supported subset (no sheet, ragged header)."""
    with zipfile.ZipFile(io.BytesIO(content)) as zf:
        names = set(zf.namelist())
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in root.findall(_M + "si"):
                # direct <t> plus rich-text runs <r><t> ONLY — si.iter
                # would also swallow phonetic-run (<rPh><t>) text,
                # corrupting cells from workbooks with furigana data
                parts = [t.text or "" for t in si.findall(_M + "t")]
                parts += [t.text or "" for t in si.findall(f"{_M}r/{_M}t")]
                shared.append("".join(parts))
        sheet_name = next(
            (n for n in sorted(names) if n.startswith("xl/worksheets/sheet")), None
        )
        if sheet_name is None:
            raise ValueError("xlsx: no worksheet part found")
        root = ET.fromstring(zf.read(sheet_name))
        rows: list[dict[int, str]] = []
        for row in root.iter(_M + "row"):
            cells: dict[int, str] = {}
            for c in row.findall(_M + "c"):
                ref = c.get("r", "")
                m = _CELL_REF.match(ref)
                col = _col_index(m.group(1)) if m else len(cells)
                ctype = c.get("t", "n")
                if ctype == "inlineStr":
                    t = c.find(_M + "is")
                    val = "".join(
                        x.text or "" for x in t.iter(_M + "t")
                    ) if t is not None else ""
                elif ctype == "s":
                    v = c.find(_M + "v")
                    val = shared[int(v.text)] if v is not None and v.text else ""
                else:
                    v = c.find(_M + "v")
                    val = v.text if v is not None and v.text is not None else ""
                cells[col] = val
            rows.append(cells)
    if not rows:
        return [], []
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
    return header, [[r.get(i) for i in range(ncols)] for r in rows[1:]]


def parse_xlsx_bytes(content: bytes) -> pd.DataFrame:
    """:func:`parse_rows` as a string-typed pandas DataFrame, first row
    as header. pandas is imported here only, so the parse tasks, which
    call :func:`parse_rows`, never load it."""
    import pandas as pd

    header, rows = parse_rows(content)
    return pd.DataFrame(rows, columns=header, dtype=object)


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


def _project(
    header: list[str], rows: list[list[str | None]], columns: list[str]
) -> list[list[str | None]]:
    """`rows` cut to the requested `columns`, in their order; a
    requested name the header lacks is all-None. A requested name the
    header carries twice raises ValueError — there is no telling which
    cell is meant. Duplicates among names not requested are fine."""
    wanted = set(columns)
    pos: dict[str, int] = {}
    for i, name in enumerate(header):
        if name in wanted:
            if name in pos:
                raise ValueError(f"xlsx: duplicate header {name!r}")
            pos[name] = i
    idx = [pos.get(c) for c in columns]
    return [[None if i is None else r[i] for i in idx] for r in rows]


def _open_and_parse(
    path: str, columns: list[str], max_file_bytes: int
) -> tuple[str, str | None, list[list[str | None]]]:
    """One object's outcome, decided inside the task: ``(status, error,
    rows)``, `rows` cut to `columns` and non-empty only for 'ok'. `stat`
    runs before `open`, so a directory or a FIFO is 'missing' and cannot
    block the read; at most ``max_file_bytes + 1`` bytes are read, so a
    file that grew after its stat is still 'oversize' without being
    loaded."""
    try:
        st = os.stat(path)
        if not stat.S_ISREG(st.st_mode):
            return "missing", "not a regular file", []
        if st.st_size > max_file_bytes:
            return "oversize", f"xlsx too large: {st.st_size} bytes", []
        with open(path, "rb") as fh:
            content = fh.read(max_file_bytes + 1)
        if len(content) > max_file_bytes:
            return "oversize", f"xlsx too large: over {max_file_bytes} bytes", []
        rows = _project(*parse_rows(content), columns)
    except (FileNotFoundError, NotADirectoryError):  # absent, or gone since stat
        return "missing", "no such object", []
    except Exception as exc:  # noqa: BLE001 — isolated per file
        return "error", str(exc)[:500], []
    return ("ok" if rows else "empty"), None, rows


def _scan_xlsx(
    spark: SparkSession,
    paths: list[str],
    columns: list[str],
    max_file_bytes: int,
    event_keys: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """The one XLSX read path: an Arrow-shipped frame of local paths,
    then `mapInArrow` tasks that open and parse their objects
    themselves. Every path yields its data rows (`_status` 'ok') or
    exactly one marker row ('empty' | 'error' | 'oversize' | 'missing')
    with the data columns NULL — never zero rows, and no object can
    fail the task. `_source_file` is the object's ``file:`` URI. With
    `event_keys` (one ``(name, ts)`` per path) the path frame carries
    them too and every row of a path ends with its `_event_name` and
    `_event_ts`."""
    names = ["_source_file", "_status", "_error", *columns]
    rows = [(os.path.abspath(p),) for p in paths]
    path_schema = "path string"
    if event_keys is not None:
        if len(event_keys) != len(paths):
            raise ValueError(
                f"{len(event_keys)} event keys for {len(paths)} paths"
            )
        rows = [r + tuple(k) for r, k in zip(rows, event_keys)]
        path_schema += ", _event_name string, _event_ts string"
        names += ["_event_name", "_event_ts"]
    # read on the driver: the executor side has no session conf to ask
    limit = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    if limit <= 0:  # Spark's "no limit"
        limit = sys.maxsize

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _parse_batches(batches, names, columns, max_file_bytes, limit)

    return rows_frame(spark, rows, path_schema).mapInArrow(
        parse, ", ".join(f"`{n}` string" for n in names)
    )


def _parse_batches(
    batches: Iterator[pa.RecordBatch],
    names: list[str],
    columns: list[str],
    max_file_bytes: int,
    limit: int,
) -> Iterator[pa.RecordBatch]:
    """One parse task: every path of the incoming path batches becomes
    its rows (`names` order: source, status, error, `columns`, then the
    path's event key if it has one), leaving in string RecordBatches of
    at most `limit` rows. The columns are built with a StringBuilder:
    ``pa.array`` over a list imports pandas to probe for array-likes.
    The task first makes its worker process skip the zip directory
    re-reads of unchanged archives at every later task's start
    (:func:`~etl_gcp_function_tmabrasil_spark.sources.reload_zips_only_when_changed`)."""
    reload_zips_only_when_changed()
    buf: list[list] = []
    marker = [None] * len(columns)

    def to_batch(rows: list[list]) -> pa.RecordBatch:
        arrays = []
        for values in zip(*rows):
            builder = StringBuilder()
            builder.append_values(values)
            arrays.append(builder.finish())
        return pa.RecordBatch.from_arrays(arrays, names=names)

    for batch in batches:
        for path, *key in zip(*(c.to_pylist() for c in batch.columns)):
            status, error, data = _open_and_parse(path, columns, max_file_bytes)
            head = ["file:" + path, status, error]
            buf += [head + r + key for r in data or [marker]]
            while len(buf) >= limit:
                yield to_batch(buf[:limit])
                del buf[:limit]
    if buf:
        yield to_batch(buf)


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
