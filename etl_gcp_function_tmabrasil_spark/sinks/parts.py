"""The parquet part files of a Spark write, read on the driver.

Spark's parquet writer writes a 0-row part file for every write task
whose partition is empty — for a frame with no rows, and beside
non-empty files when only some partitions are empty
(``range(0, 100, 4 partitions).filter(id >= 50)`` writes files of 0, 25
and 25 rows). Every later scan of the directory opens such a file, so
both sinks drop them after each write. Row counts come from the
Parquet footers: no Spark job runs.
"""

from __future__ import annotations

import contextlib
import os

import pyarrow.parquet as pq


def _listed(name: str) -> bool:
    """Whether Spark's file index lists a file or directory so named:
    it hides names starting with ``.``, and with ``_`` unless they hold
    ``=`` (a partition directory such as ``_day=1``)."""
    return not name.startswith(".") and ("=" in name or not name.startswith("_"))


def part_files(dirp: str) -> set[str]:
    """Every parquet part file under ``dirp`` that Spark's reader would
    list, partition directories included; none when ``dirp`` does not
    exist. Hidden directories are not entered, so the ``_temporary``
    tree of an aborted write contributes no file."""
    found = set()
    for root, dirs, files in os.walk(dirp):
        dirs[:] = [d for d in dirs if _listed(d)]
        found.update(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and _listed(f)
        )
    return found


def drop_empty_parts(paths: list[str], keep_one: bool = False) -> list[str]:
    """Unlink each 0-row file among ``paths``, with its ``.crc``, and
    return the files that hold rows, in order. ``keep_one`` keeps the
    first 0-row file when no file holds rows, so a table that would
    otherwise hold no data file keeps its schema readable."""
    full = [p for p in paths if pq.read_metadata(p).num_rows]
    empty = [p for p in paths if p not in full]
    for p in empty[1:] if keep_one and not full else empty:
        head, name = os.path.split(p)
        for f in (name, f".{name}.crc"):
            with contextlib.suppress(FileNotFoundError):
                os.unlink(os.path.join(head, f))
    return full
