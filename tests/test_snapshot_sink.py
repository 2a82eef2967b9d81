"""Snapshot-isolated manifest sink (sinks/snapshot.py): time travel,
append vs overwrite lineage, crashed-commit invisibility, and the
version-resolution errors. The oracle gate
(sink_snapshot_time_travel) proves values; these pin the protocol."""

from __future__ import annotations

import json
import os

import pytest

from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
    commit_snapshot,
    read_snapshot,
)


def _ids(spark, table, version=None):
    return sorted(
        r.id for r in read_snapshot(spark, str(table), version).collect()
    )


def test_append_overwrite_and_time_travel(spark, tmp_path):
    table = tmp_path / "t"
    df = lambda lo, hi: spark.range(lo, hi)
    assert commit_snapshot(df(0, 3), str(table)) == 1
    assert commit_snapshot(df(3, 5), str(table), mode="append") == 2
    assert commit_snapshot(df(10, 12), str(table), mode="overwrite") == 3
    # newest = the overwrite; every older version still readable
    assert _ids(spark, table) == [10, 11]
    assert _ids(spark, table, version=1) == [0, 1, 2]
    assert _ids(spark, table, version=2) == [0, 1, 2, 3, 4]
    assert _ids(spark, table, version=3) == [10, 11]


def test_orphans_and_manifest_temps_are_invisible(spark, tmp_path):
    table = tmp_path / "t"
    commit_snapshot(spark.range(0, 4), str(table))
    # crashed commit: data files written, manifest never renamed in
    spark.range(100, 105).write.parquet(str(table / "data" / "orphan"))
    (table / ".manifest_v2.json.tmp").write_text('{"version": 2, "files')
    assert _ids(spark, table) == [0, 1, 2, 3]
    # the next successful commit numbers past the temp, not from it
    assert commit_snapshot(
        spark.range(4, 6), str(table), mode="append"
    ) == 2
    assert _ids(spark, table) == [0, 1, 2, 3, 4, 5]


def test_version_resolution_errors(spark, tmp_path):
    table = tmp_path / "t"
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, str(table))
    commit_snapshot(spark.range(0, 2), str(table))
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, str(table), version=7)
    with pytest.raises(ValueError):
        commit_snapshot(spark.range(0, 1), str(table), mode="merge")


def _verb(name):
    """``(spark, table, other_dir) -> None`` calling snapshot verb
    ``name`` on ``table`` at version 9 where the verb takes a version."""
    from etl_gcp_function_tmabrasil_spark.sinks import snapshot as snap

    return {
        "read_snapshot": lambda s, t, o: snap.read_snapshot(s, t, 9),
        "read_snapshot as_of": lambda s, t, o: snap.read_snapshot(
            s, t, as_of=0.5
        ),
        "snapshot_files": lambda s, t, o: snap.snapshot_files(t, 9),
        "snapshot_ndv": lambda s, t, o: snap.snapshot_ndv(t, "id", 9),
        "snapshot_ndv as_of": lambda s, t, o: snap.snapshot_ndv(
            t, "id", as_of=0.5
        ),
        "resolve_version_at": lambda s, t, o: snap.resolve_version_at(t, 0.5),
        "clone_snapshot": lambda s, t, o: snap.clone_snapshot(t, o, 9),
        "promote_staged": lambda s, t, o: snap.promote_staged(t, o, 9),
        "restore_snapshot": lambda s, t, o: snap.restore_snapshot(t, 9),
        "fsck_snapshot": lambda s, t, o: snap.fsck_snapshot(s, t),
        "vacuum_snapshots": lambda s, t, o: snap.vacuum_snapshots(t),
        "delete_where": lambda s, t, o: snap.delete_where(s, t, "id = 1"),
        "replace_where": lambda s, t, o: snap.replace_where(
            s, s.range(1), t, "id = 0"
        ),
        "merge_snapshot": lambda s, t, o: snap.merge_snapshot(
            s, t, s.range(1), "id"
        ),
        "optimize_layout": lambda s, t, o: snap.optimize_layout(
            s, t, "id", 1
        ),
        "set_constraints": lambda s, t, o: snap.set_constraints(
            s, t, {"c": "id >= 0"}
        ),
        "drop_constraint": lambda s, t, o: snap.drop_constraint(t, "c"),
    }[name]


#: verbs that resolve a caller-given version or instant — at version 9
#: (or before the first commit) of a committed table they must raise too
_VERSIONED = (
    "read_snapshot", "read_snapshot as_of", "snapshot_files",
    "snapshot_ndv", "snapshot_ndv as_of", "resolve_version_at",
    "clone_snapshot", "promote_staged", "restore_snapshot",
)


@pytest.mark.parametrize(
    "name",
    _VERSIONED + (
        "fsck_snapshot", "vacuum_snapshots", "delete_where",
        "replace_where", "merge_snapshot", "optimize_layout",
        "set_constraints", "drop_constraint",
    ),
)
def test_every_verb_raises_file_not_found_for_a_missing_version(
    spark, tmp_path, name
):
    """Every reader and verb resolves versions through the one
    resolver, so a never-committed directory and a version the table
    does not hold (9 of a 2-version table; an instant before its first
    commit) raise the same FileNotFoundError, and the failed call
    writes nothing."""
    verb = _verb(name)
    table, other = str(tmp_path / "t"), str(tmp_path / "other")
    with pytest.raises(FileNotFoundError, match="no snapshot committed"):
        verb(spark, table, other)
    if name not in _VERSIONED:
        return
    commit_snapshot(spark.range(3), table, commit_ts=1.0, ndv_cols=["id"])
    commit_snapshot(spark.range(3, 5), table, commit_ts=2.0)
    with pytest.raises(FileNotFoundError):
        verb(spark, table, other)
    assert sorted(os.listdir(table)) == [
        "data", "manifest_v1.json", "manifest_v2.json"
    ]
    assert not os.path.exists(other)


def test_version_resolution_lives_in_one_resolver():
    """`_resolve` is the only code in the sink that raises the
    no-commit or missing-version error (the quarantine reader raises
    its own), and `xxhash64` — the integrity digest — appears once,
    in `_file_digests`, which both the commit and fsck call."""
    import ast
    import inspect

    from etl_gcp_function_tmabrasil_spark.sinks import snapshot as snap

    raisers, hashers, digesters = set(), [], set()
    for top in ast.parse(inspect.getsource(snap)).body:
        name = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Raise) and "FileNotFoundError" in (
                ast.unparse(node.exc or ast.Constant(None))
            ):
                raisers.add(name)
            elif isinstance(node, ast.Attribute) and node.attr == "xxhash64":
                hashers.append(name)
            elif (
                isinstance(node, ast.Call)
                and ast.unparse(node.func) == "_file_digests"
            ):
                digesters.add(name)
    assert raisers == {"_resolve", "read_quarantine"}
    assert hashers == ["_file_digests"]
    assert digesters == {"_land", "fsck_snapshot"}


def test_manifest_lists_files_not_directories(spark, tmp_path):
    """The reader must hand Spark an explicit FILE list (never list
    the data dir), stored RELATIVE to the table root so the table is
    relocatable and a relative table_dir doesn't bake in the cwd."""
    table = tmp_path / "t"
    commit_snapshot(spark.range(0, 3), str(table))
    with open(table / "manifest_v1.json") as fh:
        m = json.load(fh)
    assert m["files"], "empty manifest"
    for f in m["files"]:
        assert f.endswith(".parquet") and not os.path.isabs(f), f
        assert os.path.isfile(table / f), f


def test_table_is_relocatable(spark, tmp_path):
    """Relative manifest paths = the whole table dir can move (or be
    read from any cwd) without breaking reads — Iceberg-style."""
    import shutil

    table = tmp_path / "t"
    commit_snapshot(spark.range(0, 4), str(table))
    commit_snapshot(spark.range(4, 6), str(table), mode="append")
    moved = tmp_path / "moved"
    shutil.move(str(table), str(moved))
    assert _ids(spark, moved) == [0, 1, 2, 3, 4, 5]
    assert _ids(spark, moved, version=1) == [0, 1, 2, 3]


def test_empty_commit_reads_back_typed(spark, tmp_path):
    """An empty commit (logical truncate, or a first commit producing
    zero data files) stays readable: the manifest's recorded schema
    yields an empty, correctly-typed DataFrame."""
    table = tmp_path / "t"
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    commit_snapshot(df, str(table))
    v2 = commit_snapshot(df.limit(0), str(table), mode="overwrite")
    got = read_snapshot(spark, str(table), v2)
    assert got.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("id", "bigint"),
        ("name", "string"),
    ]
    # empty FIRST commit too
    t2 = tmp_path / "t2"
    commit_snapshot(df.limit(0), str(t2))
    got2 = read_snapshot(spark, str(t2))
    assert got2.count() == 0 and got2.schema == got.schema
    # and an append onto an empty snapshot carries the schema contract
    commit_snapshot(df, str(t2), mode="append")
    assert read_snapshot(spark, str(t2)).count() == 1


def test_append_schema_drift_rejected(spark, tmp_path):
    """Append with a drifted schema raises explicitly (name or type
    change) instead of delegating to parquet merge; overwrite may
    change the schema. The schema is checked before any file lands,
    so a rejected commit leaves no orphan behind — the replace_where
    check included, which must reject before rewriting survivors."""
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        fsck_snapshot,
        replace_where,
    )

    table = tmp_path / "t"
    commit_snapshot(
        spark.createDataFrame([(1, "a")], "id long, name string"),
        str(table),
    )
    drifted = spark.createDataFrame([(2, 3.5)], "id long, name double")
    with pytest.raises(ValueError, match="schema drift"):
        commit_snapshot(drifted, str(table), mode="append")
    with pytest.raises(ValueError, match="merge_schema cannot change"):
        commit_snapshot(drifted, str(table), merge_schema=True)
    renamed = spark.createDataFrame([(2, "b")], "id long, label string")
    with pytest.raises(ValueError, match="schema drift"):
        commit_snapshot(renamed, str(table), mode="append")
    # the predicate matches the stored row, so a late check would
    # already have rewritten its file
    with pytest.raises(ValueError, match="schema drift"):
        replace_where(
            spark,
            spark.createDataFrame([(1, 3.5)], "id long, name double"),
            str(table),
            "id = 1",
        )
    # the failed commits wrote nothing — table unchanged
    assert read_snapshot(spark, str(table)).count() == 1
    assert "orphan" not in {
        r["status"] for r in fsck_snapshot(spark, str(table))
    }
    v = commit_snapshot(drifted, str(table), mode="overwrite")
    assert read_snapshot(spark, str(table), v).schema == drifted.schema


def test_txn_id_makes_commits_idempotent(spark, tmp_path):
    """A commit replayed under an already-applied txn_id (foreachBatch's
    at-least-once redelivery) returns the recorded version and changes
    nothing — the Delta txn/appId pattern; distinct txn ids append."""
    table = tmp_path / "t"
    v1 = commit_snapshot(spark.range(0, 3), str(table), txn_id="b0")
    v2 = commit_snapshot(
        spark.range(3, 5), str(table), mode="append", txn_id="b1"
    )
    assert (v1, v2) == (1, 2)
    # replay both — no new versions, no new rows, recorded version back
    assert commit_snapshot(
        spark.range(90, 99), str(table), mode="append", txn_id="b0"
    ) == 1
    assert commit_snapshot(
        spark.range(90, 99), str(table), mode="append", txn_id="b1"
    ) == 2
    assert _ids(spark, table) == [0, 1, 2, 3, 4]
    with open(table / "manifest_v2.json") as fh:
        assert json.load(fh)["txn"] == {"b0": 1, "b1": 2}
    # txn history survives an overwrite (table-level, not snapshot-level)
    commit_snapshot(spark.range(7, 9), str(table), mode="overwrite")
    assert commit_snapshot(
        spark.range(90, 99), str(table), mode="append", txn_id="b0"
    ) == 1
    assert _ids(spark, table) == [7, 8]


def test_version_collision_raises_not_clobbers(spark, tmp_path):
    """If the single-writer assumption is violated and two commits race
    to the same version, the loser RAISES (exclusive create) instead of
    silently replacing the winner's manifest and orphaning its files."""
    from etl_gcp_function_tmabrasil_spark.sinks import snapshot as snap

    table = tmp_path / "t"
    commit_snapshot(spark.range(0, 3), str(table))
    # simulate the race: the loser read versions=[1] (so targets v2),
    # but the winner published manifest_v2 in between
    winner = dict(json.load(open(table / "manifest_v1.json")))
    winner["version"] = 2
    (table / "manifest_v2.json").write_text(json.dumps(winner))
    real = snap._manifests
    snap._manifests = lambda d: [1]  # the loser's stale listing
    try:
        with pytest.raises(FileExistsError):
            commit_snapshot(spark.range(3, 6), str(table), mode="append")
    finally:
        snap._manifests = real
    # the winner's manifest is untouched
    assert _ids(spark, table, version=2) == [0, 1, 2]


def test_snapshot_lineage_property(spark, tmp_path):
    """Property: after ANY sequence of append/overwrite commits, every
    version v reads back exactly the fold of the commit history up to
    v (overwrite resets, append accumulates) — no version ever sees a
    later commit's rows or loses an earlier one. Drives randomized
    sequences with a fixed seed (hypothesis would re-create Spark
    fixtures per example; a seeded loop keeps one session)."""
    import random

    rng = random.Random(17)
    for trial in range(4):
        table = tmp_path / f"t{trial}"
        expected: list[list[int]] = []  # per version: the id set
        nxt = 0
        for _ in range(rng.randint(2, 6)):
            n = rng.randint(1, 4)
            ids = list(range(nxt, nxt + n))
            nxt += n
            mode = rng.choice(["append", "overwrite"])
            df = spark.createDataFrame([(i,) for i in ids], "id long")
            v = commit_snapshot(df, str(table), mode=mode)
            prev = expected[-1] if (mode == "append" and expected) else []
            expected.append(sorted(prev + ids))
            assert v == len(expected)
        for v, want in enumerate(expected, start=1):
            assert _ids(spark, table, version=v) == want, (trial, v)
        assert _ids(spark, table) == expected[-1]


def test_vacuum_expires_versions_and_continues_numbering(spark, tmp_path):
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        vacuum_snapshots,
    )

    table = str(tmp_path / "t")
    df1 = spark.range(10).selectExpr("id", "id * 2 AS v")
    df2 = spark.range(10, 20).selectExpr("id", "id * 2 AS v")
    df3 = spark.range(20, 30).selectExpr("id", "id * 2 AS v")
    assert commit_snapshot(df1, table, mode="overwrite") == 1
    assert commit_snapshot(df2, table, mode="overwrite") == 2
    assert commit_snapshot(df3, table, mode="append") == 3
    stats = vacuum_snapshots(table, retain_last=2)
    assert stats["expired_versions"] == [1]
    assert stats["retained_versions"] == [2, 3]
    assert stats["deleted_files"], "v1's exclusive files should be deleted"
    # retained versions unchanged
    assert sorted(r.id for r in read_snapshot(spark, table, version=2).collect()) == list(range(10, 20))
    assert sorted(r.id for r in read_snapshot(spark, table, version=3).collect()) == list(range(10, 30))
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, version=1)
    # vacuum is idempotent
    stats2 = vacuum_snapshots(table, retain_last=2)
    assert stats2["expired_versions"] == [] and stats2["deleted_files"] == []
    # numbering continues after a vacuum
    assert commit_snapshot(df1, table, mode="append") == 4
    assert read_snapshot(spark, table, version=4).count() == 30
    # retain_last below 1 clamps to 1 (never delete the newest)
    stats3 = vacuum_snapshots(table, retain_last=0)
    assert stats3["retained_versions"] == [4]
    assert read_snapshot(spark, table).count() == 30


def test_manifests_publish_only_through_write_manifest():
    """`_write_manifest` is the single commit point: no other code in
    the sink module dumps a manifest or calls `_publish_manifest`, so
    every verb's next manifest follows the one carry-forward rule
    instead of a hand-written copy that can drop table state."""
    import ast
    import inspect

    from etl_gcp_function_tmabrasil_spark.sinks import snapshot as snap

    writers = ("json.dump", "_publish_manifest")
    callers: dict[str, set[str]] = {w: set() for w in writers}
    for top in ast.parse(inspect.getsource(snap)).body:
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                name = ast.unparse(node.func)
                if name in callers:
                    callers[name].add(getattr(top, "name", "<module>"))
    assert callers == {w: {"_write_manifest"} for w in writers}


def test_layout_is_set_only_by_commit_snapshot():
    """The skipping layout is table state: `commit_snapshot` is the one
    function with a layout parameter, and `_land` the one caller of
    `_collect_file_stats` (it reads the layout from the manifest it
    builds on), so no verb can land files under a layout of its own."""
    import ast
    import inspect

    from etl_gcp_function_tmabrasil_spark.sinks import snapshot as snap

    layout = {"stats_cols", "point_cols", "bloom_bits", "ndv_cols"}
    takers, collectors = set(), set()
    for top in ast.parse(inspect.getsource(snap)).body:
        for node in ast.walk(top):
            if isinstance(node, (ast.FunctionDef, ast.Lambda)):
                a = node.args
                params = a.posonlyargs + a.args + a.kwonlyargs
                if layout & {p.arg for p in params}:
                    takers.add(getattr(node, "name", "<lambda>"))
            elif (
                isinstance(node, ast.Call)
                and ast.unparse(node.func) == "_collect_file_stats"
            ):
                collectors.add(getattr(top, "name", "<module>"))
    assert takers == {"commit_snapshot"}
    assert collectors == {"_land"}


def test_layout_survives_every_verb(spark, tmp_path):
    """A table committed once with stats, points and NDV on `id` keeps
    that layout through every verb called WITHOUT layout arguments:
    after each one, range and point pruning keep exactly the files a
    fresh commit of the same files would keep (min/max overlap; every
    file holds at most _DICT_MAX ids, so the point dictionary is
    exact), and the NDV estimate is the exact distinct count (< K).
    Metadata-only verbs (restore, clone, promote) are followed by an
    append, whose new file must get the inherited layout too. No
    manifest ever names a file without rows: an append of no rows adds
    no file, and a commit of no rows to a new table lands none and
    reads back as an empty frame with the table's schema."""
    import pyarrow.parquet as pq

    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        clone_snapshot,
        delete_where,
        merge_snapshot,
        optimize_layout,
        promote_staged,
        replace_where,
        restore_snapshot,
        snapshot_files,
        snapshot_ndv,
    )

    def check(table, step):
        held = {
            f: pq.read_table(f, columns=["id"]).column("id").to_pylist()
            for f in snapshot_files(table)
        }
        assert all(pq.read_metadata(f).num_rows for f in held), step
        for lo, hi in ((0, 10), (50, 60), (100, 130), (500, 600)):
            want = [
                f for f, ids in held.items()
                if min(ids) <= hi and max(ids) >= lo
            ]
            got = snapshot_files(table, prune={"id": (lo, hi)})
            assert sorted(got) == sorted(want), (step, lo, hi)
        for v in (3, 55, 105, 404):
            want = [f for f, ids in held.items() if v in ids]
            got = snapshot_files(table, points={"id": v})
            assert sorted(got) == sorted(want), (step, v)
        exact = len({i for ids in held.values() for i in ids})
        assert snapshot_ndv(table, "id") == exact, step

    def append(table, lo):
        commit_snapshot(spark.range(lo, lo + 5).coalesce(1), table, "append")

    def append_nothing():
        before = snapshot_files(t)
        commit_snapshot(spark.range(0), t, "append")
        assert snapshot_files(t) == before, "an append of no rows added a file"

    t, clone, stage, fresh = (
        str(tmp_path / n) for n in ("t", "clone", "stage", "fresh")
    )
    layout = dict(stats_cols=["id"], point_cols=["id"], ndv_cols=["id"])
    commit_snapshot(spark.range(100).repartitionByRange(4, "id"), t, **layout)
    commit_snapshot(spark.range(400, 410).coalesce(1), stage, **layout)
    check(t, "commit")
    steps = [
        ("append", lambda: append(t, 100)),
        # Spark writes one EMPTY part file for a frame with no rows
        ("append of no rows", append_nothing),
        ("delete", lambda: delete_where(spark, t, "id = 55")),
        ("replace", lambda: replace_where(
            spark, spark.range(10, 13).coalesce(1), t, "id >= 10 AND id < 15"
        )),
        ("merge", lambda: merge_snapshot(
            spark, t, spark.range(3, 4).union(spark.range(200, 201)), "id"
        )),
        ("optimize", lambda: optimize_layout(spark, t, "id", 6)),
        ("restore", lambda: restore_snapshot(t, 4)),
        ("append after restore", lambda: append(t, 120)),
        ("promote", lambda: promote_staged(stage, t)),
        ("append after promote", lambda: append(t, 140)),
    ]
    for step, verb in steps:
        verb()
        check(t, step)
    clone_snapshot(t, clone)
    check(clone, "clone")
    append(clone, 160)
    check(clone, "append after clone")
    promote_staged(stage, fresh)
    append(fresh, 180)
    check(fresh, "append after promote into a new table")
    empty = str(tmp_path / "empty")
    commit_snapshot(spark.range(0), empty, **layout)
    assert snapshot_files(empty) == []
    assert os.listdir(os.path.join(empty, "data")) == []
    got = read_snapshot(spark, empty)
    assert got.count() == 0 and got.schema == spark.range(0).schema


def test_layout_changes_only_where_commit_snapshot_says(spark, tmp_path):
    """A layout argument replaces its own entry and leaves the others
    inherited; an explicit [] clears a column list; a layout column
    the new schema lacks is rejected before any file is written."""
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        _load_manifest,
        snapshot_ndv,
    )

    table = str(tmp_path / "t")
    commit_snapshot(
        spark.range(10).coalesce(1), table,
        point_cols=["id"], bloom_bits=2048, ndv_cols=["id"],
    )
    commit_snapshot(
        spark.range(10, 20).coalesce(1), table, mode="append", ndv_cols=[]
    )
    m = _load_manifest(table, 2)
    assert m["layout"] == {"point_cols": ["id"], "bloom_bits": 2048,
                           "ndv_cols": []}
    assert [e["id"]["bits"] for e in m["skipping"].values()] == [2048, 2048]
    assert len(m["ndv"]) == 1  # only the first file carries a sketch
    with pytest.raises(KeyError, match="layout did not list it"):
        snapshot_ndv(table, "id")
    data = os.listdir(os.path.join(table, "data"))
    renamed = spark.range(5).selectExpr("id AS k")
    with pytest.raises(ValueError, match="layout columns"):
        commit_snapshot(renamed, table, mode="overwrite")
    assert os.listdir(os.path.join(table, "data")) == data
    commit_snapshot(renamed, table, mode="overwrite", point_cols=["k"])
    assert _load_manifest(table, 3)["layout"]["point_cols"] == ["k"]


def test_point_skipping_dict_path_exact(spark, tmp_path):
    """Dictionary path (per-file distinct count fits _DICT_MAX): a
    point lookup keeps EXACTLY the files that contain the value —
    never a false skip (checked for every committed value), and here
    (disjoint files) never a false keep either."""
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        snapshot_files,
    )

    table = str(tmp_path / "t")
    # 4 files, 10 ids each, interleaved residues: min/max spans all
    df = spark.range(40).selectExpr("id", "id % 4 AS r")
    commit_snapshot(
        df.repartition(4, "r"), table,
        stats_cols=["id"], point_cols=["id"],
    )
    total = snapshot_files(table)
    assert len(total) >= 2  # residues may hash-share a file
    # min/max cannot prune the interleaved layout
    assert len(snapshot_files(table, prune={"id": (17, 17)})) == len(total)
    for v in range(40):
        kept = snapshot_files(table, points={"id": v})
        assert len(kept) == 1, (v, kept)  # dict is exact on disjoint files
    # absent value: dictionary proves absence -> nothing kept
    assert snapshot_files(table, points={"id": 4040}) == []


def test_point_skipping_bloom_path_no_false_skips(spark, tmp_path):
    """Bloom path (dict overflows): the file holding the value is
    ALWAYS kept (no false skips), and a right-sized filter skips at
    least one file for an absent-from-most-files value."""
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        _DICT_MAX,
        _load_manifest,
        snapshot_files,
    )

    table = str(tmp_path / "t")
    n = 400  # 4 files x 100 distinct >> _DICT_MAX -> bloom only
    df = spark.range(n).selectExpr("id", "id % 4 AS r")
    commit_snapshot(
        df.repartition(4, "r"), table,
        stats_cols=["id"], point_cols=["id"], bloom_bits=1024,
    )
    m = _load_manifest(table, 1)
    for entry in m["skipping"].values():
        assert entry["id"]["dict"] is None  # overflowed -> bloom only
        assert entry["id"]["bits"] == 1024
    total = snapshot_files(table)
    assert len(total) >= 2
    skipped_any = False
    for v in range(0, n, 7):
        kept = set(snapshot_files(table, points={"id": v}))
        # the residue file holding v must survive: its read returns v
        rows = read_snapshot(spark, table, points={"id": v}).filter(
            f"id = {v}"
        )
        assert rows.count() == 1, v
        if len(kept) < len(total):
            skipped_any = True
    assert skipped_any, "bloom sized 1024/100-ndv should skip sometimes"


def test_point_skipping_rejects_unrenderable_types(spark, tmp_path):
    """Types whose CAST-to-string rendering differs between the JVM
    and Python are rejected loudly at commit AND at lookup."""
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        snapshot_files,
    )

    table = str(tmp_path / "t")
    df = spark.range(5).selectExpr("id", "CAST(id AS DOUBLE) AS x")
    with pytest.raises(ValueError, match="point_cols"):
        commit_snapshot(df, table, point_cols=["x"])
    commit_snapshot(df, table, point_cols=["id"])
    with pytest.raises(ValueError, match="point skipping supports"):
        snapshot_files(table, points={"id": 1.5})
    with pytest.raises(ValueError, match="point skipping supports"):
        snapshot_files(table, points={"id": True})


def test_point_skipping_append_carries_metadata(spark, tmp_path):
    """Append merges the previous snapshot's skipping metadata with the
    new files' — old files stay point-prunable after an append, and a
    restore carries the metadata verbatim."""
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        restore_snapshot,
        snapshot_files,
    )

    table = str(tmp_path / "t")
    commit_snapshot(spark.range(10).coalesce(1), table, point_cols=["id"])
    commit_snapshot(spark.range(100, 110).coalesce(1), table, mode="append")
    # v2 has two files; a point lookup prunes to the right one
    assert len(snapshot_files(table, 2)) == 2
    assert len(snapshot_files(table, 2, points={"id": 3})) == 1
    assert len(snapshot_files(table, 2, points={"id": 105})) == 1
    v3 = restore_snapshot(table, 1)
    assert len(snapshot_files(table, v3, points={"id": 3})) == 1
    assert snapshot_files(table, v3, points={"id": 105}) == []


def test_publish_fallback_without_hardlinks(spark, tmp_path, monkeypatch):
    """On filesystems where os.link fails with a generic OSError, the
    publish falls back to O_CREAT|O_EXCL with the same exclusive-create
    guarantee: commits succeed, collisions still raise."""
    from etl_gcp_function_tmabrasil_spark.sinks import snapshot as snap

    def no_link(src, dst, **kw):
        raise OSError(38, "Function not implemented")

    monkeypatch.setattr(snap.os, "link", no_link)
    table = str(tmp_path / "t")
    assert commit_snapshot(spark.range(3), table) == 1
    assert _ids(spark, table) == [0, 1, 2]
    # collision under the fallback: plant v2, force a stale listing
    winner = dict(json.load(open(os.path.join(table, "manifest_v1.json"))))
    winner["version"] = 2
    with open(os.path.join(table, "manifest_v2.json"), "w") as fh:
        fh.write(json.dumps(winner))
    monkeypatch.setattr(snap, "_manifests", lambda d: [1])
    with pytest.raises(FileExistsError):
        commit_snapshot(spark.range(3, 6), table, mode="append")
    # no tmp or publish-copy residue either way (the r10-ADVICE
    # rename fallback stages the bytes in a second file)
    residue = [
        f
        for f in os.listdir(table)
        if f.endswith(".tmp") or f.endswith(".publish")
    ]
    assert residue == []
    # and the published manifest is COMPLETE json, not a short write
    json.load(open(os.path.join(table, "manifest_v1.json")))


def test_publish_fallback_crash_window_leaves_no_manifest(
    spark, tmp_path, monkeypatch
):
    """r11 ADVICE (medium): the old fallback O_EXCL-created the lock AT
    the manifest path, so a hard kill between the create and the rename
    left a zero-byte manifest_vN.json that poisoned reads and made every
    retry raise FileExistsError. Now the lock is a sidecar dotfile:
    a crash mid-publish leaves NO manifest at all, readers see the prior
    version, and a retry succeeds (stale-lock takeover)."""
    from etl_gcp_function_tmabrasil_spark.sinks import snapshot as snap

    monkeypatch.setattr(
        snap.os, "link", lambda *a, **k: (_ for _ in ()).throw(OSError(38, "no link"))
    )
    table = str(tmp_path / "t")
    assert commit_snapshot(spark.range(3), table) == 1

    # simulate SIGKILL between lock acquisition and the publish rename
    # (now renameat2-NOREPLACE): the rename never happens and nothing
    # after it runs (BaseException cleanup can't help a hard kill, so
    # also skip the lock unlink)
    real_publish_rename = snap._rename_noreplace

    def crash_rename(src, dst_):
        raise KeyboardInterrupt  # stand-in for the hard kill

    monkeypatch.setattr(snap, "_rename_noreplace", crash_rename)
    real_unlink = snap.os.unlink
    monkeypatch.setattr(snap.os, "unlink", lambda p: None)  # hard kill: no cleanup
    with pytest.raises(KeyboardInterrupt):
        commit_snapshot(spark.range(3, 6), table, mode="append")
    monkeypatch.setattr(snap, "_rename_noreplace", real_publish_rename)
    monkeypatch.setattr(snap.os, "unlink", real_unlink)

    # no manifest_v2 is visible — zero-byte or otherwise
    assert not os.path.exists(os.path.join(table, "manifest_v2.json"))
    assert snap._manifests(table) == [1]
    assert _ids(spark, table) == [0, 1, 2]  # reads still healthy

    # the leftover sidecar lock exists; age it past the stale window and
    # the retry takes it over and commits cleanly
    lock = os.path.join(table, ".manifest_v2.json.lock")
    assert os.path.exists(lock)
    old = snap.time.time() - 2 * snap._LOCK_STALE_S
    os.utime(lock, (old, old))
    assert commit_snapshot(spark.range(3, 6), table, mode="append") == 2
    assert _ids(spark, table) == [0, 1, 2, 3, 4, 5]
    assert not os.path.exists(lock)


def test_publish_fallback_live_lock_blocks(spark, tmp_path, monkeypatch):
    """A FRESH sidecar lock (live contender mid-publish) makes a
    same-version commit fail fast with FileExistsError instead of
    racing the rename."""
    from etl_gcp_function_tmabrasil_spark.sinks import snapshot as snap

    monkeypatch.setattr(
        snap.os, "link", lambda *a, **k: (_ for _ in ()).throw(OSError(38, "no link"))
    )
    table = str(tmp_path / "t")
    assert commit_snapshot(spark.range(3), table) == 1
    lock = os.path.join(table, ".manifest_v2.json.lock")
    open(lock, "w").close()  # fresh mtime = live contender
    with pytest.raises(FileExistsError):
        commit_snapshot(spark.range(3, 6), table, mode="append")
    os.unlink(lock)
    assert commit_snapshot(spark.range(3, 6), table, mode="append") == 2


def test_publish_lock_steal_cannot_clobber(tmp_path, monkeypatch):
    """r12 verdict item 5: a committer frozen past _LOCK_STALE_S whose
    lock is stale-broken by a contender must NOT be able to clobber the
    contender's published manifest when it wakes. Two independent
    defenses, both exercised here: renameat2(RENAME_NOREPLACE) refuses
    the clobber atomically, and the lock-identity (inode) re-check that
    guards the plain-rename fallback detects the steal."""
    import json as _json
    import time as _time

    from etl_gcp_function_tmabrasil_spark.sinks import snapshot as snap

    table = tmp_path / "t"
    table.mkdir()
    dst = str(table / "manifest_v1.json")
    lock = str(table / ".manifest_v1.json.lock")

    # Committer A acquires the lock and stages its copy, then freezes
    # long enough that its heartbeat stops and the lock goes stale.
    token = snap._acquire_publish_lock(lock, dst)
    copy_a = str(table / "a.tmp.publish")
    with open(copy_a, "w") as fh:
        fh.write('{"who": "A"}')
    old = _time.time() - 2 * snap._LOCK_STALE_S
    os.utime(lock, (old, old))

    # Committer B sees the stale lock, steals it, and publishes its
    # manifest through the full fallback path (os.link disabled).
    monkeypatch.setattr(
        snap.os,
        "link",
        lambda *a, **k: (_ for _ in ()).throw(OSError(38, "no link")),
    )
    tmp_b = str(table / "b.tmp")
    with open(tmp_b, "w") as fh:
        fh.write('{"who": "B"}')
    snap._publish_manifest(tmp_b, dst)
    assert _json.load(open(dst))["who"] == "B"

    # A wakes and tries to finish its publish.
    # Defense 1 — the atomic path refuses to replace B's manifest:
    with pytest.raises(FileExistsError):
        snap._rename_noreplace(copy_a, dst)
    # Defense 2 — the fallback's identity re-check detects the steal
    # (B's takeover replaced A's lock inode, and B then removed it):
    assert not snap._lock_identity_intact(lock, token)
    # B's manifest is intact either way.
    assert _json.load(open(dst))["who"] == "B"


def test_publish_heartbeat_keeps_live_lock_fresh(tmp_path, monkeypatch):
    """A live committer's copy loop heartbeats the lock mtime, so a
    slow-but-alive publish can never age past _LOCK_STALE_S and be
    stolen mid-copy (r12 ADVICE)."""
    from etl_gcp_function_tmabrasil_spark.sinks import snapshot as snap

    table = tmp_path / "t"
    table.mkdir()
    dst = str(table / "manifest_v1.json")
    lock = str(table / ".manifest_v1.json.lock")
    monkeypatch.setattr(
        snap.os,
        "link",
        lambda *a, **k: (_ for _ in ()).throw(OSError(38, "no link")),
    )
    touched = []
    real_utime = os.utime
    monkeypatch.setattr(
        snap.os, "utime", lambda p, *a, **k: (touched.append(p), real_utime(p, *a, **k))
    )
    tmp = str(table / "m.tmp")
    with open(tmp, "w") as fh:
        fh.write('{"who": "live"}')
    snap._publish_manifest(tmp, dst)
    assert lock in touched, "copy loop must refresh the lock mtime"


def test_manifests_skip_zero_byte(spark, tmp_path):
    """Defense in depth: a torn zero-byte manifest (pre-fix residue or
    exotic filesystem) is invisible to _manifests rather than breaking
    every read with a JSON decode error."""
    from etl_gcp_function_tmabrasil_spark.sinks import snapshot as snap

    table = str(tmp_path / "t")
    commit_snapshot(spark.range(3), table)
    open(os.path.join(table, "manifest_v2.json"), "w").close()
    assert snap._manifests(table) == [1]
    assert _ids(spark, table) == [0, 1, 2]


def test_shallow_clone_zero_copy_divergence_and_vacuum_guard(
    spark, tmp_path
):
    """SHALLOW CLONE: metadata-only (no data bytes copied), reads equal
    the source version, divergence is one-way, stats metadata carries
    over re-keyed, and vacuuming the clone can never delete through a
    `..` reference into the source."""
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        _load_manifest,
        clone_snapshot,
        delete_where,
        read_snapshot,
        snapshot_files,
        vacuum_snapshots,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    commit_snapshot(
        spark.range(100).selectExpr("id").repartitionByRange(4, "id"),
        src,
        stats_cols=["id"],
    )
    info = clone_snapshot(src, dst)
    assert info["cloned_from"]["version"] == 1
    assert os.listdir(os.path.join(dst, "data")) == []  # zero bytes
    assert _ids(spark, dst) == list(range(100))
    # stats carried over re-keyed -> pruning works on the clone
    assert len(snapshot_files(dst, 1, prune={"id": (0, 10)})) < 4
    # provenance recorded
    assert _load_manifest(dst, 1)["cloned_from"]["version"] == 1
    # a second clone into the same dir refuses
    with pytest.raises(FileExistsError):
        clone_snapshot(src, dst)
    # copy-on-write divergence: delete on the CLONE rewrites into the
    # clone's own data dir; source unchanged
    delete_where(spark, dst, "id < 50")
    assert _ids(spark, dst) == list(range(50, 100))
    assert _ids(spark, src) == list(range(100))
    src_files = set()
    for root, _, fs in os.walk(os.path.join(src, "data")):
        src_files.update(os.path.join(root, f) for f in fs)
    # vacuum the clone down to the rewritten version: v1's dropped
    # refs are ../src files — the root guard must skip every one
    stats = vacuum_snapshots(dst, retain_last=1)
    assert stats["expired_versions"] == [1]
    assert all(not f.startswith("..") for f in stats["deleted_files"])
    for f in src_files:
        assert os.path.exists(f), f"vacuum deleted source file {f}"
    assert _ids(spark, src) == list(range(100))


def test_temporal_prune_bounds_normalize(spark, tmp_path):
    """Date/timestamp stats serialize to ISO strings in the manifest;
    prune bounds given as datetime.date objects normalize through the
    same rendering (round-9 ADVICE) — and a bound that still cannot
    compare raises a ValueError, not a bare TypeError."""
    import datetime

    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        snapshot_files,
    )

    table = str(tmp_path / "t")
    df = spark.range(60).selectExpr(
        "id", "DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS d"
    )
    commit_snapshot(
        df.repartitionByRange(3, "d"), table, stats_cols=["d", "id"]
    )
    total = snapshot_files(table)
    assert len(total) == 3
    lo, hi = datetime.date(2024, 1, 5), datetime.date(2024, 1, 10)
    kept_date = snapshot_files(table, prune={"d": (lo, hi)})
    kept_iso = snapshot_files(table, prune={"d": ("2024-01-05", "2024-01-10")})
    assert kept_date == kept_iso
    assert 1 <= len(kept_date) < len(total)
    # open-ended bounds normalize too
    assert snapshot_files(table, prune={"d": (None, lo)}) == snapshot_files(
        table, prune={"d": (None, "2024-01-05")}
    )
    with pytest.raises(ValueError, match="prune bound"):
        snapshot_files(table, prune={"id": ("5", "10")})


def test_timestamp_time_travel_resolution(spark, tmp_path):
    """as_of resolves newest-at-or-before; pre-commit-ts manifests
    (legacy tables) stay always-eligible; version and as_of are
    mutually exclusive."""
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        resolve_version_at,
    )

    table = str(tmp_path / "t")
    commit_snapshot(spark.range(3), table, commit_ts=100.0)
    commit_snapshot(
        spark.range(3, 6), table, mode="append", commit_ts=200.0
    )
    assert resolve_version_at(table, 150.0) == 1
    assert resolve_version_at(table, 200.0) == 2
    assert _ids(spark, table) != _ids(spark, table, version=1)
    assert sorted(
        r.id for r in read_snapshot(spark, table, as_of=150.0).collect()
    ) == [0, 1, 2]
    with pytest.raises(FileNotFoundError):
        resolve_version_at(table, 50.0)
    with pytest.raises(ValueError, match="not both"):
        read_snapshot(spark, table, version=1, as_of=150.0)
    # legacy manifest without commit_ts: always eligible (sorts -inf)
    m = json.load(open(os.path.join(table, "manifest_v1.json")))
    del m["commit_ts"]
    with open(os.path.join(table, "manifest_v1.json"), "w") as fh:
        json.dump(m, fh)
    assert resolve_version_at(table, 50.0) == 1
    # a restore is a commit with its own instant
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        restore_snapshot,
    )

    v3 = restore_snapshot(table, 1, commit_ts=300.0)
    assert resolve_version_at(table, 300.0) == v3
    assert resolve_version_at(table, 250.0) == 2


def test_merge_schema_evolution_protocol(spark, tmp_path):
    """merge_schema adds nullable columns (union schema, old order
    first), tolerates missing columns on later appends (null-filled),
    rejects type changes, and keeps every OLD version reading under
    its own recorded schema."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "t")
    commit_snapshot(spark.range(3).selectExpr("id"), table)
    commit_snapshot(
        spark.range(3, 6).selectExpr("id", "id * 2 AS v"),
        table,
        mode="append",
        merge_schema=True,
    )
    cur = read_snapshot(spark, table)
    assert [f.name for f in cur.schema.fields] == ["id", "v"]
    rows = {r.id: r.v for r in cur.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: 6, 4: 8, 5: 10}
    # v1 still reads under its own one-column schema
    assert read_snapshot(spark, table, version=1).columns == ["id"]
    # missing column on append: fine under merge, null-filled
    commit_snapshot(
        spark.range(6, 8).selectExpr("id"),
        table,
        mode="append",
        merge_schema=True,
    )
    assert read_snapshot(spark, table).filter(
        F.col("id") >= 6
    ).select("v").distinct().collect()[0][0] is None
    # type change rejected even with merge
    with pytest.raises(ValueError, match="type changes"):
        commit_snapshot(
            spark.range(8, 9).selectExpr("id", "CAST(id AS STRING) AS v"),
            table,
            mode="append",
            merge_schema=True,
        )


def test_fsck_ok_after_merge_schema_appends_in_another_column_order(
    spark, tmp_path
):
    """A merge_schema append may carry the table's columns in another
    order (or with a new column first). The commit digests each file
    under the declared schema, the same way fsck re-derives it, so
    every file of the tracked table stays `ok` — xxhash64 depends on
    column order, and a digest of the frame's order reads `corrupt`."""
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        fsck_snapshot,
        snapshot_files,
    )

    table = str(tmp_path / "t")
    commit_snapshot(
        spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string"),
        table, integrity=True,
    )
    commit_snapshot(
        spark.createDataFrame([("z", 3)], "b string, a long"),
        table, merge_schema=True,
    )
    commit_snapshot(
        spark.createDataFrame([(9.5, 4, "w")], "c double, a long, b string"),
        table, merge_schema=True,
    )
    got = sorted(tuple(r) for r in read_snapshot(spark, table).collect())
    assert got == [
        (1, "x", None), (2, "y", None), (3, "z", None), (4, "w", 9.5)
    ]
    report = fsck_snapshot(spark, table)
    assert {r["status"] for r in report} == {"ok"}, report
    assert len(report) == len(snapshot_files(table))


def test_ndv_sketch_merge_is_lossless_and_tracks_lifecycle(spark, tmp_path):
    """Per-file k-min union must equal the global sketch (exact counts
    below K), survive appends/vacuum/restore, and raise loudly for
    unsketched columns."""
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        restore_snapshot,
        snapshot_ndv,
        vacuum_snapshots,
    )

    table = str(tmp_path / "t")
    commit_snapshot(
        spark.range(50).selectExpr("id", "id % 7 AS g").repartition(4),
        table,
        ndv_cols=["id", "g"],
    )
    assert snapshot_ndv(table, "id") == 50  # below K -> exact
    assert snapshot_ndv(table, "g") == 7
    commit_snapshot(
        spark.range(25, 80).selectExpr("id", "id % 7 AS g").repartition(3),
        table,
        mode="append",
    )
    assert snapshot_ndv(table, "id") == 80  # overlap dedupes via hashes
    assert snapshot_ndv(table, "id", version=1) == 50  # time travel
    with pytest.raises(KeyError, match="no NDV sketch"):
        snapshot_ndv(table, "value")
    v3 = restore_snapshot(table, 1)
    assert snapshot_ndv(table, "id", version=v3) == 50
    vacuum_snapshots(table, retain_last=1)
    assert snapshot_ndv(table, "id") == 50  # v3 content survives vacuum


def test_delete_where_copy_on_write(spark, tmp_path):
    """DELETE rewrites only files containing matches, keeps
    NULL-predicate rows, leaves old versions readable, and is
    txn-idempotent."""
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        _load_manifest,
        delete_where,
        read_snapshot,
    )

    table = str(tmp_path / "t")
    df = spark.range(100).selectExpr(
        "id", "CASE WHEN id % 10 = 0 THEN NULL ELSE id % 4 END AS g"
    )
    commit_snapshot(
        df.repartitionByRange(4, "id"), table, stats_cols=["id"]
    )
    res = delete_where(
        spark,
        table,
        "id >= 25 AND id < 50 AND g IS NOT NULL",
        prune={"id": (25, 49)},
    )
    # ids 30, 40 have NULL g -> predicate NULL -> kept per SQL DELETE
    assert res["rows_deleted"] == 25 - 2
    assert 0 < res["files_rewritten"] < 4
    m1, m2 = _load_manifest(table, 1), _load_manifest(table, 2)
    assert len(set(m1["files"]) & set(m2["files"])) == (
        len(m1["files"]) - res["files_rewritten"]
    )
    ids = {r.id for r in read_snapshot(spark, table).collect()}
    assert 30 in ids and 40 in ids and 31 not in ids and 24 in ids
    assert read_snapshot(spark, table, version=1).count() == 100
    # carried-forward stats still prune on the new version
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        snapshot_files,
    )

    assert len(snapshot_files(table, 2, prune={"id": (90, 95)})) < len(
        m2["files"]
    )
    # txn idempotency: a replayed delete is a no-op returning the
    # recorded version
    v = delete_where(spark, table, "id = 99", txn_id="b7")["version"]
    again = delete_where(spark, table, "id = 98", txn_id="b7")
    assert again["version"] == v and again["rows_deleted"] == 0
    assert 98 in {r.id for r in read_snapshot(spark, table).collect()}


def test_delete_where_verify_prune_catches_bad_bound(spark, tmp_path):
    """r11 ADVICE: prune/points are caller-asserted — a bound NOT
    implied by the condition silently skips files with matching rows.
    files_pruned makes the skip auditable; verify_prune=True scans the
    pruned-out files and refuses to commit the incomplete delete."""
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        delete_where,
        read_snapshot,
    )

    table = str(tmp_path / "t")
    commit_snapshot(
        spark.range(100).selectExpr("id").repartitionByRange(4, "id"),
        table,
        stats_cols=["id"],
    )
    # the condition matches ids 10..59, but the bound asserts 10..24 —
    # files holding 25..59 are wrongly pruned out
    bad = dict(condition="id >= 10 AND id < 60", prune={"id": (10, 24)})
    with pytest.raises(ValueError, match="NOT implied"):
        delete_where(
            spark, table, bad["condition"], prune=bad["prune"],
            verify_prune=True,
        )
    # nothing committed: the table is untouched at v1
    assert read_snapshot(spark, table).count() == 100
    # without verify_prune the incomplete delete commits, but the
    # returned files_pruned makes the asserted skip auditable
    res = delete_where(
        spark, table, bad["condition"], prune=bad["prune"]
    )
    assert res["files_pruned"] > 0
    assert read_snapshot(spark, table).count() > 40  # incomplete, by design
    # a CORRECT bound passes verification and deletes exactly the rest
    res2 = delete_where(
        spark, table, "id >= 10 AND id < 60", prune={"id": (10, 59)},
        verify_prune=True,
    )
    ids = {r.id for r in read_snapshot(spark, table).collect()}
    assert ids == set(range(10)) | set(range(60, 100))
    assert res2["files_pruned"] >= 0


def test_replace_where_scoped_backfill(spark, tmp_path):
    """REPLACE WHERE deletes the predicate's rows and inserts the new
    frame in ONE version; out-of-scope inserts are rejected; schema
    drift is rejected."""
    import pytest as _pt

    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        read_snapshot,
        replace_where,
    )

    table = str(tmp_path / "t")
    df = spark.range(60).selectExpr("id", "id % 3 AS g")
    commit_snapshot(df.repartition(3, "g"), table)
    fresh = spark.range(200, 206).selectExpr("id", "CAST(1 AS BIGINT) AS g")
    res = replace_where(spark, fresh, table, "g = 1")
    assert res["version"] == 2 and res["rows_deleted"] == 20
    got = sorted(
        r.id for r in read_snapshot(spark, table).filter("g = 1").collect()
    )
    assert got == [200, 201, 202, 203, 204, 205]
    assert read_snapshot(spark, table).count() == 40 + 6
    assert read_snapshot(spark, table, version=1).count() == 60
    with _pt.raises(ValueError, match="do NOT match"):
        replace_where(
            spark,
            spark.range(2).selectExpr("id", "CAST(2 AS BIGINT) AS g"),
            table,
            "g = 1",
        )
    with _pt.raises(ValueError, match="schema drift"):
        replace_where(
            spark,
            spark.range(2).selectExpr("id", "CAST(1 AS INT) AS g"),
            table,
            "g = 1",
        )


def test_ndv_mixed_history_partial_estimate(spark, tmp_path):
    """Enabling ndv_cols on a PRE-EXISTING table leaves the early
    files unsketched forever (appends carry them forward). Default
    raises loudly; allow_partial returns a coverage-flagged estimate
    over the sketched files instead (round-10 ADVICE)."""
    from etl_gcp_function_tmabrasil_spark.sinks.snapshot import (
        snapshot_ndv,
    )

    table = str(tmp_path / "t")
    commit_snapshot(spark.range(40).repartition(2), table)  # no sketch
    commit_snapshot(
        spark.range(40, 70).repartition(2),
        table,
        mode="append",
        ndv_cols=["id"],
    )
    with pytest.raises(KeyError, match="allow_partial"):
        snapshot_ndv(table, "id")
    est, coverage = snapshot_ndv(table, "id", allow_partial=True)
    assert est == 30  # only the sketched files' distincts
    assert coverage == pytest.approx(0.5)
    # full-coverage table: partial mode degrades to (exact, 1.0)
    full = str(tmp_path / "full")
    commit_snapshot(spark.range(9), full, ndv_cols=["id"])
    assert snapshot_ndv(full, "id", allow_partial=True) == (9, 1.0)
    # zero sketched files still raises even in partial mode
    with pytest.raises(KeyError, match="ANY file"):
        snapshot_ndv(table, "id", version=1, allow_partial=True)


def test_wap_gate_publishes_a_good_batch_holding_null_event_types(
    spark, tmp_path
):
    """The write-audit-publish gate plants its bad rows on a value the
    input cannot hold (a NULL event_id) and audits that value, so an
    input whose event_type has NULL cells still promotes its good
    batch, and the gate matches its oracle, which groups the NULL type
    like any other."""
    import duckdb

    from etl_gcp_function_tmabrasil_spark.queries.sources_gate import (
        ORACLE,
        sink_snapshot_wap,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_check import compare

    sf = tmp_path / "sf_null_event_type"
    sf.mkdir()
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * REPLACE (CASE WHEN event_id % 7 = 0 THEN NULL "
        f"ELSE event_type END AS event_type) FROM '{SF_SMOKE}/events.parquet')"
        f" TO '{sf}/events.parquet' (FORMAT parquet)"
    )
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    nulls = con.execute(
        "SELECT count(*) FROM events WHERE event_type IS NULL "
        "AND event_id % 3 = 1"
    ).fetchone()[0]
    assert nulls > 0  # the good batch holds NULL event types
    oracle = con.execute(ORACLE["sink_snapshot_wap"]).fetchdf()
    got = sink_snapshot_wap(spark, str(sf))
    assert compare(got, oracle, "sink_snapshot_wap") == []
