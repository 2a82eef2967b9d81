"""The reference's complete intended pipeline, end-to-end: xlsx files
land in a bucket dir, CloudEvents land in a landing dir, the streaming
ETL ingests exactly the accepted objects and loads them into the
BigQuery-shaped sink (parquet fallback locally)."""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow.parquet as pq

from etl_gcp_function_tmabrasil_spark.catalog import load_table
from etl_gcp_function_tmabrasil_spark.sinks.bigquery import BigQuerySink
from etl_gcp_function_tmabrasil_spark.sources.xlsx import write_minimal_xlsx
from etl_gcp_function_tmabrasil_spark.streaming.pipeline import run_xlsx_etl_pipeline
from tests.conftest import SF_SMOKE

COLS = ["event_id", "user_id", "event_type", "value"]
DDL = "event_id long, user_id long, event_type string, value double"


def _assert_no_empty_part(sink, *tables):
    """Every parquet file of each table holds rows, except a lone 0-row
    file that keeps an otherwise empty table's schema."""
    for t in tables:
        parts = Path(sink.warehouse_dir, *t.split(".")).rglob("*.parquet")
        rows = [pq.read_metadata(f).num_rows for f in parts]
        assert all(rows) or rows == [0], (t, rows)


def test_xlsx_etl_to_sink(spark, tmp_path):
    bucket = tmp_path / "bucket"
    (bucket / "minha-pasta").mkdir(parents=True)
    landing = tmp_path / "landing"
    landing.mkdir()
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select(*COLS)
        .orderBy("event_id")
        .limit(60)
        .collect()
    )
    # two accepted workbooks + one decoy outside the prefix
    write_minimal_xlsx(
        str(bucket / "minha-pasta" / "a.xlsx"),
        COLS,
        [[r.event_id, r.user_id, r.event_type, r.value] for r in ev[:30]],
    )
    write_minimal_xlsx(
        str(bucket / "minha-pasta" / "b.xlsx"),
        COLS,
        [[r.event_id, r.user_id, r.event_type, r.value] for r in ev[30:]],
    )
    write_minimal_xlsx(
        str(bucket / "decoy.xlsx"), COLS, [[999999, 1, "bad", 1.0]]
    )
    events = [
        {"bucket": "bucket", "name": "minha-pasta/a.xlsx", "size": 1, "ts": "2024-01-01T00:00:00Z"},
        {"bucket": "bucket", "name": "minha-pasta/b.xlsx", "size": 1, "ts": "2024-01-01T00:01:00Z"},
        {"bucket": "bucket", "name": "decoy.xlsx", "size": 1, "ts": "2024-01-01T00:02:00Z"},
        {"bucket": "bucket", "name": None, "size": 1, "ts": "2024-01-01T00:03:00Z"},
    ]
    with open(landing / "ev.json", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")

    sink = BigQuerySink(warehouse_dir=str(tmp_path / "warehouse"))
    q = run_xlsx_etl_pipeline(
        spark, str(landing), str(bucket), sink, "analytics.events_ingested", COLS, DDL
    )
    q.awaitTermination(120)

    loaded = sink.read(spark, "analytics.events_ingested")
    got = {r.event_id: (r.user_id, r.event_type, r.value) for r in loaded.collect()}
    want = {r.event_id: (r.user_id, r.event_type, r.value) for r in ev}
    assert got == want, "sink content != accepted workbook rows"
    assert 999999 not in got, "decoy outside minha-pasta/ was ingested"
    assert dict(loaded.dtypes)["value"] == "double"


def test_xlsx_etl_many_landing_files_batched(spark, tmp_path):
    """A few hundred single-event landing files under a small
    maxFilesPerTrigger: multiple micro-batches, each ingesting only its
    admitted slice, exactly-once overall."""
    n_files = 300
    bucket = tmp_path / "bucket"
    (bucket / "minha-pasta").mkdir(parents=True)
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(n_files):
        write_minimal_xlsx(
            str(bucket / "minha-pasta" / f"f{i:04d}.xlsx"),
            COLS,
            [[i, i % 7, "click", float(i)]],
        )
        with open(landing / f"ev{i:04d}.json", "w") as f:
            f.write(
                json.dumps(
                    {
                        "bucket": "bucket",
                        "name": f"minha-pasta/f{i:04d}.xlsx",
                        "size": 1,
                        "ts": "2024-01-01T00:00:00Z",
                    }
                )
                + "\n"
            )

    sink = BigQuerySink(warehouse_dir=str(tmp_path / "warehouse"))
    q = run_xlsx_etl_pipeline(
        spark,
        str(landing),
        str(bucket),
        sink,
        "analytics.events_many",
        COLS,
        DDL,
        max_files_per_trigger=64,
    )
    q.awaitTermination(300)

    loaded = sink.read(spark, "analytics.events_many")
    got = sorted(r.event_id for r in loaded.collect())
    assert got == list(range(n_files)), "not exactly-once across micro-batches"


def test_curation_observation_metrics_match_aggregates(spark):
    """Observation metrics ride the materializing job itself; they must
    equal independently computed aggregates of the output."""
    from etl_gcp_function_tmabrasil_spark.pipelines.traindata import (
        curated_documents_observed,
    )

    kept, obs = curated_documents_observed(spark, SF_SMOKE)
    rows = kept.collect()
    m = obs.get
    assert m["kept_docs"] == len(rows)
    assert m["kept_chars"] == sum(r.n_chars for r in rows)
    assert m["max_group"] == max(r.group_size for r in rows)


def test_xlsx_etl_redelivery_is_idempotent(spark, tmp_path):
    # Eventarc is at-least-once: the same object-finalize event lands
    # twice within one batch AND again in a later run — the workbook's
    # rows must appear in the sink exactly once
    bucket = tmp_path / "bucket"
    (bucket / "minha-pasta").mkdir(parents=True)
    landing = tmp_path / "landing"
    landing.mkdir()
    write_minimal_xlsx(
        str(bucket / "minha-pasta" / "a.xlsx"),
        COLS,
        [[1, 10, "click", 1.5], [2, 20, "view", 2.5]],
    )
    dup = {"bucket": "bucket", "name": "minha-pasta/a.xlsx", "size": 1,
           "ts": "2024-01-01T00:00:00Z"}
    with open(landing / "ev.json", "w") as f:
        f.write(json.dumps(dup) + "\n")
        f.write(json.dumps(dup) + "\n")  # duplicate within the batch

    sink = BigQuerySink(warehouse_dir=str(tmp_path / "warehouse"))
    run_xlsx_etl_pipeline(
        spark, str(landing), str(bucket), sink, "analytics.redelivered", COLS, DDL
    ).awaitTermination(120)
    # redelivery in a later micro-batch (new landing file, same event)
    with open(landing / "ev2.json", "w") as f:
        f.write(json.dumps(dup) + "\n")
    run_xlsx_etl_pipeline(
        spark, str(landing), str(bucket), sink, "analytics.redelivered", COLS, DDL
    ).awaitTermination(120)

    rows = sink.read(spark, "analytics.redelivered").collect()
    assert sorted(r.event_id for r in rows) == [1, 2], (
        f"redelivered workbook ingested more than once: {len(rows)} rows"
    )


def test_xlsx_etl_rejects_path_traversal(spark, tmp_path):
    # a crafted name that passes the prefix/suffix accept predicate but
    # walks out of data_root must fail loudly, not read foreign files
    bucket = tmp_path / "bucket"
    (bucket / "minha-pasta").mkdir(parents=True)
    outside = tmp_path / "outside"
    outside.mkdir()
    write_minimal_xlsx(str(outside / "secret.xlsx"), COLS, [[7, 7, "x", 7.0]])
    landing = tmp_path / "landing"
    landing.mkdir()
    evil = {"bucket": "bucket", "name": "minha-pasta/../../outside/secret.xlsx",
            "size": 1, "ts": "2024-01-01T00:00:00Z"}
    with open(landing / "ev.json", "w") as f:
        f.write(json.dumps(evil) + "\n")

    sink = BigQuerySink(warehouse_dir=str(tmp_path / "warehouse"))
    q = run_xlsx_etl_pipeline(
        spark, str(landing), str(bucket), sink, "analytics.traversal", COLS, DDL
    )
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="escapes data_root"):
        q.awaitTermination(120)


def test_xlsx_etl_reupload_with_new_ts_is_ingested(spark, tmp_path):
    # a re-UPLOAD emits a new finalize event (same name, new ts): its
    # rows must be appended — only same-(name, ts) redeliveries dedup
    bucket = tmp_path / "bucket"
    (bucket / "minha-pasta").mkdir(parents=True)
    landing = tmp_path / "landing"
    landing.mkdir()
    write_minimal_xlsx(
        str(bucket / "minha-pasta" / "a.xlsx"), COLS, [[1, 10, "click", 1.5]]
    )
    ev1 = {"bucket": "bucket", "name": "minha-pasta/a.xlsx", "size": 1,
           "ts": "2024-01-01T00:00:00Z"}
    with open(landing / "ev.json", "w") as f:
        f.write(json.dumps(ev1) + "\n")
    sink = BigQuerySink(warehouse_dir=str(tmp_path / "warehouse"))
    run_xlsx_etl_pipeline(
        spark, str(landing), str(bucket), sink, "analytics.reupload", COLS, DDL
    ).awaitTermination(120)

    # re-upload: replace the object, new finalize event with a later ts
    write_minimal_xlsx(
        str(bucket / "minha-pasta" / "a.xlsx"), COLS, [[2, 20, "view", 2.5]]
    )
    ev2 = dict(ev1, ts="2024-01-01T01:00:00Z")
    with open(landing / "ev2.json", "w") as f:
        f.write(json.dumps(ev2) + "\n")
    run_xlsx_etl_pipeline(
        spark, str(landing), str(bucket), sink, "analytics.reupload", COLS, DDL
    ).awaitTermination(120)

    rows = sink.read(spark, "analytics.reupload").collect()
    assert sorted(r.event_id for r in rows) == [1, 2], (
        "re-uploaded object's new finalize event was not ingested"
    )


def test_xlsx_etl_poisoned_object_does_not_wedge_the_stream(spark, tmp_path):
    # one corrupt workbook + one deleted object in a batch with a
    # healthy one: the healthy object ingests, the bad ones land in
    # <table>_rejected with their event keys, and a redelivery of the
    # dead-lettered events is NOT reprocessed
    bucket = tmp_path / "bucket"
    (bucket / "minha-pasta").mkdir(parents=True)
    landing = tmp_path / "landing"
    landing.mkdir()
    write_minimal_xlsx(
        str(bucket / "minha-pasta" / "good.xlsx"), COLS, [[1, 10, "click", 1.5]]
    )
    (bucket / "minha-pasta" / "corrupt.xlsx").write_bytes(b"this is not a zip")
    evs = [
        {"bucket": "b", "name": "minha-pasta/good.xlsx", "size": 1,
         "ts": "2024-01-01T00:00:00Z"},
        {"bucket": "b", "name": "minha-pasta/corrupt.xlsx", "size": 1,
         "ts": "2024-01-01T00:01:00Z"},
        {"bucket": "b", "name": "minha-pasta/deleted.xlsx", "size": 1,
         "ts": "2024-01-01T00:02:00Z"},
    ]
    with open(landing / "ev.json", "w") as f:
        for e in evs:
            f.write(json.dumps(e) + "\n")

    sink = BigQuerySink(warehouse_dir=str(tmp_path / "warehouse"))
    run_xlsx_etl_pipeline(
        spark, str(landing), str(bucket), sink, "analytics.poison", COLS, DDL
    ).awaitTermination(120)

    rows = sink.read(spark, "analytics.poison").collect()
    assert sorted(r.event_id for r in rows) == [1], "healthy object missing"
    dead = {
        r._event_name: r._status
        for r in sink.read(spark, "analytics.poison_rejected").collect()
    }
    assert dead == {
        "minha-pasta/corrupt.xlsx": "error",
        "minha-pasta/deleted.xlsx": "missing",
    }

    # redeliver the dead-lettered events: probe must skip them (no new
    # rejected rows, no new data rows)
    with open(landing / "ev2.json", "w") as f:
        for e in evs[1:]:
            f.write(json.dumps(e) + "\n")
    run_xlsx_etl_pipeline(
        spark, str(landing), str(bucket), sink, "analytics.poison", COLS, DDL
    ).awaitTermination(120)
    assert sink.read(spark, "analytics.poison_rejected").count() == 2, (
        "dead-lettered events were reprocessed on redelivery"
    )
    assert sink.read(spark, "analytics.poison").count() == 1
    _assert_no_empty_part(sink, "analytics.poison", "analytics.poison_rejected")


def test_structured_bq_error_skips_non_http_wrapper_frames():
    """A wrapper frame exposing a non-HTTP getCode() (0 / connector-
    internal) must not stop the cause-chain walk — the structured 403
    deeper in the chain is the authoritative signal (ADVICE r6). The
    walker duck-types the Java exception, so plain Python fakes
    exercise it exactly."""
    from etl_gcp_function_tmabrasil_spark.sinks.bigquery import (
        _structured_bq_error,
    )

    class _Err:
        def __init__(self, reason):
            self._reason = reason

        def getReason(self):
            return self._reason

    class _JE:
        def __init__(self, code=None, reason=None, cause=None):
            self._code, self._reason, self._cause = code, reason, cause

        def getCode(self):
            if self._code is None:
                raise AttributeError("no code")
            return self._code

        def getError(self):
            return _Err(self._reason) if self._reason else None

        def getCause(self):
            return self._cause

    class _Exc(Exception):
        def __init__(self, je):
            self.java_exception = je

    # wrapper(code=0) → inner 403/accessDenied: must reach the inner frame
    inner = _JE(code=403, reason="accessDenied")
    wrapped = _Exc(_JE(code=0, cause=inner))
    assert _structured_bq_error(wrapped) == (403, "accessdenied")

    # recognized reason with a bogus code: reason wins, code suppressed
    only_reason = _Exc(_JE(code=-1, reason="notFound"))
    assert _structured_bq_error(only_reason) == (None, "notfound")

    # unrecognized reason + non-HTTP code all the way down → (None, None)
    noise = _Exc(_JE(code=7, reason="internalWrapper", cause=_JE(code=0)))
    assert _structured_bq_error(noise) == (None, None)

    # plain 404 frame still returns directly
    assert _structured_bq_error(_Exc(_JE(code=404, reason="notFound"))) == (
        404,
        "notfound",
    )


def _land_events(landing, name: str, evs: list[dict]) -> None:
    with open(landing / name, "w") as f:
        for e in evs:
            f.write(json.dumps(e) + "\n")


def test_xlsx_etl_drain_jobs_are_at_most_one_task_per_core(spark, tmp_path):
    """64 single-event landing files (above Spark's 32-path parallel
    listing threshold) drain with no job wider than the cores: the
    file source's listing of the batch runs one task per core, not one
    per landing file. The query's jobs run under its run id as job
    group; a job's width is the task count summed over its stages."""
    n_files = 64
    bucket = tmp_path / "bucket"
    (bucket / "minha-pasta").mkdir(parents=True)
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(n_files):
        write_minimal_xlsx(
            str(bucket / "minha-pasta" / f"f{i:03d}.xlsx"),
            COLS,
            [[i, i % 7, "click", float(i)]],
        )
        _land_events(landing, f"ev{i:03d}.json", [
            {"bucket": "bucket", "name": f"minha-pasta/f{i:03d}.xlsx",
             "size": 1, "ts": "2024-01-01T00:00:00Z"}
        ])

    sink = BigQuerySink(warehouse_dir=str(tmp_path / "warehouse"))
    q = run_xlsx_etl_pipeline(
        spark, str(landing), str(bucket), sink, "analytics.width", COLS, DDL
    )
    q.awaitTermination(300)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    widths = []
    for jid in tracker.getJobIdsForGroup(str(q.runId)):
        stages = (tracker.getStageInfo(s) for s in tracker.getJobInfo(jid).stageIds)
        widths.append(sum(s.numTasks for s in stages if s is not None))
    assert widths, "no jobs recorded under the query's run id"
    assert max(widths) <= sc.defaultParallelism, (
        f"a drain job is wider than the {sc.defaultParallelism} cores: {widths}"
    )
    got = sorted(r.event_id for r in sink.read(spark, "analytics.width").collect())
    assert got == list(range(n_files)), "not exactly-once"


def test_xlsx_etl_two_events_for_one_object_in_one_batch(spark, tmp_path):
    """Two finalize events (same name, distinct ts) for a healthy object
    and two for a missing object, all in ONE micro-batch: each event is
    processed once — the healthy object's rows land once per event
    under that event's `_event_ts`, the missing object dead-letters
    twice — and both tables keep their column layout."""
    bucket = tmp_path / "bucket"
    (bucket / "minha-pasta").mkdir(parents=True)
    landing = tmp_path / "landing"
    landing.mkdir()
    write_minimal_xlsx(
        str(bucket / "minha-pasta" / "a.xlsx"),
        COLS,
        [[1, 10, "click", 1.5], [2, 20, "view", 2.5]],
    )
    evs = [
        {"bucket": "b", "name": n, "size": 1, "ts": ts}
        for n in ("minha-pasta/a.xlsx", "minha-pasta/gone.xlsx")
        for ts in ("2024-01-01T00:00:00Z", "2024-01-01T01:00:00Z")
    ]
    _land_events(landing, "ev.json", evs)

    sink = BigQuerySink(warehouse_dir=str(tmp_path / "warehouse"))
    q = run_xlsx_etl_pipeline(
        spark, str(landing), str(bucket), sink, "analytics.twice", COLS, DDL
    )
    q.awaitTermination(120)
    assert sum(p["numInputRows"] for p in q.recentProgress) == 4
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"]] == [0]

    ts0, ts1 = "1704067200000000", "1704070800000000"  # epoch micros
    data = sink.read(spark, "analytics.twice")
    assert data.columns == ["_source_file", *COLS, "_event_name", "_event_ts"]
    got = sorted((r._event_ts, r.event_id, r._event_name) for r in data.collect())
    assert got == [
        (ts, i, "minha-pasta/a.xlsx") for ts in (ts0, ts1) for i in (1, 2)
    ]

    dead = sink.read(spark, "analytics.twice_rejected")
    assert dead.columns == [
        "_event_name", "_event_ts", "_status", "_error", "_source_file"
    ]
    got_dead = sorted(
        (r._event_name, r._event_ts, r._status) for r in dead.collect()
    )
    assert got_dead == [
        ("minha-pasta/gone.xlsx", ts0, "missing"),
        ("minha-pasta/gone.xlsx", ts1, "missing"),
    ]


def test_xlsx_etl_duplicate_header_dead_letters_without_wedging(spark, tmp_path):
    """An object whose header names a requested column twice gets one
    `_rejected` row ('error') and the healthy object of the same batch
    lands: the query ends without an exception instead of failing and
    replaying the batch forever."""
    bucket = tmp_path / "bucket"
    (bucket / "minha-pasta").mkdir(parents=True)
    landing = tmp_path / "landing"
    landing.mkdir()
    write_minimal_xlsx(
        str(bucket / "minha-pasta" / "good.xlsx"), COLS, [[1, 10, "click", 1.5]]
    )
    write_minimal_xlsx(
        str(bucket / "minha-pasta" / "dup.xlsx"),
        COLS + ["event_id"],
        [[2, 20, "view", 2.5, 3]],
    )
    _land_events(landing, "ev.json", [
        {"bucket": "b", "name": f"minha-pasta/{n}.xlsx", "size": 1,
         "ts": "2024-01-01T00:00:00Z"}
        for n in ("good", "dup")
    ])

    sink = BigQuerySink(warehouse_dir=str(tmp_path / "warehouse"))
    q = run_xlsx_etl_pipeline(
        spark, str(landing), str(bucket), sink, "analytics.duphdr", COLS, DDL
    )
    assert q.awaitTermination(120)
    assert q.exception() is None
    assert [r.event_id for r in sink.read(spark, "analytics.duphdr").collect()] == [1]
    dead = sink.read(spark, "analytics.duphdr_rejected").collect()
    assert [(r._event_name, r._status, r._error) for r in dead] == [
        ("minha-pasta/dup.xlsx", "error", "xlsx: duplicate header 'event_id'")
    ]


def test_xlsx_etl_ledger_key_frame_is_a_local_scan(spark, tmp_path, monkeypatch):
    """The ledger probes' key frame is shipped as Arrow: its executed
    plan is a LocalTableScan, which no Python worker evaluates."""
    from etl_gcp_function_tmabrasil_spark.streaming import pipeline

    frames = []
    original = pipeline.rows_frame

    def recording(*args, **kwargs):
        frames.append(original(*args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(pipeline, "rows_frame", recording)
    bucket = tmp_path / "bucket"
    (bucket / "minha-pasta").mkdir(parents=True)
    landing = tmp_path / "landing"
    landing.mkdir()
    write_minimal_xlsx(
        str(bucket / "minha-pasta" / "a.xlsx"), COLS, [[1, 10, "click", 1.5]]
    )
    _land_events(landing, "ev.json", [
        {"bucket": "b", "name": "minha-pasta/a.xlsx", "size": 1,
         "ts": "2024-01-01T00:00:00Z"}
    ])
    sink = BigQuerySink(warehouse_dir=str(tmp_path / "warehouse"))
    run_xlsx_etl_pipeline(
        spark, str(landing), str(bucket), sink, "analytics.evkeys", COLS, DDL
    ).awaitTermination(120)

    assert len(frames) == 1
    ev_df = frames[0]
    assert ev_df.columns == ["_event_name", "_event_ts"]
    assert ev_df.count() == 1
    plan = ev_df._jdf.queryExecution().executedPlan()
    assert plan.nodeName() == "LocalTableScan", plan.toString()


class _DeadLetterWriteCrashesOnce(BigQuerySink):
    """A sink whose first ``<table>_rejected`` write raises: a crash
    after the data write of the same micro-batch, before its commit."""

    crashed = False

    def write(self, df, table, mode="append", partition_by=None):
        if table.endswith("_rejected") and not self.crashed:
            self.crashed = True
            raise RuntimeError("crash before the dead-letter write")
        return super().write(df, table, mode, partition_by)


def test_xlsx_etl_crash_mid_batch_replays_exactly_once(spark, tmp_path):
    """The micro-batch crashes after its data write and before its
    dead-letter write; the run on the same checkpoint replays it. The
    ledger probe skips the events already in the data table, so every
    event lands exactly once, in exactly one of the data and
    ``_rejected`` tables."""
    import pytest
    from pyspark.errors import StreamingQueryException

    bucket = tmp_path / "bucket"
    (bucket / "minha-pasta").mkdir(parents=True)
    landing = tmp_path / "landing"
    landing.mkdir()
    write_minimal_xlsx(
        str(bucket / "minha-pasta" / "a.xlsx"),
        COLS,
        [[1, 10, "click", 1.5], [2, 20, "view", 2.5]],
    )
    write_minimal_xlsx(
        str(bucket / "minha-pasta" / "b.xlsx"), COLS, [[3, 30, "buy", 3.5]]
    )
    (bucket / "minha-pasta" / "corrupt.xlsx").write_bytes(b"not a zip")
    names = ["a.xlsx", "b.xlsx", "corrupt.xlsx", "gone.xlsx"]
    evs = [
        {"bucket": "b", "name": f"minha-pasta/{n}", "size": 1,
         "ts": f"2024-01-01T00:0{i}:00Z"}
        for i, n in enumerate(names)
    ]
    _land_events(landing, "ev.json", evs + evs[:1])  # a redelivery too

    sink = _DeadLetterWriteCrashesOnce(warehouse_dir=str(tmp_path / "warehouse"))
    table = "analytics.crashed"

    def run():
        return run_xlsx_etl_pipeline(
            spark, str(landing), str(bucket), sink, table, COLS, DDL
        )

    with pytest.raises(StreamingQueryException, match="dead-letter write"):
        run().awaitTermination(120)
    assert sink.crashed
    assert sink.read(spark, table).count() == 3  # landed before the crash
    assert not sink.exists(spark, f"{table}_rejected")

    assert run().awaitTermination(120)
    data = [
        (r._event_name, r.event_id) for r in sink.read(spark, table).collect()
    ]
    assert sorted(data) == [
        ("minha-pasta/a.xlsx", 1), ("minha-pasta/a.xlsx", 2),
        ("minha-pasta/b.xlsx", 3),
    ]
    dead = [
        (r._event_name, r._status)
        for r in sink.read(spark, f"{table}_rejected").collect()
    ]
    assert sorted(dead) == [
        ("minha-pasta/corrupt.xlsx", "error"),
        ("minha-pasta/gone.xlsx", "missing"),
    ]
    assert not {n for n, _ in data} & {n for n, _ in dead}
    _assert_no_empty_part(sink, table, f"{table}_rejected")


class _CountingSink(BigQuerySink):
    """Counts `read` calls and the AnalysisExceptions they raise."""

    def __init__(self, warehouse_dir):
        super().__init__(warehouse_dir=warehouse_dir)
        self.reads: list[str] = []
        self.read_errors: list[Exception] = []

    def read(self, spark, table):
        from pyspark.errors import AnalysisException

        self.reads.append(table)
        try:
            return super().read(spark, table)
        except AnalysisException as exc:
            self.read_errors.append(exc)
            raise


def _healthy_and_missing(tmp_path):
    """(bucket, landing, events): a healthy and a missing object, one
    event each, so a drain lands rows in the data and dead-letter
    tables."""
    bucket = tmp_path / "bucket"
    (bucket / "minha-pasta").mkdir(parents=True)
    landing = tmp_path / "landing"
    landing.mkdir()
    write_minimal_xlsx(
        str(bucket / "minha-pasta" / "a.xlsx"), COLS, [[1, 10, "click", 1.5]]
    )
    evs = [
        {"bucket": "b", "name": f"minha-pasta/{n}.xlsx", "size": 1,
         "ts": "2024-01-01T00:00:00Z"}
        for n in ("a", "gone")
    ]
    return bucket, landing, evs


def _drain_jobs(spark, q) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))


def test_xlsx_etl_ledger_probe_reads_only_existing_tables_in_one_job(
    spark, tmp_path
):
    """A drain on fresh tables asks the sink's `exists()` instead of
    reading: no `read` call, so no missing-table AnalysisException. A
    redelivery on the existing tables reads both and probes them with
    one union, one semi-join and one collect: 6 jobs under the query's
    run id (the accept collect, the two tables' footer reads and the
    probe's three AQE jobs), where one probe per table took 9."""
    bucket, landing, evs = _healthy_and_missing(tmp_path)
    _land_events(landing, "ev.json", evs)
    sink = _CountingSink(str(tmp_path / "warehouse"))
    table = "analytics.fresh"

    def drain():
        q = run_xlsx_etl_pipeline(
            spark, str(landing), str(bucket), sink, table, COLS, DDL
        )
        assert q.awaitTermination(120)
        return q

    drain()
    assert sink.reads == [] and sink.read_errors == []

    _land_events(landing, "ev2.json", evs)  # redelivery of both events
    q = drain()
    assert sorted(sink.reads) == [table, f"{table}_rejected"]
    assert sink.read_errors == []
    assert _drain_jobs(spark, q) <= 6
    assert [r.event_id for r in sink.read(spark, table).collect()] == [1]
    assert sink.read(spark, f"{table}_rejected").count() == 1


def _plant_part(dirp: Path, **cols) -> None:
    """Write a real 1-row parquet part file under `dirp`."""
    import pyarrow as pa

    dirp.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({k: [v] for k, v in cols.items()}), dirp / "part-00000.parquet"
    )


def test_parquet_sink_table_exists_only_with_a_part_file_spark_lists(
    spark, tmp_path
):
    """An empty table dir, and one whose only part file sits in the
    `_temporary` tree of an aborted write, are absent: `part_files`
    lists nothing and Spark's reader finds no file to infer a schema
    from. A lone 0-row schema file is a table, and a `_`-prefixed
    partition directory is listed, as by Spark's file index."""
    import pytest
    from pyspark.errors import AnalysisException

    from etl_gcp_function_tmabrasil_spark.sinks.parts import part_files

    wh = tmp_path / "warehouse"
    sink = BigQuerySink(warehouse_dir=str(wh))
    (wh / "analytics" / "empty").mkdir(parents=True)
    _plant_part(
        wh / "analytics" / "aborted" / "_temporary" / "0" / "task_x",
        _event_name="a", _event_ts="1",
    )
    for t in ("analytics.empty", "analytics.aborted"):
        assert part_files(str(wh / Path(*t.split(".")))) == set()
        assert not sink.exists(spark, t)
        with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
            sink.read(spark, t)

    sink.write(spark.createDataFrame([], "a long"), "analytics.schema_only")
    parts = part_files(str(wh / "analytics" / "schema_only"))
    assert [pq.read_metadata(f).num_rows for f in parts] == [0]
    assert sink.exists(spark, "analytics.schema_only")
    assert sink.read(spark, "analytics.schema_only").count() == 0

    _plant_part(wh / "analytics" / "by_day" / "_day=1", a=1)
    assert sink.exists(spark, "analytics.by_day")


def test_xlsx_etl_ledger_probe_treats_an_aborted_first_write_as_absent(
    spark, tmp_path
):
    """The data table planted as an empty dir and the dead-letter table
    as a `_temporary`-only tree, as aborted first writes leave them:
    the probe reads neither, every event lands once, and a later
    redelivery is deduplicated. The committed task file in the
    `_temporary` tree is discarded, not merged into the table by the
    next write's job commit."""
    bucket, landing, evs = _healthy_and_missing(tmp_path)
    _land_events(landing, "ev.json", evs)
    wh = tmp_path / "warehouse"
    (wh / "analytics" / "aborted").mkdir(parents=True)
    _plant_part(
        wh / "analytics" / "aborted_rejected" / "_temporary" / "0" / "task_x",
        _event_name="minha-pasta/planted.xlsx", _event_ts="1",
    )
    sink = _CountingSink(str(wh))
    table = "analytics.aborted"
    for name in ("ev2.json", None):
        assert run_xlsx_etl_pipeline(
            spark, str(landing), str(bucket), sink, table, COLS, DDL
        ).awaitTermination(120)
        if name:
            assert sink.reads == []
            _land_events(landing, name, evs)  # redelivery of both events
    assert sorted(sink.reads) == [table, f"{table}_rejected"]
    assert sink.read_errors == []
    data = sink.read(spark, table).collect()
    assert [(r._event_name, r.event_id) for r in data] == [("minha-pasta/a.xlsx", 1)]
    dead = sink.read(spark, f"{table}_rejected").collect()
    assert [r._event_name for r in dead] == ["minha-pasta/gone.xlsx"]


class _VanishingSink(BigQuerySink):
    """The first read of the dead-letter table deletes it right after
    the read resolved it: the table vanishes between `exists()` and the
    probe's collect."""

    vanished = False

    def read(self, spark, table):
        import shutil

        df = super().read(spark, table)
        if table.endswith("_rejected") and not self.vanished:
            self.vanished = True
            shutil.rmtree(Path(self.warehouse_dir, *table.split(".")))
        return df


def test_xlsx_etl_ledger_table_vanishing_mid_probe_fails_the_batch_unwritten(
    spark, tmp_path
):
    """A dead-letter table deleted from outside between `exists()` and
    the probe's collect fails the micro-batch before it writes
    anything. The restart on the same checkpoint replays the batch: the
    data table's keys still dedup, the deleted table's event lands
    again, and every event lands exactly once, in exactly one table."""
    import pytest
    from pyspark.errors import StreamingQueryException

    bucket, landing, evs = _healthy_and_missing(tmp_path)
    write_minimal_xlsx(
        str(bucket / "minha-pasta" / "b.xlsx"), COLS, [[2, 20, "view", 2.5]]
    )
    _land_events(landing, "ev.json", evs)
    table = "analytics.vanish"
    warehouse = str(tmp_path / "warehouse")

    def drain(sink):
        return run_xlsx_etl_pipeline(
            spark, str(landing), str(bucket), sink, table, COLS, DDL
        ).awaitTermination(120)

    sink = BigQuerySink(warehouse_dir=warehouse)
    assert drain(sink)
    new = {"bucket": "b", "name": "minha-pasta/b.xlsx", "size": 1,
           "ts": "2024-01-01T00:01:00Z"}
    _land_events(landing, "ev2.json", evs + [new])  # redelivery + a new event

    vanishing = _VanishingSink(warehouse_dir=warehouse)
    with pytest.raises(StreamingQueryException):
        drain(vanishing)
    assert vanishing.vanished
    assert [r.event_id for r in sink.read(spark, table).collect()] == [1]
    assert not sink.exists(spark, f"{table}_rejected")

    assert drain(sink)
    data = [(r._event_name, r.event_id) for r in sink.read(spark, table).collect()]
    assert sorted(data) == [("minha-pasta/a.xlsx", 1), ("minha-pasta/b.xlsx", 2)]
    dead = [r._event_name for r in sink.read(spark, f"{table}_rejected").collect()]
    assert dead == ["minha-pasta/gone.xlsx"]
    _assert_no_empty_part(sink, table, f"{table}_rejected")


def test_ledger_probe_has_one_missing_table_rule():
    """The sink's `exists()` is the probe's only missing-table rule:
    `_probe_event_keys` catches nothing, and the pipeline never reads
    an exception's condition to decide a table is absent."""
    import ast
    import inspect

    from etl_gcp_function_tmabrasil_spark.streaming import pipeline

    tree = ast.parse(inspect.getsource(pipeline))
    probe = next(
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "_probe_event_keys"
    )
    assert not [n for n in ast.walk(probe) if isinstance(n, (ast.Try, ast.TryStar))]
    calls = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "getCondition"
    ]
    assert calls == []


def test_xlsx_etl_looks_the_sink_route_up_once_per_spark_context(
    spark, tmp_path, monkeypatch
):
    """Two drains through two sink instances ask the JVM for the
    BigQuery connector class once; another SparkContext asks again."""
    import weakref

    from etl_gcp_function_tmabrasil_spark.sinks import bigquery

    lookups = []
    original = bigquery._load_connector

    def counting(session):
        lookups.append(session)
        return original(session)

    monkeypatch.setattr(bigquery, "_ROUTES", weakref.WeakKeyDictionary())
    monkeypatch.setattr(bigquery, "_load_connector", counting)
    bucket, landing, evs = _healthy_and_missing(tmp_path)
    _land_events(landing, "ev.json", evs)
    warehouse = str(tmp_path / "warehouse")
    for name in ("ev2.json", None):
        assert run_xlsx_etl_pipeline(
            spark, str(landing), str(bucket), BigQuerySink(warehouse_dir=warehouse),
            "analytics.route", COLS, DDL,
        ).awaitTermination(120)
        if name:
            _land_events(landing, name, evs)
    assert len(lookups) == 1

    class _Context:
        pass

    class _Session:
        def __init__(self):
            self.sparkContext = _Context()

    monkeypatch.setattr(bigquery, "_load_connector", lambda s: lookups.append(s) or False)
    other = _Session()
    sink = BigQuerySink(warehouse_dir=warehouse)
    assert not sink._connector_available(other)
    assert not sink._connector_available(other)
    assert lookups[1:] == [other]
