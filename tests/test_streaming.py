"""Streaming semantics tests: file-arrival landing pipeline (the
reference's trigger lifecycle), watermarked windows, stateful dedup, and
arbitrary state — invariant-checked against batch computation (no SQL
oracle exists for streaming state; SURVEY.md §5.2)."""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from etl_gcp_function_tmabrasil_spark.catalog import load_table
from etl_gcp_function_tmabrasil_spark.streaming.pipeline import run_landing_pipeline
from etl_gcp_function_tmabrasil_spark.streaming.windows import (
    click_purchase_attribution,
    session_counts,
    sliding_counts,
    stateful_dedup,
    tumbling_counts,
    user_running_totals,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def event_chunks_dir(tmp_path_factory):
    """events (sf0.001) split into 3 time-ordered parquet chunks so the
    watermark advances across micro-batches."""
    out = tmp_path_factory.mktemp("event_chunks")
    tbl = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    df = tbl.to_pandas().sort_values("ts").reset_index(drop=True)
    df["ts"] = df["ts"].astype("datetime64[us]")  # ns → µs for Spark
    n = len(df)
    for i in range(3):
        chunk = df.iloc[i * n // 3 : (i + 1) * n // 3]
        pq.write_table(pa.Table.from_pandas(chunk), out / f"chunk_{i}.parquet")
        time.sleep(0.05)  # distinct mtimes → deterministic file order
    return str(out)


def _events_stream(spark, chunks_dir):
    from etl_gcp_function_tmabrasil_spark.catalog import EVENTS_SCHEMA

    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks_dir)
    )


def _run_to_memory(df, name, output_mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_watermark_matches_batch(spark, event_chunks_dir):
    stream_df = tumbling_counts(_events_stream(spark, event_chunks_dir))
    _run_to_memory(stream_df, "tumbling_out", "append")
    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    # batch truth over the same data
    ev = spark.read.parquet(event_chunks_dir)
    batch = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
        .collect()
    }
    assert got, "append-mode stream emitted nothing (watermark never advanced)"
    # every emitted (finalized) window must exactly match batch truth
    for k, v in got.items():
        assert batch[k][0] == v[0] and abs(batch[k][1] - v[1]) < 1e-9, k
    # windows can only be missing from `got` if not yet finalized — i.e.
    # they end after (global max ts - watermark)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    for (start, etype), (n, _) in batch.items():
        if (max_ts - start).total_seconds() > 3600 * 12:  # comfortably old
            assert (start, etype) in got, f"old window missing: {start} {etype}"


def test_sliding_and_session_run(spark, event_chunks_dir):
    _run_to_memory(
        sliding_counts(_events_stream(spark, event_chunks_dir)), "sliding_out", "append"
    )
    n_sliding = spark.sql("SELECT count(*) FROM sliding_out").collect()[0][0]
    assert n_sliding > 0
    _run_to_memory(
        session_counts(_events_stream(spark, event_chunks_dir)), "session_out", "append"
    )
    n_sessions = spark.sql("SELECT count(*) FROM session_out").collect()[0][0]
    assert n_sessions > 0


def test_stateful_dedup_drops_redelivery(spark, tmp_path, event_chunks_dir):
    """Replay each chunk twice (Eventarc at-least-once) → every event_id
    must come out exactly once."""
    dup_dir = tmp_path / "dup_chunks"
    dup_dir.mkdir()
    chunks = sorted(os.listdir(event_chunks_dir))
    for i, c in enumerate(chunks):
        t = pq.read_table(os.path.join(event_chunks_dir, c))
        pq.write_table(t, dup_dir / f"chunk_{i}a.parquet")
        pq.write_table(t, dup_dir / f"chunk_{i}b.parquet")
        time.sleep(0.05)
    stream = stateful_dedup(_events_stream(spark, str(dup_dir)))
    _run_to_memory(stream, "dedup_out", "append")
    ids = [r.event_id for r in spark.sql("SELECT event_id FROM dedup_out").collect()]
    assert len(ids) == len(set(ids)), "duplicates survived stateful dedup"
    n_distinct_src = spark.read.parquet(str(dup_dir)).select("event_id").distinct().count()
    assert len(ids) == n_distinct_src


def test_user_running_totals_state(spark, event_chunks_dir):
    """Final state per user == batch count/sum over the whole stream."""
    stream = user_running_totals(_events_stream(spark, event_chunks_dir))
    _run_to_memory(stream, "running_out", "update")
    # update mode: last emitted row per user is the final state
    final = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
                 FROM running_out) WHERE rn = 1"""
        ).collect()
    }
    batch = {
        r.user_id: (r.n, r.s)
        for r in spark.read.parquet(event_chunks_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert final.keys() == batch.keys()
    for u in batch:
        assert final[u][0] == batch[u][0], u
        assert abs(final[u][1] - batch[u][1]) < 1e-6, u


def test_landing_pipeline_reference_semantics(spark, tmp_path):
    """End-to-end trigger→filter→route→sink run with the reference's
    accept/reject semantics (main.py:12-16), including null names."""
    landing = tmp_path / "landing"
    out = tmp_path / "out"
    landing.mkdir()
    rows = [
        {"bucket": "b", "name": "minha-pasta/a.xlsx", "size": 10, "ts": "2024-01-01T00:00:00Z"},
        {"bucket": "b", "name": "minha-pasta/sub/b.xlsx", "size": 20, "ts": "2024-01-01T00:01:00Z"},
        {"bucket": "b", "name": "minha-pasta/c.csv", "size": 30, "ts": "2024-01-01T00:02:00Z"},
        {"bucket": "b", "name": "outra/d.xlsx", "size": 40, "ts": "2024-01-01T00:03:00Z"},
        {"bucket": "b", "name": None, "size": 50, "ts": "2024-01-01T00:04:00Z"},
        {"bucket": None, "size": 60, "ts": "2024-01-01T00:05:00Z"},  # absent name
    ]
    with open(landing / "events.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    q = run_landing_pipeline(spark, str(landing), str(out))
    q.awaitTermination(120)
    accepted = spark.read.parquet(str(out / "accepted")).collect()
    rejected = spark.read.parquet(str(out / "rejected")).collect()
    assert sorted(r.name for r in accepted) == [
        "minha-pasta/a.xlsx",
        "minha-pasta/sub/b.xlsx",
    ]
    assert len(rejected) == 4
    logs = {r.log_line for r in accepted}
    assert "Novo XLSX: gs://b/minha-pasta/a.xlsx (size=10)" in logs
    rlogs = {r.log_line for r in rejected}
    assert "Ignorando objeto: outra/d.xlsx" in rlogs
    # redelivery: running the pipeline again over the same landing dir
    # with the same checkpoint must be a no-op (idempotent)
    q2 = run_landing_pipeline(spark, str(landing), str(out))
    q2.awaitTermination(120)
    assert spark.read.parquet(str(out / "accepted")).count() == 2


def test_console_logger_runs(spark, tmp_path):
    """The reference's accept-side log sink (main.py:16) as a streaming
    console sink: the availableNow run must drain the landing dir and
    terminate cleanly (output goes to executor stdout)."""
    from etl_gcp_function_tmabrasil_spark.streaming.pipeline import run_console_logger

    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "events.json", "w") as f:
        f.write(
            json.dumps(
                {"bucket": "b", "name": "minha-pasta/a.xlsx", "size": 10,
                 "ts": "2024-01-01T00:00:00Z"}
            )
            + "\n"
        )
    q = run_console_logger(spark, str(landing), str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert not q.isActive
    assert q.exception() is None


def test_rate_source_windowed_agg(spark):
    """The rate source (TESTDATA.md: events replayed as a file/rate
    stream): a synthetic-clock stream through the same windowed-agg
    transform, proving the operators are source-agnostic."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            F.col("value").alias("event_id"),
            (F.col("value") % 7).alias("user_id"),
            F.when(F.col("value") % 2 == 0, "click").otherwise("view").alias("event_type"),
            F.col("value").cast("double").alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    from etl_gcp_function_tmabrasil_spark.streaming.windows import tumbling_counts

    q = (
        tumbling_counts(stream, window="1 seconds", watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("rate_windows")
        .outputMode("append")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        rows = 0
        while time.time() < deadline:
            time.sleep(1)
            rows = spark.sql("SELECT count(*) FROM rate_windows").first()[0]
            if rows > 0:
                break
        assert rows > 0, "rate-source windowed agg emitted nothing in 60s"
    finally:
        q.stop()


def test_stream_stream_interval_join_matches_batch(spark, event_chunks_dir):
    """click→purchase attribution as a watermarked stream-stream
    interval join must emit exactly the batch interval-join answer when
    the backlog is replayed in order (inner join: watermarks govern
    state expiry, not result membership)."""
    from etl_gcp_function_tmabrasil_spark.streaming.windows import (
        click_purchase_attribution,
    )

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    stream = _events_stream(spark, event_chunks_dir)
    got_df = click_purchase_attribution(*split(stream))
    _run_to_memory(got_df, "attribution", "append")
    got = {
        (r.user_id, r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM attribution").collect()
    }

    batch = spark.read.schema(stream.schema).parquet(event_chunks_dir)
    want_df = click_purchase_attribution(*split(batch))
    want = {(r.user_id, r.purchase_id, r.click_id) for r in want_df.collect()}
    assert got == want, "streaming interval join diverged from batch"
    assert want, "fixture produced no attributed purchases — test is vacuous"


def test_stream_static_enrichment_matches_batch(spark, event_chunks_dir):
    """Stream-static broadcast enrichment must produce exactly the batch
    left-join answer over the replayed backlog, nulls included."""
    from etl_gcp_function_tmabrasil_spark.streaming.windows import (
        enrich_stream_with_customer,
    )

    customer = load_table(spark, SF_SMOKE, "customer")
    stream = _events_stream(spark, event_chunks_dir)
    _run_to_memory(
        enrich_stream_with_customer(stream, customer), "enriched", "append"
    )
    got = {
        (r.event_id, r.segment, r.bal_band)
        for r in spark.sql("SELECT event_id, segment, bal_band FROM enriched").collect()
    }
    batch = spark.read.schema(stream.schema).parquet(event_chunks_dir)
    want = {
        (r.event_id, r.segment, r.bal_band)
        for r in enrich_stream_with_customer(batch, customer).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_parquet_sink_exactly_once(spark, tmp_path, event_chunks_dir):
    """Native parquet streaming sink: checkpointed availableNow run
    lands every source row exactly once (the _spark_metadata
    transaction log makes the output atomic per batch); an immediate
    re-run with the same checkpoint and no new data is a no-op."""
    out = str(tmp_path / "out_parquet")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            _events_stream(spark, event_chunks_dir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    first = spark.read.parquet(out).select("event_id").collect()
    src = spark.read.parquet(event_chunks_dir).count()
    assert len(first) == src and len({r.event_id for r in first}) == src
    run()  # same checkpoint, no new files -> no new output
    again = spark.read.parquet(out).count()
    assert again == src, "re-run with unchanged source duplicated rows"


def test_checkpoint_recovery_resumes_not_reprocesses(spark, tmp_path):
    """Kill-and-restart semantics: a checkpointed aggregation stream
    stopped after batch 1 and restarted after more data arrives must
    resume from state — every source row counted exactly once across
    the two runs, none twice."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_chunk(name, ids):
        import pandas as pd

        df = pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime("2024-01-01").to_datetime64(),
                "user_id": [i % 3 for i in ids],
                "event_type": ["click"] * len(ids),
                "value": [1.0] * len(ids),
                "props": ["{}"] * len(ids),
            }
        )
        pq.write_table(pa.Table.from_pandas(df), src / f"{name}.parquet")

    def run_counts(qname):
        stream = _events_stream(spark, str(src))
        q = (
            stream.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_chunk("a", list(range(30)))
    run_counts("recov1")
    first = {r.user_id: r.n for r in spark.sql("SELECT * FROM recov1").collect()}
    assert sum(first.values()) == 30

    write_chunk("b", list(range(100, 160)))
    run_counts("recov2")  # same checkpoint: resumes, must not recount chunk a
    second = {r.user_id: r.n for r in spark.sql("SELECT * FROM recov2").collect()}
    assert sum(second.values()) == 90, second


def test_session_window_exact_gap_merges(spark):
    """Pin Spark's session_window boundary: an event at exactly
    prev_ts + gap MERGES into the session (measured on 4.1.2) — the
    session extends while event_time <= current end, so only a
    strictly-greater gap starts a new session. The gaps-and-islands
    oracles (_SESSION_SQL / _SESSION_STREAM_SQL) therefore break on
    `> gap`, not `>= gap`; if Spark ever flips to exclusive ends this
    test fails before the parity gate does."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 10, 30, 0)),  # exactly gap later
        (1, dt.datetime(2024, 1, 1, 11, 0, 1)),  # gap + 1s → new session
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .count()
        .select("w.start", "w.end", "count")
        .orderBy("start")
        .collect()
    )
    assert len(out) == 2, out
    assert out[0]["count"] == 2  # 10:00 and 10:30 merged
    assert out[0]["end"] == dt.datetime(2024, 1, 1, 11, 0, 0)
    assert out[1]["count"] == 1


def test_cdc_merge_self_heals_crash_window(spark, tmp_path):
    """The CDC merge's directory swap is rename-granular: a crash
    between rename(dim→displaced) and rename(staged→dim) leaves the
    dimension absent with its history stranded in the hidden displaced
    dir (advice r6). The next merge must restore it before merging —
    otherwise the replayed batch rebuilds the dim from itself alone
    and the accumulated history is silently lost."""
    import datetime as dt
    import os

    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        _cdc_merge_batch,
    )
    from etl_gcp_function_tmabrasil_spark.sinks.partitioned import displaced

    root = str(tmp_path)
    schema = "user_id int, ts timestamp, event_id long, event_type string"
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    batch1 = spark.createDataFrame(
        [(1, t, 10, "a"), (2, t, 11, "b")], schema
    )
    batch2 = spark.createDataFrame(
        [(2, t + dt.timedelta(hours=1), 12, "c")], schema
    )
    _cdc_merge_batch(batch1, root)
    # Simulate the crash window: dim was hidden-renamed, the new
    # generation never landed.
    os.rename(os.path.join(root, "dim"), os.path.join(root, displaced("dim")))
    assert not os.path.isdir(os.path.join(root, "dim"))
    _cdc_merge_batch(batch2, root)
    rows = {
        r["user_id"]: (r["event_id"], r["event_type"])
        for r in spark.read.parquet(os.path.join(root, "dim")).collect()
    }
    # user 1 survives only if the self-heal restored the displaced dim
    assert rows == {1: (10, "a"), 2: (12, "c")}, rows
    assert not os.path.isdir(os.path.join(root, displaced("dim")))


def test_partitioned_cdc_merge_touches_only_batch_partitions(spark, tmp_path):
    """The partition-pruned merge's whole point: a batch whose keys
    all hash to one partition must leave every other partition's
    files byte-identical (same inode set — not rewritten), and merge
    semantics must still equal global pick-latest."""
    import datetime as dt
    import os

    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        _cdc_merge_batch_partitioned,
    )

    root = str(tmp_path)
    dim = os.path.join(root, "dim")
    schema = "user_id int, ts timestamp, event_id long, event_type string"
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    # users 0..7 cover all 8 buckets
    batch1 = spark.createDataFrame(
        [(u, t, 100 + u, "a") for u in range(8)], schema
    )
    _cdc_merge_batch_partitioned(batch1, root)
    parts = sorted(e for e in os.listdir(dim) if e.startswith("part="))
    assert parts == [f"part={i}" for i in range(8)], parts

    def files_of(p):
        d = os.path.join(dim, p)
        return {
            f: os.stat(os.path.join(d, f)).st_mtime_ns
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = {p: files_of(p) for p in parts}
    # batch 2 touches ONLY user 3 (bucket 3)
    batch2 = spark.createDataFrame(
        [(3, t + dt.timedelta(hours=1), 200, "b")], schema
    )
    _cdc_merge_batch_partitioned(batch2, root)
    after = {p: files_of(p) for p in parts}
    assert after["part=3"] != before["part=3"]
    for p in parts:
        if p != "part=3":
            assert after[p] == before[p], f"{p} was rewritten by a pruned merge"
    rows = {
        r["user_id"]: (r["event_id"], r["event_type"])
        for r in spark.read.parquet(dim).collect()
    }
    want = {u: (100 + u, "a") for u in range(8)}
    want[3] = (200, "b")
    assert rows == want, rows


def test_partitioned_cdc_merge_self_heals_and_replays_idempotently(
    spark, tmp_path
):
    """Per-partition crash window: a hidden displaced part=K with the
    visible partition missing must be restored before merging, and
    re-merging the SAME batch (foreachBatch at-least-once replay)
    leaves the dimension unchanged."""
    import datetime as dt
    import os

    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        _cdc_merge_batch_partitioned,
    )
    from etl_gcp_function_tmabrasil_spark.sinks.partitioned import displaced

    root = str(tmp_path)
    dim = os.path.join(root, "dim")
    schema = "user_id int, ts timestamp, event_id long, event_type string"
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    batch1 = spark.createDataFrame([(1, t, 10, "a"), (9, t, 11, "b")], schema)
    _cdc_merge_batch_partitioned(batch1, root)  # users 1,9 → part=1
    # Simulate the crash between the two renames
    os.rename(os.path.join(dim, "part=1"), os.path.join(dim, displaced("part=1")))
    batch2 = spark.createDataFrame(
        [(9, t + dt.timedelta(hours=1), 12, "c")], schema
    )
    _cdc_merge_batch_partitioned(batch2, root)
    rows = {
        r["user_id"]: (r["event_id"], r["event_type"])
        for r in spark.read.parquet(dim).collect()
    }
    assert rows == {1: (10, "a"), 9: (12, "c")}, rows
    assert not os.path.isdir(os.path.join(dim, displaced("part=1")))
    # replay batch2 verbatim — idempotent
    _cdc_merge_batch_partitioned(batch2, root)
    rows2 = {
        r["user_id"]: (r["event_id"], r["event_type"])
        for r in spark.read.parquet(dim).collect()
    }
    assert rows2 == rows


def test_partitioned_and_full_cdc_merges_agree(spark, tmp_path):
    """Partition pruning must change per-trigger COST, never merge
    semantics: replaying the same micro-batch sequence (with
    cross-batch updates and an at-least-once duplicate) through
    `_cdc_merge_batch` and `_cdc_merge_batch_partitioned` must yield
    identical dimensions."""
    import datetime as dt
    import os

    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        _cdc_merge_batch,
        _cdc_merge_batch_partitioned,
    )

    schema = "user_id int, ts timestamp, event_id long, event_type string"
    t = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    batches = [
        mk([(u, t + dt.timedelta(minutes=u), 1000 + u, "seed") for u in range(20)]),
        mk(
            [(3, t + dt.timedelta(hours=2), 2001, "upd")]
            + [(7, t + dt.timedelta(hours=2), 2002, "upd")]
            # same-ts tie for user 11: event_id breaks it
            + [(11, t + dt.timedelta(minutes=11), 2003, "tie")]
        ),
        # replayed duplicate of batch 1 (at-least-once)
        mk(
            [(3, t + dt.timedelta(hours=2), 2001, "upd")]
            + [(7, t + dt.timedelta(hours=2), 2002, "upd")]
            + [(11, t + dt.timedelta(minutes=11), 2003, "tie")]
        ),
        mk([(25, t + dt.timedelta(hours=3), 3001, "new")]),
    ]
    full_root = os.path.join(str(tmp_path), "full")
    part_root = os.path.join(str(tmp_path), "part")
    os.makedirs(full_root)
    os.makedirs(part_root)
    for b in batches:
        _cdc_merge_batch(b, full_root)
        _cdc_merge_batch_partitioned(b, part_root)

    def snap(root):
        return sorted(
            (r["user_id"], r["ts"], r["event_id"], r["event_type"])
            for r in spark.read.parquet(os.path.join(root, "dim"))
            .select("user_id", "ts", "event_id", "event_type")
            .collect()
        )

    assert snap(full_root) == snap(part_root)


def test_partitioned_cdc_merge_gate_reinvocation_is_exactly_once(spark):
    """GATE-level restart semantics for stream_cdc_merge_partitioned:
    the second invocation in a process resumes the per-process
    checkpoint with zero new files — no micro-batch fires, no
    partition is rewritten, and the returned dimension is identical
    (exactly-once effective, the same contract stream_cdc_merge's
    docstring promises)."""
    import os

    from etl_gcp_function_tmabrasil_spark.queries._util import fixture_dir
    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        stream_cdc_merge_partitioned,
    )

    sf = SF_SMOKE
    first = [tuple(r) for r in stream_cdc_merge_partitioned(spark, sf).collect()]
    assert first, "gate query returned an empty dimension"
    dim = os.path.join(fixture_dir(sf, "cdc_merge_partitioned"), "dim")

    def snap():
        out = {}
        for part in os.listdir(dim):
            if part.startswith("part="):
                d = os.path.join(dim, part)
                for f in os.listdir(d):
                    if f.endswith(".parquet"):
                        out[f"{part}/{f}"] = os.stat(
                            os.path.join(d, f)
                        ).st_mtime_ns
        return out

    before = snap()
    second = [tuple(r) for r in stream_cdc_merge_partitioned(spark, sf).collect()]
    assert second == first, "re-invocation changed the dimension rows"
    assert snap() == before, "re-invocation rewrote partition files"


def test_cdc_merge_gate_reinvocation_is_exactly_once(spark):
    """Twin of the partitioned pin for stream_cdc_merge: checkpoint
    resume with zero new files must leave the flat dimension dir
    byte-identical and return the same rows."""
    import os

    from etl_gcp_function_tmabrasil_spark.queries._util import fixture_dir
    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        stream_cdc_merge,
    )

    sf = SF_SMOKE
    first = [tuple(r) for r in stream_cdc_merge(spark, sf).collect()]
    assert first
    dim = os.path.join(fixture_dir(sf, "cdc_merge"), "dim")

    def snap():
        return {
            f: os.stat(os.path.join(dim, f)).st_mtime_ns
            for f in os.listdir(dim)
            if f.endswith(".parquet")
        }

    before = snap()
    second = [tuple(r) for r in stream_cdc_merge(spark, sf).collect()]
    assert second == first
    assert snap() == before


def test_outer_interval_join_gate_reinvocation_is_deterministic(spark):
    """stream_interval_join_outer's second invocation resumes the
    per-process checkpoint (no new files, no micro-batch) and must
    return the identical row set — in particular, no DUPLICATE null
    rows and no null row for a purchase that also emitted a match
    (the two corruption modes an outer streaming join can exhibit
    across restarts)."""
    from collections import Counter

    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        stream_interval_join_outer,
    )

    sf = SF_SMOKE
    first = [tuple(r) for r in stream_interval_join_outer(spark, sf).collect()]
    assert first, "gate query returned no rows"
    counts = Counter(first)
    assert max(counts.values()) == 1, "duplicate emitted rows"
    matched = {t[1] for t in first if t[2] != -1}  # purchase_id of matches
    nulls = {t[1] for t in first if t[2] == -1}
    assert not (matched & nulls), (
        "a purchase emitted both a match and a null row"
    )
    second = [tuple(r) for r in stream_interval_join_outer(spark, sf).collect()]
    assert sorted(second) == sorted(first)


def test_full_interval_join_gate_reinvocation_is_deterministic(spark):
    """stream_interval_join_full's second invocation resumes the
    per-process checkpoint and must return the identical row set. The
    full-join corruption modes extend the outer ones to BOTH sides:
    no duplicate rows, no purchase with both a match and a null-click
    row, and no click with both a match and a null-purchase row."""
    from collections import Counter

    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        stream_interval_join_full,
    )

    sf = SF_SMOKE
    first = [tuple(r) for r in stream_interval_join_full(spark, sf).collect()]
    assert first, "gate query returned no rows"
    counts = Counter(first)
    assert max(counts.values()) == 1, "duplicate emitted rows"
    # row layout: (user_id, purchase_id, click_id, purchase_s, click_s, value)
    matched_p = {t[1] for t in first if t[1] != -1 and t[2] != -1}
    null_p = {t[1] for t in first if t[1] != -1 and t[2] == -1}
    assert not (matched_p & null_p), (
        "a purchase emitted both a match and a null-click row"
    )
    matched_c = {t[2] for t in first if t[2] != -1 and t[1] != -1}
    null_c = {t[2] for t in first if t[2] != -1 and t[1] == -1}
    assert not (matched_c & null_c), (
        "a click emitted both a match and a null-purchase row"
    )
    second = [tuple(r) for r in stream_interval_join_full(spark, sf).collect()]
    assert sorted(second) == sorted(first)


def test_full_interval_join_restart_mid_sentinel_wave(spark, tmp_path):
    """The ugliest checkpoint cuts for the sentinel-flush protocol
    (r7 verdict item 5): the full-outer interval join is stopped and
    restarted at EVERY sentinel boundary — after the real chunks
    (every pending null emission still a state obligation), again
    after sentinel wave 1, and wave 2 arrives only in the third
    incarnation. Each restart recovers join state + watermark from the
    checkpoint; the combined sink must equal the batch full-outer
    interval join with every row exactly once, in both null
    directions, and the flush must demonstrably happen AFTER the first
    cut (the first incarnation's output is incomplete)."""
    import shutil
    from collections import Counter

    from etl_gcp_function_tmabrasil_spark.catalog import EVENTS_SCHEMA
    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        _sentinel_chunks,
    )

    full = _sentinel_chunks(SF_SMOKE)
    files = sorted(os.listdir(full))
    assert files[-2].endswith("sentinel0.parquet"), files[-2]
    assert files[-1].endswith("sentinel1.parquet"), files[-1]
    chunks = tmp_path / "chunks"
    chunks.mkdir()
    for f in files[:-2]:  # the real chunks only — no sentinel yet
        shutil.copy(os.path.join(full, f), chunks / f)
        time.sleep(0.02)  # distinct mtimes -> deterministic admission
    sink = str(tmp_path / "data")
    ck = str(tmp_path / "ck")

    def run():
        s = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(chunks))
        )
        joined = click_purchase_attribution(
            s.filter(F.col("event_type") == "click"),
            s.filter(F.col("event_type") == "purchase"),
            how="fullOuter",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        return spark.read.parquet(sink).filter(F.col("user_id") >= 0).count()

    n_real = run()  # cut 1: terminated before any sentinel
    time.sleep(0.05)
    shutil.copy(os.path.join(full, files[-2]), chunks / files[-2])
    n_wave1 = run()  # cut 2: wave 1 processed by a RESTARTED query
    time.sleep(0.05)
    shutil.copy(os.path.join(full, files[-1]), chunks / files[-1])
    n_final = run()  # wave 2 evicts on wave 1's recovered watermark

    def canon(df):
        return sorted(
            tuple(r)
            for r in df.select(
                "user_id",
                F.coalesce("purchase_id", F.lit(-1)).alias("purchase_id"),
                F.coalesce("click_id", F.lit(-1)).alias("click_id"),
                F.coalesce(
                    F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss"),
                    F.lit("none"),
                ).alias("purchase_s"),
                F.coalesce(
                    F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss"),
                    F.lit("none"),
                ).alias("click_s"),
                F.coalesce("value", F.lit(-1.0)).alias("value"),
            ).collect()
        )

    got = canon(spark.read.parquet(sink).filter(F.col("user_id") >= 0))
    ev = spark.read.schema(EVENTS_SCHEMA).parquet(str(chunks))
    want = canon(
        click_purchase_attribution(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
            how="fullOuter",
        ).filter(F.coalesce("user_id", F.lit(-1)) >= 0)
    )
    assert got == want, (
        f"sentinel-boundary restarts diverged from batch: "
        f"{len(got)} vs {len(want)}"
    )
    assert max(Counter(got).values()) == 1, "duplicate rows across the cuts"
    assert n_real < n_final, (
        "the first cut was not mid-flush: no null emission was pending "
        "in checkpointed state when the query first terminated"
    )
    assert n_real <= n_wave1 <= n_final


def test_session_window_dynamic_gap_semantics(spark):
    """Pin the DYNAMIC-gap session_window semantics the
    stream_session_dynamic_gap oracle encodes: (a) each event extends
    the session to ts + gap(EVENT) — a long-gap event deep inside a
    session outlives short-gap successors, so the session end is the
    running MAX of per-event ends, not last-event + its gap; (b) an
    event at exactly the running end still MERGES (the fixed-gap
    boundary rule, same engine path)."""
    import datetime as dt

    rows = [
        # long-gap event (60 min) followed by a short-gap one (15 min):
        # session end must stay 11:00 (10:00+60m), not 10:20 (10:05+15m)
        (1, dt.datetime(2024, 1, 1, 10, 0, 0), "purchase"),
        (1, dt.datetime(2024, 1, 1, 10, 5, 0), "view"),
        # at exactly the running end -> merges, extends to 11:15
        (1, dt.datetime(2024, 1, 1, 11, 0, 0), "view"),
        # 1s past the new running end -> new session
        (1, dt.datetime(2024, 1, 1, 11, 15, 1), "view"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_type string")
    gap = (
        F.when(F.col("event_type") == "purchase", "60 minutes")
        .otherwise("15 minutes")
    )
    out = (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .count()
        .select("w.start", "w.end", "count")
        .orderBy("start")
        .collect()
    )
    assert len(out) == 2, out
    assert out[0]["count"] == 3, out  # running-max + merge-on-equal
    assert out[0]["end"] == dt.datetime(2024, 1, 1, 11, 15, 0), out
    assert out[1]["count"] == 1, out


def test_dynamic_gap_session_restart_mid_chunk(spark, tmp_path):
    """Kill/restart stress for the DYNAMIC-gap session window (r8
    verdict item 6, the tests:777 pattern): the query is stopped and
    restarted at every chunk boundary, so sessions left OPEN at each
    cut must be recovered from the checkpointed session store and
    MERGED with later events — dynamic gaps exercise state-merge paths
    (running-MAX ends, per-event horizons) the fixed-gap restart never
    touches. The combined sink must equal an UNINTERRUPTED run of the
    same query over the same chunk sequence, session for session."""
    import shutil

    from etl_gcp_function_tmabrasil_spark.catalog import EVENTS_SCHEMA
    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        _shared_chunks,
    )

    full = _shared_chunks(SF_SMOKE)
    files = sorted(os.listdir(full))
    assert len(files) == 3, files
    gap = (
        F.when(F.col("event_type") == "purchase", "60 minutes")
        .when(F.col("event_type") == "click", "30 minutes")
        .otherwise("15 minutes")
    )

    def run(chunks: str, sink: str, ck: str) -> None:
        agg = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(chunks)
            .withWatermark("ts", "0 seconds")
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("w.start", "w.end", "user_id", "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    # interrupted: one incarnation per chunk file
    chunks = tmp_path / "chunks"
    chunks.mkdir()
    sink, ck = str(tmp_path / "data"), str(tmp_path / "ck")
    emitted_after = []
    for f in files:
        shutil.copy(os.path.join(full, f), chunks / f)
        time.sleep(0.05)
        run(str(chunks), sink, ck)
        emitted_after.append(spark.read.parquet(sink).count())
    # the cuts were real: later incarnations emitted additional
    # sessions on recovered state (not everything in incarnation 1)
    assert emitted_after[0] < emitted_after[-1], emitted_after

    # uninterrupted control: same files, fresh checkpoint, one run
    sink2, ck2 = str(tmp_path / "data2"), str(tmp_path / "ck2")
    run(str(chunks), sink2, ck2)

    def canon(path):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(path)
            .select(
                "user_id",
                F.date_format("start", "yyyy-MM-dd HH:mm:ss").alias("s"),
                F.date_format("end", "yyyy-MM-dd HH:mm:ss").alias("e"),
                "n",
            )
            .collect()
        )

    got, want = canon(sink), canon(sink2)
    assert got == want, (
        f"restarted run diverged: {len(got)} vs {len(want)} sessions; "
        f"sample diff {set(got) ^ set(want) and sorted(set(got) ^ set(want))[:5]}"
    )


def test_state_timeout_sessions_survive_restarts(spark, tmp_path):
    """The EventTimeTimeout sessionizer stopped and restarted
    mid-stream: state-store contents AND registered timeout timestamps
    must recover from the checkpoint, and the combined emissions must
    equal the uninterrupted run's finalized session set exactly (open
    sessions straddling the cut carry across; timeouts registered in
    incarnation 1 may fire in incarnation 2)."""
    import shutil

    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        _shared_chunks,
        finalized_timeout_sessions,
        timeout_session_stream,
    )

    full = _shared_chunks(SF_SMOKE)
    files = sorted(os.listdir(full))
    assert len(files) >= 3
    max_ts = (
        load_table(spark, SF_SMOKE, "events").agg({"ts": "max"}).collect()[0][0]
    )

    def run(chunks_dir, sink, ck):
        q = (
            timeout_session_stream(spark, str(chunks_dir))
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ck))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    # uninterrupted baseline
    base_sink = tmp_path / "base_data"
    run(full, base_sink, tmp_path / "base_ck")
    want = sorted(
        tuple(r)
        for r in finalized_timeout_sessions(
            spark, str(base_sink), max_ts
        ).collect()
    )
    assert want, "no finalized sessions at sf0.001 — fixture too small"

    # restarted run: half the chunks, stop, rest of the chunks, restart
    chunks = tmp_path / "chunks"
    chunks.mkdir()
    sink = tmp_path / "data"
    ck = tmp_path / "ck"
    half = len(files) // 2
    for f in files[:half]:
        shutil.copy(os.path.join(full, f), chunks / f)
        time.sleep(0.02)
    run(chunks, sink, ck)
    for f in files[half:]:
        shutil.copy(os.path.join(full, f), chunks / f)
        time.sleep(0.02)
    run(chunks, sink, ck)
    got = sorted(
        tuple(r)
        for r in finalized_timeout_sessions(spark, str(sink), max_ts).collect()
    )
    assert got == want


def test_stream_pattern_match_state_survives_restarts(spark, tmp_path):
    """The CEP symbol-string state stopped and restarted mid-stream:
    the per-user sequence accumulated in incarnation 1 must recover
    from the checkpoint so incarnation 2's final emission equals the
    uninterrupted batch semantics — a truncated state string would
    undercount matches for every user whose pattern straddles the
    cut."""
    import re
    import shutil
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import functions as F, types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from etl_gcp_function_tmabrasil_spark.catalog import load_table
    from etl_gcp_function_tmabrasil_spark.queries.analytics import (
        SEQ_PATTERN,
    )
    from etl_gcp_function_tmabrasil_spark.queries.streaming_gate import (
        EVENTS_SCHEMA,
        _shared_chunks,
    )

    full = _shared_chunks(SF_SMOKE)
    files = sorted(os.listdir(full))
    assert len(files) >= 3

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("seq_len", T.IntegerType()),
            T.StructField("n_matches", T.IntegerType()),
        ]
    )
    state_schema = T.StructType([T.StructField("s", T.StringType())])
    pat = re.compile(SEQ_PATTERN)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (s,) = state.get if state.exists else ("",)
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        s += "".join(batch["event_type"].str[0])
        state.update((s,))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "seq_len": [len(s)],
                "n_matches": [len(pat.findall(s))],
            }
        )

    def run(chunks_dir, data, ck):
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(chunks_dir))
            .groupBy("user_id")
            .applyInPandasWithState(
                update,
                outputStructType=out_schema,
                stateStructType=state_schema,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(str(data))
            )
            .option("checkpointLocation", str(ck))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    chunks = tmp_path / "chunks"
    chunks.mkdir()
    data, ck = tmp_path / "data", tmp_path / "ck"
    half = len(files) // 2
    for f in files[:half]:
        shutil.copy(os.path.join(full, f), chunks / f)
        time.sleep(0.02)
    run(chunks, data, ck)
    for f in files[half:]:
        shutil.copy(os.path.join(full, f), chunks / f)
        time.sleep(0.02)
    run(chunks, data, ck)

    sink = spark.read.parquet(str(data))
    got = {
        r.user_id: (r.seq_len, r.n_matches)
        for r in sink.groupBy("user_id")
        .agg(
            F.max("seq_len").alias("seq_len"),
            F.max_by("n_matches", "seq_len").alias("n_matches"),
        )
        .collect()
    }
    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    seqs = {}
    for r in ev.collect():
        seqs.setdefault(r.user_id, []).append(
            (r.ts, r.event_id, r.event_type[0])
        )
    for u, rows in seqs.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        s = "".join(c for _, _, c in rows)
        assert got[u] == (len(s), len(pat.findall(s))), u


def test_complete_leaderboard_crash_before_publish_retries_clean(
    spark, tmp_path, monkeypatch
):
    """r11 ADVICE: a crash between the complete-mode run and the
    publish rename must not wedge or poison the retry. Checkpoint and
    snapshot are built in one temp dir: nothing is published by the
    crashed attempt, the retry's rebuild deletes its residue and
    publishes the correct leaderboard."""
    from etl_gcp_function_tmabrasil_spark.queries import _util
    from etl_gcp_function_tmabrasil_spark.queries import streaming_gate as sg

    monkeypatch.setattr(_util, "_FIXTURE_ROOT", (os.getpid(), str(tmp_path)))
    out = _util.fixture_dir(SF_SMOKE, "complete")

    real_rename = os.rename

    def crash_rename(src, dst):
        if dst == out:
            raise KeyboardInterrupt  # simulated hard kill pre-publish
        return real_rename(src, dst)

    monkeypatch.setattr(sg.os, "rename", crash_rename)
    with pytest.raises(KeyboardInterrupt):
        sg.stream_complete_leaderboard(spark, SF_SMOKE)
    monkeypatch.setattr(sg.os, "rename", real_rename)

    assert not os.path.isdir(out)  # nothing published
    got = {
        r["event_type"]: (r["n"], round(r["sum_value"], 4))
        for r in sg.stream_complete_leaderboard(spark, SF_SMOKE).collect()
    }
    want = {
        r["event_type"]: (r["n"], round(r["sum_value"], 4))
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    }
    assert got == want  # the retry's result is exact
    parent = os.path.dirname(out)
    assert not [f for f in os.listdir(parent) if ".tmp" in f]  # no temp dir remains


def test_update_mode_crash_retry_does_not_double_count(
    spark, tmp_path, monkeypatch
):
    """r11 ADVICE: a crashed attempt's emission rows must not be
    appended to by the retry's full replay (duplicate (day,bid) rows
    inflated n_emitted past the selectivity cap, and the max-bid final
    pick read across attempts). Checkpoint and emissions live in the
    build dir, which the retry's rebuild deletes."""
    from etl_gcp_function_tmabrasil_spark.queries import _util
    from etl_gcp_function_tmabrasil_spark.queries import streaming_gate as sg

    monkeypatch.setattr(_util, "_FIXTURE_ROOT", (os.getpid(), str(tmp_path)))

    real_drain = sg._drain

    def crash_drain(*args, **kwargs):
        real_drain(*args, **kwargs)  # the stream RAN: emissions are on disk
        raise KeyboardInterrupt  # then the driver dies pre-publish

    monkeypatch.setattr(sg, "_drain", crash_drain)
    with pytest.raises(KeyboardInterrupt):
        sg.stream_update_mode_emissions(spark, SF_SMOKE)
    monkeypatch.setattr(sg, "_drain", real_drain)

    out = _util.fixture_dir(SF_SMOKE, "update_mode")
    assert not os.path.isdir(out)  # nothing published

    got = {
        r["day"]: (r["n"], round(r["sum_value"], 4))
        for r in sg.stream_update_mode_emissions(spark, SF_SMOKE).collect()
    }
    want = {
        r["day"]: (r["n"], round(r["sum_value"], 4))
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    }
    assert got == want  # exact counts — nothing doubled by the replay
    parent = os.path.dirname(out)
    assert not [f for f in os.listdir(parent) if ".tmp" in f]  # no temp dir remains


def test_drain_timeout_stops_query(spark, tmp_path, event_chunks_dir):
    """A drain that outlives its timeout must stop its query and raise
    TimeoutError — never return while the query keeps committing."""
    from etl_gcp_function_tmabrasil_spark.queries import streaming_gate as sg

    before = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError):
        sg._drain(_events_stream(spark, event_chunks_dir), str(tmp_path), timeout=0.001)
    assert {q.id for q in spark.streams.active} == before


def test_cloudevent_stream_resumes_after_drain_timeout(
    spark, tmp_path, monkeypatch
):
    """stream_cloudevent_source drains through the shared `_drain`, so a
    timed-out run leaves its checkpoint in place. The next call resumes
    it, and the file sink's `_spark_metadata` log hides any uncommitted
    file: the result is exactly the seven closed-form rows, none
    doubled."""
    from collections import Counter

    import duckdb

    from etl_gcp_function_tmabrasil_spark.queries import (
        _util,
        sources_gate,
        streaming_gate as sg,
    )

    monkeypatch.setattr(_util, "_FIXTURE_ROOT", (os.getpid(), str(tmp_path)))
    real_drain = sg._drain
    monkeypatch.setattr(
        sg, "_drain", lambda df, root, **kw: real_drain(df, root, timeout=0.001)
    )
    with pytest.raises(TimeoutError):
        sources_gate.stream_cloudevent_source(spark, SF_SMOKE)
    monkeypatch.setattr(sg, "_drain", real_drain)

    rows = sources_gate.stream_cloudevent_source(spark, SF_SMOKE).collect()
    got = Counter(tuple(r) for r in rows)
    want = Counter(
        duckdb.connect().execute(sources_gate._CLOUDEVENT_SQL).fetchall()
    )
    assert sum(want.values()) == 7
    assert got == want


def test_gate_streams_trigger_only_in_drain():
    """`streaming_gate._drain` is the one place a gate stream is
    started: no other code in the gate modules calls `.trigger(`, so
    every gate shares its checkpoint layout and its stop-and-raise
    timeout."""
    import ast
    import inspect

    from etl_gcp_function_tmabrasil_spark.queries import sources_gate, streaming_gate

    callers = set()
    for mod in (streaming_gate, sources_gate):
        for top in ast.parse(inspect.getsource(mod)).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "trigger"
                ):
                    where = getattr(top, "name", "<module>")
                    callers.add((mod.__name__.rsplit(".", 1)[-1], where))
    assert callers == {("streaming_gate", "_drain")}


def test_missing_table_probe_logs_no_stack_trace(spark, tmp_path):
    """A read of a path that does not exist yet (the ETL ledger probe's
    first batch) makes FileStreamSink log a WARN with an ~80-line Java
    stack trace. `get_spark` raises only that logger to ERROR; the
    root level stays WARN and the read still raises."""
    from pyspark.errors import AnalysisException

    jvm = spark.sparkContext._jvm
    log4j = jvm.org.apache.logging.log4j.LogManager
    sink = "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"
    assert log4j.getLogger(sink).getLevel().toString() == "ERROR"
    assert log4j.getRootLogger().getLevel().toString() == "WARN"
    with pytest.raises(AnalysisException):
        spark.read.parquet(str(tmp_path / "missing")).count()
