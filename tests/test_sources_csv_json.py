"""CSV / JSON batch scans with explicit schemas (SURVEY.md §2.2
"Sources / sinks": `spark.read.csv/json` with explicit schema) — round
trip a slice of `events` through both text formats and require exact
equality with the parquet original.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from etl_gcp_function_tmabrasil_spark.catalog import load_table

_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

_COLS = [f.name for f in _SCHEMA.fields]


def _slice(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .select(*_COLS)
        .filter(F.col("event_id") < 200)
    )


def _assert_roundtrip(spark, original, back):
    a = sorted(map(tuple, original.collect()))
    b = sorted(map(tuple, back.collect()))
    assert back.schema == _SCHEMA
    assert a == b


def test_csv_scan_explicit_schema(spark, sf_dir, tmp_path):
    original = _slice(spark, sf_dir)
    path = str(tmp_path / "events_csv")
    original.write.option("header", True).option(
        "timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ).csv(path)
    back = (
        spark.read.schema(_SCHEMA)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
    )
    _assert_roundtrip(spark, original, back)


def test_json_scan_explicit_schema(spark, sf_dir, tmp_path):
    original = _slice(spark, sf_dir)
    path = str(tmp_path / "events_json")
    original.write.option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").json(path)
    back = (
        spark.read.schema(_SCHEMA)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .json(path)
    )
    _assert_roundtrip(spark, original, back)


def test_orc_scan_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC round trip (the other columnar built-in format) plus the
    scale guardrail: an equality filter must reach the ORC scan as a
    pushed filter, same as the parquet path."""
    from etl_gcp_function_tmabrasil_spark.plans.inspect import pushed_filters

    original = _slice(spark, sf_dir)
    path = str(tmp_path / "events_orc")
    original.write.orc(path)
    back = spark.read.schema(_SCHEMA).orc(path)
    _assert_roundtrip(spark, original, back)
    filtered = spark.read.schema(_SCHEMA).orc(path).filter(F.col("event_id") == 7)
    assert any("event_id" in f for f in pushed_filters(filtered))
    assert [r.event_id for r in filtered.collect()] == [7]


def test_text_line_source(spark, tmp_path):
    """`spark.read.text` raw-line source: one string column `value`,
    one row per line — the ingestion edge for log-shaped data."""
    p = tmp_path / "lines.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    df = spark.read.text(str(p))
    assert df.columns == ["value"]
    assert sorted(r.value for r in df.collect()) == ["alpha", "beta", "gamma"]


def test_csv_malformed_rows_dropped(spark, tmp_path):
    """Explicit schema + DROPMALFORMED: bad rows are filtered at the
    scan, mirroring the reference's reject-path semantics
    (/root/reference/main.py:12-14) at the file-format layer."""
    p = tmp_path / "raw.csv"
    p.write_text(
        "event_id,ts,user_id,event_type,value\n"
        "1,2024-01-01 00:00:00.000000,7,click,1.5\n"
        "not-a-number,xxx,yyy,click,zzz\n"
        "2,2024-01-02 00:00:00.000000,8,view,2.5\n"
    )
    back = (
        spark.read.schema(_SCHEMA)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert [r.event_id for r in back.orderBy("event_id").collect()] == [1, 2]


def test_gcs_string_size_coerces_to_long(spark):
    # GCS object-finalize payloads carry size as a DECIMAL STRING; the
    # wire schema + try_cast must land it as a long, and garbage must
    # degrade to NULL (data.get defensiveness), never crash
    import json

    from etl_gcp_function_tmabrasil_spark.sources.file_events import (
        parse_cloud_events_json,
    )

    payloads = [
        json.dumps({"bucket": "b", "name": "minha-pasta/a.xlsx", "size": "123"}),
        json.dumps({"bucket": "b", "name": "minha-pasta/b.xlsx", "size": 456}),
        json.dumps({"bucket": "b", "name": "minha-pasta/c.xlsx", "size": "12x"}),
        json.dumps({"bucket": "b", "name": "minha-pasta/d.xlsx"}),
    ]
    df = spark.createDataFrame([(p,) for p in payloads], "payload string")
    out = {r.name: r.size for r in parse_cloud_events_json(spark, df).collect()}
    assert out == {
        "minha-pasta/a.xlsx": 123,
        "minha-pasta/b.xlsx": 456,
        "minha-pasta/c.xlsx": None,
        "minha-pasta/d.xlsx": None,
    }
    assert dict(parse_cloud_events_json(spark, df).dtypes)["size"] == "bigint"


def test_binaryfile_glob_excludes_decoy(spark, sf_dir):
    """scan_binaryfile_source's fixture plants a README.txt next to the
    .bin assets — pathGlobFilter pruning must exclude it at LISTING
    time (no row, not a null-doc_id row), and the content column must
    carry the exact utf-8 bytes (checked here against the source table
    the fixture was derived from; the oracle gate re-proves it via
    md5)."""
    import os

    from etl_gcp_function_tmabrasil_spark.queries._util import fixture_dir
    from etl_gcp_function_tmabrasil_spark.queries.sources_gate import (
        scan_binaryfile_source,
    )

    rows = scan_binaryfile_source(spark, sf_dir).collect()
    assert all(r.doc_id is not None for r in rows)
    fixture = fixture_dir(sf_dir, "binfiles")
    listed = sorted(os.listdir(fixture))
    assert "README.txt" in listed, "decoy missing — the pin is vacuous"
    assert len(rows) == len(listed) - 1

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 60)
        .collect()
    }
    got = {r.doc_id: r.text_head for r in rows}
    assert got == {d: t[:16] for d, t in docs.items()}
