"""BigQuery-shaped sink (the driver's north star: "DataFrame ops +
BigQuery write"). On a real cluster this is the spark-bigquery-connector
(`df.write.format("bigquery")`); locally — where the connector jar and a
GCP project don't exist — the same call shape lands partitioned parquet
under a warehouse dir, keeping every pipeline testable end-to-end.

The interface is intentionally minimal and connector-agnostic: table
identity + write mode + optional partition column, exactly the knobs the
BigQuery connector exposes.
"""

from __future__ import annotations

import logging
import os
import shutil
import weakref

from pyspark.sql import DataFrame

from etl_gcp_function_tmabrasil_spark.sinks.parts import drop_empty_parts, part_files

_LOG = logging.getLogger(__name__)


#: Reasons the exists() probe acts on — the only structured strings
#: worth stopping the cause-chain walk for.
_BQ_KNOWN_REASONS = frozenset({"accessdenied", "forbidden", "notfound"})

#: SparkContext -> whether its JVM loads the connector: the route every
#: sink call takes, asked once per context (an entry goes with its
#: context, so a session built after ``stop()`` asks again)
_ROUTES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _load_connector(spark) -> bool:
    """Whether the session's JVM can load the BigQuery connector class:
    one py4j ``Class.forName`` round trip (14 ms when it fails)."""
    try:
        spark._jvm.Class.forName(
            "com.google.cloud.spark.bigquery.BigQueryRelationProvider"
        )
        return True
    except Exception:
        return False


def _structured_bq_error(exc: Exception) -> tuple[int | None, str | None]:
    """Extract (http code, reason) from a connector exception's Java
    cause chain where available (BigQueryException.getCode()/
    getError().getReason()), else (None, None). Best-effort by design:
    any introspection failure falls back to message matching.

    Only a PLAUSIBLE frame stops the walk: an HTTP-status code
    (400–599) or a reason the probe recognizes. Wrapper exceptions can
    expose a non-HTTP getCode() (0, or a connector-internal code) —
    returning at the first such frame would mask a structured 403
    deeper in the chain and regress exists() to substring matching,
    the exact ambiguity this path was added to bypass (ADVICE r6)."""
    try:
        je = getattr(exc, "java_exception", None)
        seen = 0
        while je is not None and seen < 8:
            code = None
            reason = None
            try:
                code = int(je.getCode())
            except Exception:
                pass
            try:
                err = je.getError()
                if err is not None:
                    reason = str(err.getReason()).lower()
            except Exception:
                pass
            if code is not None and 400 <= code <= 599:
                return code, reason
            if reason is not None and reason in _BQ_KNOWN_REASONS:
                # code already failed the HTTP-plausibility check above
                return None, reason
            je = je.getCause()
            seen += 1
    except Exception:
        pass
    return None, None


def _warn_absent(table: str, exc: Exception) -> None:
    """exists() returning False disables the idempotency dedup probe's
    prior-keys read — make that observable so a mis-permissioned
    production run (phrased by BigQuery as not-found) is diagnosable."""
    _LOG.warning(
        "BigQuerySink.exists(%s) -> False from connector error %s: %s "
        "(if this table should exist, check IAM — BigQuery phrases some "
        "permission denials as not-found)",
        table,
        type(exc).__name__,
        str(exc)[:200],
    )


class BigQuerySink:
    """Write DataFrames to BigQuery, or to a local parquet warehouse when
    the connector isn't on the classpath (local tests)."""

    def __init__(self, project: str | None = None, warehouse_dir: str | None = None):
        self.project = project
        self.warehouse_dir = warehouse_dir or os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
        )

    def _connector_available(self, spark) -> bool:
        """The route of `read`, `write` and `exists`: the connector when
        its class loads in this SparkContext's JVM, else the parquet
        warehouse. Looked up once per SparkContext and shared by every
        sink; a new context (stop, then build again) looks again."""
        sc = spark.sparkContext
        found = _ROUTES.get(sc)
        if found is None:
            found = _ROUTES[sc] = _load_connector(spark)
        return found

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        partition_by: str | None = None,
    ) -> str:
        """Write `df` to `table` ("dataset.table"). Returns the sink URI.

        Scale notes: with the real connector, prefer the DIRECT write
        method (BigQuery Storage Write API — no GCS staging hop) and let
        `partition_by` map to time-partitioned tables so BigQuery prunes
        on query; the parquet fallback mirrors that with directory
        partitioning, and unlinks the 0-row part files the write added
        (``parts.drop_empty_parts``): a table keeps a 0-row file only
        while it holds no other file, as its schema. It first removes
        the ``_temporary`` tree an aborted write left behind.
        """
        if self._connector_available(df.sparkSession):
            writer = df.write.format("bigquery").mode(mode).option(
                "writeMethod", "direct"
            )
            if self.project:
                writer = writer.option("parentProject", self.project)
            if partition_by:
                writer = writer.option("partitionField", partition_by)
            writer.save(table)
            return f"bigquery://{self.project or 'default'}/{table}"
        path = os.path.join(self.warehouse_dir, *table.split("."))
        # A driver killed mid-write leaves its committed task files in
        # _temporary, and the next job commit would merge them into the
        # table beside the replayed batch's own rows, as duplicates.
        # Each table has one writer (the pipeline's serial
        # micro-batches), so a _temporary seen here is such a leftover.
        shutil.rmtree(os.path.join(path, "_temporary"), ignore_errors=True)
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(partition_by)
        before = part_files(path)
        writer.parquet(path)
        after = part_files(path)
        old = before & after
        # a lone old file may be the 0-row schema file of an earlier write
        lone = sorted(old) if len(old) == 1 else []
        drop_empty_parts(lone + sorted(after - before), keep_one=len(old) <= 1)
        return path

    def exists(self, spark, table: str) -> bool:
        """Whether `table` exists via the active route: the one rule
        the ETL idempotency probe (`streaming/pipeline.py`) has for a
        missing ledger table. The probe asks it about each table before
        every read, and reads only the tables it reports.

        On the parquet route a table exists when it holds a part file
        Spark's reader would list (``parts.part_files``, one ``os.walk``
        of the table dir): an empty dir, or one holding only the
        ``_temporary`` tree of an aborted first write, is absent, as
        reading it would fail with ``UNABLE_TO_INFER_SCHEMA``. A lone
        0-row schema file counts as a table.

        On the connector route it resolves the table's schema: one
        metadata lookup per table per batch, a cost no test or workload
        measures (unverified). Only a *positively identified* not-found
        maps to False — permission or transport failures propagate,
        since treating them as an empty ledger would silently disable
        dedup.
        """
        if self._connector_available(spark):
            reader = spark.read.format("bigquery")
            if self.project:
                reader = reader.option("parentProject", self.project)
            try:
                reader.load(table).schema  # connector resolves eagerly
                return True
            except Exception as exc:  # noqa: BLE001 — filtered below
                # Prefer the STRUCTURED error over message substrings:
                # BigQuery intentionally phrases some permission-denied
                # responses as "Not found: Table …" to avoid leaking
                # existence (ADVICE r5), so text alone can map an IAM
                # problem on an existing ledger to "absent" and silently
                # disable dedup. A structured 403/accessDenied always
                # propagates; a structured 404/notFound is authoritative.
                code, reason = _structured_bq_error(exc)
                if code == 403 or reason in ("accessdenied", "forbidden"):
                    raise
                if code == 404 or reason in ("notfound",):
                    _warn_absent(table, exc)
                    return False
                # fallback: case-insensitive not-found phrasings only; a
                # bare "404" substring is NOT matched (an error whose
                # text merely quotes a URL or staging object would map
                # an existing table to False)
                msg = str(exc).lower()
                if "not found" in msg or "not_found" in msg or "does not exist" in msg:
                    _warn_absent(table, exc)
                    return False
                raise
        return bool(part_files(os.path.join(self.warehouse_dir, *table.split("."))))

    def read(self, spark, table: str) -> DataFrame:
        """Read back `table` through the SAME route write() used: the
        BigQuery connector when it is on the classpath, else the local
        parquet warehouse. Reading only the fallback while write()
        targeted BigQuery would make every read-back (notably the ETL
        idempotency probe) see an empty/absent table in production."""
        if self._connector_available(spark):
            reader = spark.read.format("bigquery")
            if self.project:
                reader = reader.option("parentProject", self.project)
            return reader.load(table)
        return spark.read.parquet(os.path.join(self.warehouse_dir, *table.split(".")))
