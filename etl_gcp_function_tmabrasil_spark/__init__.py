"""etl_gcp_function_tmabrasil_spark — PySpark-native analytics/ETL engine.

A from-scratch, Spark-first engine with the query and data-processing
capability surface of the reference ``cdi-pixel/etl-gcp-function-tmabrasil``
(an event-driven GCP Cloud Function ETL trigger; see
``/root/reference/main.py:1-17``), re-expressed idiomatically on Apache
Spark:

- DataFrame/SQL relational core (projection, filter, joins, aggregation,
  windows, set ops, dedup) — Catalyst-optimized built-ins.
- Structured Streaming file-arrival pipeline mirroring the reference's
  GCS-trigger semantics (``main.py:5,12``).
- Distributed XLSX ingest (the reference's payload format, ``main.py:12``)
  via a self-contained stdlib parser in ``mapInArrow`` tasks that open
  their own objects from an Arrow-shipped frame of paths (path-driven
  read).
- LLM-data-pipeline operators: text analysis, exact/near-duplicate dedup
  (MinHash-LSH, SimHash, n-gram Jaccard), embedding similarity search.

Everything here is built on public Apache Spark APIs only.
"""

from etl_gcp_function_tmabrasil_spark.session import get_spark
from etl_gcp_function_tmabrasil_spark.catalog import TABLES, load_table, register_views

__all__ = ["get_spark", "TABLES", "load_table", "register_views"]
__version__ = "0.1.0"
