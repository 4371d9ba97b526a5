"""ig_etl_sync_spark — a PySpark-native analytics/ETL-sync engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference ETL sync engine (``srahul3/ig-etl-sync``, surveyed in
``SURVEY.md``): semi-structured JSON ingestion, a declarative transform
layer (explode / project / rename / literal columns), snapshot-diff CDC
reconciliation, an idempotent graph-shaped sink (node upsert, edge merge,
cascading delete), and convergence self-verification — plus the
large-scale training-data-pipeline extensions (deduplication, similarity
search, text analysis, streaming sync).

Everything is built on the public PySpark DataFrame/SQL API and designed
for a multi-executor cluster: declarative plans (Catalyst optimizes),
broadcast joins for small dimensions, key-partitioned state tables, and
Arrow-vectorized Pandas UDFs only where built-ins cannot express the
semantics.
"""

from ig_etl_sync_spark.session import get_spark, stop_spark

__all__ = ["get_spark", "stop_spark"]
__version__ = "0.1.0"
