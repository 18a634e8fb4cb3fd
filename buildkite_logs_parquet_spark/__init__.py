"""buildkite_logs_parquet_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of wolfeidau/buildkite-logs-parquet.

The reference is a single-threaded Go pipeline (OSC log parse → Parquet →
streaming query iterators).  This engine re-expresses every operator as
declarative Spark DataFrame plans so Catalyst/Tungsten pick the physical
strategy, and the same code scales from a 212-row job log to a partitioned
100 TB log lake.

Layout:
  functions/   scalar expression builders (OSC parse, ANSI strip, classify)
  sources/     log line sources and Parquet read/write (tolerant schema)
  operators/   ingest pipeline, reference query ops, and the large-scale
               training-data ops (dedup, similarity, text analysis)
  streaming/   Structured Streaming follow-mode ingest
  plans/       plan-inspection helpers (pushdown/broadcast assertions)
"""

from buildkite_logs_parquet_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
