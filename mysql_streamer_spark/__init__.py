"""mysql_streamer_spark — a PySpark-native CDC + analytics engine.

A from-scratch rebuild of the capabilities of Yelp/mysql_streamer
(``replication_handler``, Apache-2.0) on Apache Spark: the reference is a
MySQL-binlog CDC stream processor (source -> filter -> transform -> envelope
-> exactly-once sink, plus a DDL/schema-registry control plane); this package
re-expresses that dataflow with the Spark DataFrame / Structured Streaming
API, and layers the analytics + training-data-pipeline operators a large
Spark deployment needs on top of the CDC tables.

Layout
------
- ``session``    : tuned SparkSession builder (AQE, UTC, Arrow) and the
                   package's Python worker daemon (``pyworker``).
- ``tables``     : loaders for the driver's synthetic parquet tables, and
                   ``local_frame`` for small JVM-local relations.
- ``cdc``        : the reference's data plane — envelope builder, filters,
                   payload/type transforms, changelog mode, positions.
- ``schema``     : the reference's control plane — MySQL DDL classifier,
                   schema registry, MySQL->Spark type mapping.
- ``streaming``  : Structured Streaming form of the pipeline (exactly-once):
                   the drain lifecycle, the per-batch sink, the driver-side
                   position/offset state (``state_table``), the DDL barrier
                   and the stateful operators.
- ``connectors`` : sources and sinks (Kafka/Debezium, Avro and Confluent
                   wire codecs, Python data sources, JDBC, manifest sink).
- ``queries``    : the registered batch/stream queries and their oracles.
- ``skew``, ``asof``, ``rangejoin`` : analytics operators (latest-by-key
                   fold, as-of join, range join).
- ``functions``  : column-level function library (text stats, vectors).
- ``multimodal`` : binary-column (image/audio) plumbing with stubbed codecs.

Everything here derives from public knowledge only: the Apache Spark API and
the archived Yelp/mysql_streamer reference (studied for behavior, not code).
"""

__version__ = "0.1.0"
