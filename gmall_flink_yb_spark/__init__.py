"""gmall_flink_yb_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the reference repo yebo001/gmall-flink-yb
(a Flink 1.12 real-time e-commerce data warehouse), re-expressed Spark-first.

Layout
------
- ``session``    : SparkSession factory tuned for scale (AQE, shuffle sizing).
- ``worker_daemon``: Python worker daemon that local sessions start (no
                   per-task re-read of pyspark.zip's directory).
- ``schemas``    : explicit StructType constants for every record shape.
- ``sources``    : batch + streaming readers (parquet/JSON/Kafka/CDC envelope).
- ``operators``  : the reference's operator inventory (SURVEY.md §2) as pure
                   DataFrame -> DataFrame functions usable in batch & streaming.
- ``functions``  : scalar/column helpers — time, text analysis, dedup,
                   similarity search (the LLM-data-pipeline surface).
- ``streaming``  : streaming wrappers — watermarks, stateful ops, sinks.
- ``plans``      : plan-inspection helpers used to keep physical plans honest.

Every operator is designed for a multi-executor cluster at ~100 TB: broadcast
joins for dims, watermark-bounded state, decimal money math, partition-pruned
scans — even though tests run on local[*].
"""

__version__ = "0.1.0"
