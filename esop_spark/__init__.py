"""esop_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of instaclustr/esop (reference at
/root/reference), re-expressed Spark-first.

The engine is organized as:

- ``esop_spark.session``    — SparkSession factory tuned for scale (AQE, UTC).
- ``esop_spark.sources``    — fixture derivations, manifest JSON ingestion,
                              snapshot directory scans.
- ``esop_spark.operators``  — the operator inventory from SURVEY.md §2:
                              manifest analytics, diffs, retention, commit-log
                              point-in-time windows, entity filtering/rename,
                              topology, plus the LLM-data-pipeline surface
                              (dedup, similarity, text analysis, multimodal).
- ``esop_spark.functions``  — scalar function library (F1–F19 of SURVEY.md §2.8).
- ``esop_spark.streaming``  — Structured Streaming counterparts (commit-log
                              archiving, event windows).

Everything is DataFrame-first: logical plans are declared with the DataFrame /
Spark SQL API and Catalyst chooses the physical strategy. Python UDFs are kept
off hot paths. Python touches the data in two places, each one Arrow pass per
partition with no per-row Python call: multimodal decode (``mapInPandas``),
where Python is unavoidable, and the local union-find of
``graph.connected_components`` (``mapInArrow``), which replaces Spark
propagation rounds.
"""

__version__ = "0.1.0"
