"""PySpark-native analytics engine with the query semantics of
JustinDo720/SpendingAnalysisETL, generalized for large-scale batch +
streaming analytics.

The reference (/root/reference/, read-only) is a single-process pandas
ETL; this package re-expresses its operator family (SURVEY.md §2) as
declarative Spark DataFrame plans so that Catalyst/Tungsten/AQE choose
the physical strategy. No custom planner or IR exists here on purpose
(SURVEY.md §4): the DataFrame API *is* the plan.

Layout
------
- ``session``    SparkSession factory (AQE, UTC, Arrow pinned)
- ``catalog``    named-view loading of the testdata star schema
- ``functions``  scalar/vector/text expression builders (JVM-side F.*)
- ``operators``  the operator inventory: report aggregates, time-series,
                 joins, set ops, windows, rollup, dedup, similarity,
                 text analysis, top-k
- ``sources``    MERGE-style upsert over parquet, the HTTP extract, the
                 external-DB sink, bucketed and Bloom-indexed layouts
- ``streaming``  Structured Streaming jobs (tumbling/session windows,
                 dedup, interval join, foreachBatch upsert and DB load)
- ``multimodal`` binary-column (image/audio) plumbing over mapInPandas
- ``serving``    the two report read endpoints over the sink
- ``summarizer`` deterministic template report summary (fi_summary)
"""

__version__ = "0.1.0"
