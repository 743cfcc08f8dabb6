"""walmart_retail_pyspark_sqlite_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference pipeline (SivaPrasath26/
walmart-retail-pyspark-sqlite-pipeline), extended with large-scale
training-data-pipeline operators (dedup, similarity search, text analysis,
event-time windows, multimodal column plumbing).

Design principles (see SURVEY.md §7):
- Declare plans with the DataFrame/SQL API; let Catalyst + Tungsten pick the
  physical strategy. No RDDs, no driver-side row loops.
- Built-in ``pyspark.sql.functions`` only: no query plan crosses into
  Python (the multimodal decode included).
- Every operator ships with a DuckDB-oracle SQL twin for correctness
  (see ``plans.registry``).
"""

__version__ = "0.1.0"
