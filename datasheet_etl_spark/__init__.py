"""datasheet_etl_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference ETL system (joyhpc/Datasheet-ETL), re-expressed Spark-first:
DataFrame/SQL declarative plans optimized by Catalyst, Pandas UDFs only
where built-in operators cannot express the semantics, and Structured
Streaming for incremental workloads.

Layout
------
- ``session``    : SparkSession factory tuned for local + cluster runs
- ``io``         : parquet table loaders for the test star schema
- ``functions``  : pure Column-expression library (clean/parse/normalize/
                   compare) — the scalar layer, all JVM-side codegen-able
- ``operators``  : reusable relational shapes (positional zip join,
                   as-of join, salted skew join, forward fill,
                   sessionize, dedup, similarity/ANN, text analysis,
                   graph/components, multimodal plumbing)
- ``sources``    : external-call stages (vision client: Arrow-batched,
                   retrying, rate-limited, cost-budgeted)
- ``verify``     : the double-verification dataflow (conflict detection,
                   arbitration, resolution, confidence scoring)
- ``pipeline``   : the end-to-end extraction pipeline over mock stages
- ``plans``      : the declared query inventory (Q01–Q34 + training-data,
                   SQL-surface and streaming entries) with DuckDB oracle
                   SQL for each oracled entry
- ``streaming``  : Structured Streaming variants (windows, watermark,
                   incremental file source, stateful ops)
"""

__version__ = "0.1.0"
