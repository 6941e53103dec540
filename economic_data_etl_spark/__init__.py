"""economic_data_etl_spark — a PySpark-native analytics engine.

Brand-new engine with the query and data-processing capabilities of the
reference `Caseykelly87/economic-data-etl` (see SURVEY.md), re-expressed
Spark-first: declarative DataFrame/SQL plans optimized by Catalyst, explicit
schemas, broadcast-aware joins, and Arrow-batched Pandas UDFs only where
built-in operators cannot express the semantics.

Layout:
    session     SparkSession factory tuned for scale (AQE, broadcast, Arrow)
    config      series registries (reference src/config.py:28-52 parity)
    schemas     explicit StructType schemas (never inference in prod paths)
    sources/    parquet table catalog + FRED/BLS JSON parsers + ingest state
    functions/  scalar/text/vector column-expression helpers (JVM-side)
    operators/  upsert, snapshot diff, SCD2 versioning, dedup (exact /
                minhash / simhash / prefix-filtered jaccard / connected
                components), similarity (exact / LSH / IVF / int8),
                as-of & range joins, top-k, Z-order clustering,
                training-data ops (splits, mixing, packing, hashed TF)
    plans/      the query catalog exposed through __spark_entry__
    streaming/  pure batch folds of the incremental catalog queries
"""

__version__ = "0.1.0"
