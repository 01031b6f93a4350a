"""erathia_market_etl_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
the reference ETL pipeline (``D-Kniec/erathia-market-etl``), re-expressed
Spark-first: one engine (PySpark DataFrame/SQL + Catalyst + AQE) replaces
the reference's pandas-generation / Spark-cleaning / DuckDB-analytics
trio. See SURVEY.md at the repo root for the full operator inventory this
package implements.

Layout:
    config          paths / seed / rates (ref: src/config.py:1-14)
    session         SparkSession factory with scale-aware defaults
    pipeline        bronze -> silver cleaning -> the four gold marts
    app             command-line entry point (the reference's main.py menu)
    testing         Spark-vs-DuckDB result compare used by tests and tools
    sources/        parquet loading and scan sizing, events-table normalization
    operators/      dedup, similarity, text, graph, rank, skew, temporal,
                    SCD and the media decoders (WAV, BMP, gray JPEG)
    functions/      deterministic money arithmetic
    plans/          query families + the driver-facing query registry
    generator/      seeded market simulator (bronze producer, driver-side)
    streaming/      structured-streaming analogs of the batch window ops
"""

__version__ = "0.1.0"
