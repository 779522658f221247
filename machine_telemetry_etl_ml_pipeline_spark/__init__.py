"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference telemetry ETL+ML pipeline
(LadnoSam/Machine-Telemetry-ETL-ML-Pipeline), re-expressed Spark-first.

Layout:
    session       SparkSession factory (AQE, UTC, shuffle sizing)
    schemas       canonical StructTypes (telemetry + testdata star schema)
    sources       readers (CSV/parquet) + the table catalog
    operators     relational primitives (latest_per_key, top_k, joins, setops,
                  windows, as-of, aggregation extensions)
    functions     scalar function library (time features, text analysis)
    plans         the reference's 14 query methods as lazy DataFrame builders
    llm           LLM-data-pipeline ops (dedup, similarity, multimodal)
    ml            VectorAssembler/StandardScaler/GBT pipelines + anomaly
    streaming     Structured Streaming windows / watermark / dedup
    ingest        the reference's CSV->table ETL path
    registry      the driver's query library: one module per entry-name family
                  (ref, ext, tpch, stream, llm, ml, graph, udf), each entry a
                  Spark builder paired with its DuckDB oracle SQL
"""

__version__ = "0.1.0"
