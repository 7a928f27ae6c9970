"""reports_generator_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference ETL
job ``fmoreno-stratio/Reports_Generator`` (see /root/reference) as an
idiomatic PySpark DataFrame engine, extended with the LLM-data-pipeline
operator layer (dedup, similarity search, multimodal columns, text
analysis) and designed for 100 TB scale:

- all dataflow is declarative DataFrame/SQL (Catalyst optimizes);
- no driver-side data movement (no collect() on the hot path);
- joins broadcast small sides; aggregations are partial/map-side;
- Python appears only as Arrow-vectorized pandas UDFs where built-in
  functions genuinely cannot express the semantics.

Layout:
    session.py            SparkSession factory + runtime tuning
    config.py             report-pipeline config + header registries
    schemas.py            dynamic schema generation (string core + typed view)
    ingest/               the reference's report ETL, rebuilt Spark-first
    operators/            relational + LLM-pipeline operators
    functions/            scalar/text helper column functions
    sources/              readers (recursive text/report source, parquet)
    plans/                query registry wired into __spark_entry__
    storage/              on-disk table protocol: manifest log, claims, OCC
    streaming/            Structured Streaming ingest + windowed aggs
"""

__version__ = "0.1.0"
