"""etl_sber_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query / data-processing capabilities of the
reference repo ``stooodgy/ETL-sber`` (a bank fraud-detection ETL pipeline:
file ingest -> staging -> SCD1/SCD2 warehouse -> fraud report mart), expressed
Spark-first: DataFrame / Spark SQL logical plans optimized by Catalyst, no
RDDs, no row-at-a-time Python UDFs on the hot path.

Layout
------
- ``session``    SparkSession builder (AQE on, UTC, shuffle partitions ~ cores)
- ``schemas``    explicit StructTypes for every input (never infer)
- ``sources``    readers: semicolon-CSV (strict + quarantining), XLSX
                 (stdlib OOXML, driver-side), parquet tables, JDBC,
                 file-inbox scan/dispatch/archive
- ``functions``  scalar expression helpers (comma-decimal repair, trim-all,
                 portable hash, text stats, vector math) — all built-ins,
                 codegen-friendly
- ``operators``  composite relational operators: snapshot-diff, SCD2 apply,
                 SCD1 append/keep-latest, as-of join, bin-bucketed range
                 join, dedup (exact / minhash-LSH / simhash /
                 ngram-jaccard / rolling-hash+winnow), dedup clustering
                 (connected components), incremental curation vs a
                 persisted signature index, similarity search
                 (brute-force / hyperplane-LSH / IVF, float or int8
                 IVF,SQ8), int8 embedding quantization, multimodal
                 column plumbing, salted aggregation, data-quality
                 gates, supervised quality classifier, DSIR importance
                 weighting, deterministic sampling / per-stratum caps,
                 sequence chunking+packing, BM25 ranking, PII
                 redaction, sessionization, time-series resampling
                 with gap filling
- ``sinks``      parquet warehouse: partitioned append, atomic versioned
                 overwrite-swap (SCD2 rewrite), dynamic partition
                 overwrite, bucketed tables; sharded JSONL corpus export
                 with trainer manifest
- ``plans``      end-to-end dataflows: denormalized data view, fraud rules,
                 and the driver-facing query registry
- ``pipeline``   run_day orchestration (inbox -> warehouse -> mart)
- ``streaming``  idempotent foreachBatch landing zones: JSONL corpus with
                 incremental curation, crawl ingestion against a
                 persisted URL index, ANN serving-table maintenance

Reference parity is documented per-function with ``main.py:<line>`` cites
into /root/reference (study-only; no code copied — the reference is Oracle
SQL over jaydebeapi, this engine is PySpark).
"""

__version__ = "0.1.0"
