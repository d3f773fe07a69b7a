"""data_warehouse_etl_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the capabilities of the reference warehouse-ETL
repo (gparsamyan/data-warehouse-etl, surveyed in SURVEY.md) as idiomatic
PySpark: a binlog/WAL-style change feed of Common-Crawl-style web pages is
replayed into a lake table with last-writer-wins dedup, exactly-once apply,
schema evolution, checkpointed resume, and per-partition lineage metrics.

Layout
------
- ``session``    : SparkSession factory with scale-appropriate defaults
- ``lake``       : LakeTable — atomic-snapshot parquet lake (Iceberg-style
                   semantics: create-if-absent manifest commit, field-id
                   schema evolution, bucket partitioning) usable without
                   external jars
- ``cdc``        : the engine — ledger generator, HTML→text extractor (pandas
                   UDF), salted LWW dedup, merge apply, checkpoints, metrics
- ``operators``  : reference operator families (SURVEY.md §2) as reusable
                   DataFrame builders
- ``functions``  : training-data-pipeline functions — dedup (exact / minhash /
                   simhash / jaccard), similarity search, text analysis,
                   multimodal column plumbing
- ``sources``    : CSV / JSON / XML-feed ingest helpers
- ``streaming``  : the stateful event-time sessionizer (Structured Streaming
                   ``applyInPandasWithState``); the CDC tail is ``CdcEngine.run``
"""

__version__ = "0.1.0"
