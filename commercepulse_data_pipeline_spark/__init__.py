"""CommercePulse-on-Spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference pipeline (Eseroghene/CommercePulse-Data-Pipeline), re-expressed
Spark-first: DataFrame/SQL logical plans optimized by Catalyst, medallion
(bronze/silver/gold) tables instead of Mongo+BigQuery, Structured Streaming
for the simulated daily event stream, plus large-scale training-data
operators (dedup, similarity search, text analysis, multimodal plumbing)
that the reference's single-node pandas design could never reach.

Layout
------
- ``session``    — tuned SparkSession builder (AQE, shuffle partitions).
- ``sources``    — bronze ingestion: JSON/JSONL envelope readers with
                   bad-record skip counting (reference S1/S2), parquet scans.
- ``functions``  — scalar column expressions: schema-drift coalesce,
                   status canonicalization, multi-format timestamp parse,
                   safe divide, deterministic hash ids (reference F1-F11).
- ``operators``  — relational + training-data operators: dedup family
                   (last-writer-wins, keep-first, exact, MinHash-LSH,
                   SimHash, n-gram Jaccard), joins (semi/anti/orphans),
                   similarity search, text analysis, windows.
- ``plans``      — end-to-end table builds: silver facts, gold
                   fact_order_daily, dimensions, quality report.
- ``streaming``  — Structured Streaming stores: the incremental gold
                   fold and the micro-batch curation/index stores.
- ``multimodal`` — binary-column (image/audio/video) plumbing with
                   stubbed decoders.
"""

__version__ = "0.1.0"
