"""Continuous inverted-index ingest — the streaming writer of the store
``operators/retrieval.py::write_text_index`` builds (the same discipline
as ``streaming/embeddings.py::dedup_embeddings_batch``): tail a directory
of document parquet drops and maintain a BM25-servable postings store.

Store layout, one for both writers (``bm25_topk_indexed`` and
``phrase_topk`` read it through ``_index_stats``):

  {store}/postings/ingest_batch=N/term_bucket=B/   posting rows
  {store}/stats/ingest_batch=N/                    one (n, s, n_buckets,
                                                   id_col, positions)
                                                   row per written slice

Micro-batch N lands in ``ingest_batch=N``; a ``text-index`` build or
append lands in the consolidated partition ``ingest_batch=-1``. So a
built index can be extended by a stream, and a stream-built store by
``text-index --append``.

Replay idempotency: every write is a per-batch-partition OVERWRITE — a
replayed micro-batch (crash between commit and checkpoint advance)
reproduces its own partitions bit-identically and the query-time stats
roll-up never double-counts. There is NO mutable meta to corrupt; layout
params ride in every stats row and the reader refuses a store whose
rows disagree (the same check ``write_text_index`` makes before an
append).

At scale: per-batch cost is one map pass over the batch (array-side
distinct-term counts) + a partitioned write — O(batch), never an index
rewrite; the serving probe stays partition-pruned regardless of how many
ingest_batch partitions accumulate (term_bucket prunes at its level).
``compact-index`` folds old batch partitions into the consolidated one
when small-batch file counts grow.

Append semantics: batches are treated as DISJOINT corpus slices — a doc
re-ingested in a later batch contributes postings (and stats) again,
exactly as a corpus containing both copies would. Dedup belongs upstream
(the curation funnel / ``stream-clean-corpus``), not in the index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.retrieval import _index_slice
from commercepulse_data_pipeline_spark.streaming import batches


def text_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> None:
    """Fold one micro-batch of documents into the postings store: its
    stats row, then its postings (the order ``_index_slice`` explains),
    each in the batch's own partition. Zero-token docs hold no postings
    but count in the batch's stats row. On the very first batch a serve
    between the two writes fails with a missing-postings read error:
    honest, and gone once the batch commits."""
    stats, postings = _index_slice(batch_df, text_col, id_col, n_buckets, False)
    batches.write(stats, f"{store_dir}/stats", batch_id)
    batches.write(postings, f"{store_dir}/postings", batch_id, "term_bucket")
