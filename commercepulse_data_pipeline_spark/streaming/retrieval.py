"""Continuous inverted-index ingest — the streaming sibling of
``operators/retrieval.py::write_text_index`` (the same discipline as
``streaming/embeddings.py::dedup_embeddings_batch``): tail a directory of
document parquet drops and maintain a BM25-servable postings store.

Store layout (what ``bm25_topk_indexed`` reads when no batch-mode
``meta/`` sidecar exists):

  {store}/postings/ingest_batch=N/term_bucket=B/   posting rows
  {store}/stats/ingest_batch=N/                    one (n, s, n_buckets,
                                                   id_col) row per batch

Replay idempotency: every write is a per-batch-partition OVERWRITE — a
replayed micro-batch (crash between commit and checkpoint advance)
reproduces its own partitions bit-identically and the query-time stats
roll-up never double-counts. There is NO mutable meta to corrupt; layout
params ride in every stats row and the reader refuses a store whose
batches disagree (the stream-side analogue of write_text_index's
append-param pin).

At scale: per-batch cost is one map pass over the batch (array-side
distinct-term counts) + a partitioned write — O(batch), never an index
rewrite; the serving probe stays partition-pruned regardless of how many
ingest_batch partitions accumulate (term_bucket prunes at its level).
Compact with the same maintenance tooling as any hive-partitioned table
when small-batch file counts grow.

Append semantics: batches are treated as DISJOINT corpus slices — a doc
re-ingested in a later batch contributes postings (and stats) again,
exactly as a corpus containing both copies would. Dedup belongs upstream
(the curation funnel / ``stream-clean-corpus``), not in the index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.functions.localdf import one_slice_df

from ..operators.retrieval import _corpus_stats, _postings_from_staged, _staged_rle
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
    """Fold one micro-batch of documents into the postings store.
    Zero-token docs hold no postings but count in the batch's stats row
    (the write_text_index contract, single-sourced in ``_corpus_stats``).

    Write order is stats FIRST, postings second — deliberately: a serve
    racing a half-committed batch (or reading after a crash between the
    two writes) then sees stats that count docs whose postings are not
    yet visible, which only UNDER-ranks (the docs are absent, idf/avgdl
    slightly conservative) and converges on replay. The opposite order
    would score visible postings against stats that undercount the
    corpus — systematically inflated scores, which is the worse silent
    failure. On the very first batch the window instead surfaces as a
    missing-postings read error: honest, and gone once the batch
    commits."""
    spark = batch_df.sparkSession
    staged = _staged_rle(batch_df, text_col).localCheckpoint(eager=True)
    stats_row = _corpus_stats(staged)
    batches.write(
        one_slice_df(
            spark,
            [(int(stats_row["n"]), int(stats_row["s"]), n_buckets, id_col)],
            "n long, s long, n_buckets int, id_col string",
        ),
        f"{store_dir}/stats",
        batch_id,
    )
    batches.write(
        _postings_from_staged(staged, id_col, n_buckets),
        f"{store_dir}/postings",
        batch_id,
        "term_bucket",
    )
