"""The PRETRAIN book: the reference's orchestration model (book →
chapters → pages, lib/book.js / lib/chapter.js) driving the
training-data pipeline operators end-to-end — the composition a user of
the reference would actually run to produce a pretraining corpus.

Chapters (discovered by ``Book.load_chapters``, the same
glob-and-call-every-export contract as books/etl):

1. chapters/ingest/documents.py   (priority 100): incremental
   content-dedup ingest — the batch's fingerprints are left-anti joined
   against the warehouse's historical fingerprint set (the reference's
   watermark incremental-extract identity, extract.js:15-28, applied to
   content), so only unseen content is inserted. Plus the embeddings
   upsert.
2. chapters/curate/score_filter.py (priority 200): single-scan quality +
   language-ID + repetition signals → filter chain → documents_curated
   (one scan, zero joins — the curated_corpus plan shape).
3. chapters/decontam/benchmark.py  (priority 250): benchmark
   decontamination — curated docs sharing any exact normalized 8-gram
   with the doc_id % 97 benchmark slice drop before span-dedup (so a
   leak can't claim span first-occurrence); the positional rate audit
   persists to contamination_audit.
4. chapters/dedup/spans.py         (priority 300): C4-style span-level
   exact dedup over the curated set → documents_clean (cleaned text +
   span stats).
5. chapters/pack/sequences.py      (priority 400): deterministic
   stratified split + concat-and-chunk sequence packing of the train
   split → train_sequences.
6. chapters/validate/checks.py     (priority 500): declarative
   data-quality gate (operators/quality.py) — audit rows persist to
   quality_audit and ANY violation fail-fasts the book (the
   reference's error contract), so bad output never publishes.

Every chapter reads from and writes to the destination Warehouse, so a
rerun is incremental/idempotent: ingest adds nothing for already-seen
content; the per-document tables (scores, curated set, audits) upsert
the same rows, and the tables computed from the decontaminated set as a
whole (documents_decontam, documents_clean, train_sequences) are
replaced, so a document that decontam drops on a rerun leaves all
three.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from empujar_spark.book import Book
from empujar_spark.catalog import Warehouse

CHAPTER_FILES = os.path.join(os.path.dirname(__file__), "chapters", "**", "*.py")


def build_pretrain_book(
    spark: SparkSession, source_dir: str, warehouse: Warehouse
) -> Book:
    book = Book(spark=spark, name="pretrain", log_state_events=False)
    book.add_connection("destination", warehouse)
    book.source_dir = source_dir
    book.load_chapters(CHAPTER_FILES)
    return book


def run_pretrain(
    spark: SparkSession, source_dir: str, warehouse_dir: str,
    semantic_decontam_threshold: float | None = None,
    frozen_quality_classifier: bool = False,
    leakage_safe_split: bool = False,
    blocklist: list[str] | None = None,
) -> Warehouse:
    """Build + run the book, flush the audit table, return the warehouse."""
    wh = Warehouse(spark, warehouse_dir, primary_key="doc_id")
    book = build_pretrain_book(spark, source_dir, wh)
    if semantic_decontam_threshold is not None:
        book.semantic_decontam_threshold = semantic_decontam_threshold
    if frozen_quality_classifier:
        book.frozen_quality_classifier = True
    if leakage_safe_split:
        book.leakage_safe_split = True
    if blocklist:
        book.blocklist = list(blocklist)
    book.run()
    book.flush_audit(wh)
    return wh


def main(argv: list[str] | None = None) -> None:
    import argparse

    from empujar_spark.session import get_spark

    p = argparse.ArgumentParser(description="Run the pretrain-data book")
    p.add_argument("--source", default="/root/testdata/sf0.001")
    p.add_argument("--warehouse", required=True)
    args = p.parse_args(argv)
    spark = get_spark("pretrain-book")
    wh = run_pretrain(spark, args.source, args.warehouse)
    for t in wh.show_tables():
        print(f"{t}: {wh.table_size(t)} rows")


if __name__ == "__main__":
    main()
