"""INGEST chapter (priority 100): incremental content-dedup ingest.

The reference extracts incrementally by watermark (extract.js:15-28);
a content corpus has no reliable watermark, so the identity is the md5
fingerprint: only documents whose normalized-text fingerprint is NOT
already in the warehouse are ingested. A rerun (or an overlapping crawl
re-delivery) adds zero rows.

One admission path: the batch's fingerprints are projected on the
source scan and left-anti joined against ``documents.fingerprint``,
which is exact, so nothing is kept beside the table to admit against.
If the history ever outgrows that join, the engine-native answer is
Spark's runtime bloom-filter join (SPARK-32268), not a hand-maintained
bitmap.
"""

from pyspark.sql import Window
from pyspark.sql import functions as F


def chapter_loader(book):
    from empujar_spark.operators.text import fingerprint_col
    from empujar_spark.plans.corpus import load

    chapter = book.add_chapter(100, "ingest", threads=2)
    wh = book.destination
    spark = book.spark
    source_dir = book.source_dir

    def ingest_documents():
        docs = load(spark, source_dir, "documents")
        # fingerprint as a projection on the SAME scan — joining
        # fingerprint(docs) back to docs would re-scan the source and
        # pay a doc_id shuffle just to re-attach the columns the
        # projection dropped
        fp = docs.withColumn("fingerprint", fingerprint_col(F.col("text")))
        if wh.table_exists("documents"):
            seen = wh.read("documents").select("fingerprint")
            fp = fp.join(seen, "fingerprint", "left_anti")
        # batch-internal exact dups collapse to the smallest doc_id
        # (first-occurrence-wins, same contract as exact_dedup)
        w = Window.partitionBy("fingerprint")
        fresh = (
            fp.withColumn("__keep", F.min("doc_id").over(w))
            .filter(F.col("doc_id") == F.col("__keep"))
            .drop("__keep")
        )
        wh.insert_data("documents", fresh, merge_key="doc_id")

    def ingest_embeddings():
        emb = load(spark, source_dir, "embeddings")
        wh.insert_data("embeddings", emb, merge_key="vec_id")

    chapter.add_page("documents", ingest_documents)
    chapter.add_page("embeddings", ingest_embeddings)
