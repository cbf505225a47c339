"""PACK chapter (priority 400): deterministic stratified split + packed
training sequences → train_sequences.

Split assignment is the md5-bucket rule (stable under reruns and corpus
growth — operators/profile.py stratified_split); only the train split is
packed. Packing is md5-sharded (window partitions by shard), so the
running-sum never funnels the corpus through one partition.
``train_sequences`` is REPLACED each run: it is a pure function of
``documents_clean``, whose key set can shrink between runs, and an
upsert never deletes a row.

LEAKAGE-SAFE SPLIT (opt-in, r16): ingest dedup removes EXACT duplicates
but span-dedup deliberately keeps distinct documents that still share
content. A book that sets ``book.leakage_safe_split = True`` keys the
split on the ingest-stage content fingerprint (joined from the
documents table) instead of the doc_id, so any exact-content group the
pipeline ever re-admits — and any rows a caller re-keys — can never
straddle train/eval (operators/profile.py leakage_safe_split). Off by
default: the id-keyed assignment stays bit-identical.
"""

from pyspark.sql import functions as F


def chapter_loader(book):
    from empujar_spark.operators.curation import pack_sequences
    from empujar_spark.operators.profile import (
        leakage_safe_split,
        stratified_split,
    )

    chapter = book.add_chapter(400, "pack")
    wh = book.destination

    def pack():
        clean = wh.read("documents_clean").withColumnRenamed(
            "clean_text", "text"
        )
        if getattr(book, "leakage_safe_split", False):
            fp = wh.read("documents").select("doc_id", "fingerprint")
            split = leakage_safe_split(
                clean.join(fp, "doc_id"), "fingerprint",
                val_permille=100, test_permille=100,
            ).select("doc_id", "split")
        else:
            split = stratified_split(
                clean, val_permille=100, test_permille=100
            ).select("doc_id", "split")
        train = clean.join(split, "doc_id").filter(F.col("split") == "train")
        packed = pack_sequences(train, budget=256, n_shards=8)
        wh.replace_table("train_sequences", packed.join(split, "doc_id"))

    chapter.add_page("sequences", pack)
