"""DEDUP chapter (priority 300): C4-style span-level exact dedup over
the DECONTAMINATED set → documents_clean.

Two high-cardinality-key shuffles (span value, doc_id), zero joins —
operators/dedup.py segment_dedup. Cross-document exact duplicates were
already dropped at ingest, benchmark-contaminated docs at decontam
(priority 250 — ordering matters: a contaminated doc must not claim
first-occurrence of a span a clean doc also carries); this pass removes
repeated SPANS (boilerplate, quoted passages) while keeping one
occurrence corpus-wide.

``documents_clean`` is REPLACED each run, like ``documents_decontam``
upstream: it is a pure function of that table, whose key set can
shrink between runs (a document that becomes contaminated when the
benchmark grows), and an upsert never deletes a row.
"""


def chapter_loader(book):
    from empujar_spark.operators.dedup import segment_dedup

    chapter = book.add_chapter(300, "span-dedup")
    wh = book.destination

    def dedup_spans():
        curated = wh.read("documents_decontam")
        clean = segment_dedup(curated, seg_tokens=5)
        meta = curated.select("doc_id", "source", "lang_pred")
        wh.replace_table("documents_clean", clean.join(meta, "doc_id"))

    chapter.add_page("spans", dedup_spans)
