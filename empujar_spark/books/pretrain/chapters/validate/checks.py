"""VALIDATE chapter (priority 500): declarative data-quality gate.

Runs the constraint checks (operators/quality.py) over the book's output
tables, persists the audit rows to ``quality_audit``, and FAILS the page
— which fail-fasts the book, the reference's error contract
(lib/book.js run/error events) — if any check has violations. The
publish step a real pipeline gates on.
"""

from pyspark.sql import functions as F


def chapter_loader(book):
    from empujar_spark.operators import quality as Q

    chapter = book.add_chapter(500, "validate")
    wh = book.destination

    def validate():
        clean = wh.read("documents_clean")
        curated = wh.read("documents_curated")
        seqs = wh.read("train_sequences")
        # per-table aggregate checks fuse into ONE aggregate per table
        # (expect_fused, r16): clean and seqs are each scanned once for
        # their 2-3 constraints instead of once per check; the FK checks
        # stay separate (anti-joins, not single-table aggregates). Check
        # names and counts are identical, so the audit/gate semantics
        # and the quality_audit upsert (keyed on check) are unchanged.
        audit = Q.run_checks([
            Q.expect_fused(clean, [
                Q.unique_spec(["doc_id"], name="clean.unique(doc_id)"),
                Q.not_null_spec("clean_text"),
            ]),
            Q.expect_fused(seqs, [
                Q.unique_spec(["doc_id"], name="seqs.unique(doc_id)"),
                Q.accepted_values_spec("split", ["train"]),
                Q.in_range_spec("seq_offset", 0, 255),
            ]),
            Q.expect_references(
                clean, "doc_id", curated, "doc_id",
                name="clean.doc_id->curated"),
            Q.expect_references(
                seqs, "doc_id", clean, "doc_id",
                name="seqs.doc_id->clean"),
        ])
        # Gate on THIS run's audit, not the upserted history: a stale row
        # from a renamed/removed check would otherwise fail the gate
        # forever (or a historical pass could mask a current failure the
        # merge didn't overwrite). The audit rows are tiny (one per
        # check), so collect them once and reuse for both persist + gate;
        # as an Arrow table they upsert as a driver-local relation.
        rows = audit.toArrow()
        wh.insert_data(
            "quality_audit", book.spark.createDataFrame(rows), merge_key="check"
        )
        failed = [r["check"] for r in rows.to_pylist() if r["passed"] != 1]
        if failed:
            raise ValueError(f"quality gate failed: {failed}")

    chapter.add_page("quality-gate", validate)
