"""End-to-end integration test for the PRETRAIN book — the reference's
orchestration model (book → chapters → pages) driving the training-data
pipeline operators: ingest-dedup → curate → span-dedup → split+pack.
Modeled on test_etl_book (the port of test/integration/etl.js)."""

import os

import pytest
from pyspark.sql import functions as F

from empujar_spark.books.pretrain import run_pretrain

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pre_wh(spark, tmp_path_factory):
    return run_pretrain(spark, SF, str(tmp_path_factory.mktemp("pre-wh")))


def test_tables_produced(pre_wh):
    assert set(pre_wh.show_tables()) >= {
        "documents", "embeddings", "documents_scored", "documents_curated",
        "documents_decontam", "contamination_audit",
        "documents_clean", "train_sequences", "empujar",
    }


def test_ingest_dedup_matches_exact_dedup(pre_wh, spark):
    """Ingested documents = source minus exact-content duplicates
    (first-occurrence-wins), with the fingerprint column attached."""
    from empujar_spark.operators.dedup import exact_dedup
    from empujar_spark.plans.corpus import load

    src = load(spark, SF, "documents")
    expect = {r.doc_id for r in exact_dedup(src).select("doc_id").collect()}
    got = {r.doc_id for r in pre_wh.read("documents").select("doc_id").collect()}
    assert got == expect
    assert "fingerprint" in pre_wh.read("documents").columns


def test_rerun_is_idempotent(pre_wh, spark):
    """A second full run over the same source adds no rows anywhere —
    the content-fingerprint anti-join is the watermark of a content
    corpus; the per-document tables upsert the same rows and the global
    ones are replaced by the same result."""
    from empujar_spark.books.pretrain import build_pretrain_book

    before = {t: pre_wh.table_size(t) for t in pre_wh.show_tables()
              if t != "empujar"}
    book = build_pretrain_book(spark, SF, pre_wh)
    book.run()
    after = {t: pre_wh.table_size(t) for t in pre_wh.show_tables()
             if t != "empujar"}
    assert after == before


def test_rerun_quality_audit_upsert_is_driver_held(pre_wh, spark, monkeypatch):
    """The validate page hands its collected audit over as an Arrow
    table, a driver-local relation, so the rerun's ``quality_audit``
    upsert takes the driver-held plan: at most two Spark jobs (the key
    broadcast and the rewrite) and at most two files (the stored rows
    and the batch), not a cached batch of ``shuffle.partitions`` files."""
    import uuid

    from empujar_spark.books.pretrain import build_pretrain_book
    from empujar_spark.catalog import Warehouse

    sc = spark.sparkContext
    insert, jobs = Warehouse.insert_data, []

    def counted(self, table, *args, **kwargs):
        if table != "quality_audit":
            return insert(self, table, *args, **kwargs)
        page = sc.getLocalProperty("spark.jobGroup.id")
        group = f"audit-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            return insert(self, table, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", page)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    monkeypatch.setattr(Warehouse, "insert_data", counted)
    build_pretrain_book(spark, SF, pre_wh).run()
    assert len(jobs) == 1 and jobs[0] <= 2, jobs
    data_dir = pre_wh._data_dir("quality_audit")
    files = [n for _r, _d, ns in os.walk(data_dir) for n in ns if n.endswith(".parquet")]
    assert len(files) <= 2, files
    assert pre_wh.table_size("quality_audit") == 7


def _digest(wh) -> dict:
    """Each table's row count and an order-free hash of all its columns;
    the book's own state-event table is left out (it holds timings)."""
    out = {}
    for t in wh.show_tables():
        if t != "empujar":
            df = wh.read(t)
            h = F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1 << 40)))
            out[t] = tuple(df.select(F.count(F.lit(1)), h).first())
    return out


def test_rerun_after_a_failed_commit_converges(spark, tmp_path, monkeypatch):
    """A book that dies right after its k-th commit, for every k of the
    run, and is then rerun cleanly leaves every table as an uninterrupted
    run does. v1 delivers 400 documents and embeddings, v2 all 500 (one
    more benchmark document, doc_id 485); each case starts from a copy
    of the v1 warehouse."""
    import shutil
    import threading

    import pyarrow.parquet as pq

    from empujar_spark.books.pretrain import build_pretrain_book
    from empujar_spark.catalog import Warehouse

    def source(name, n):
        src = str(tmp_path / name)
        os.makedirs(src)
        for t in ("documents", "embeddings"):
            rows = pq.read_table(f"{SF}/{t}.parquet").slice(0, n)
            pq.write_table(rows, os.path.join(src, f"{t}.parquet"))
        return src

    v1, v2 = source("v1", 400), source("v2", 500)
    base = str(tmp_path / "base")
    build_pretrain_book(spark, v1, Warehouse(spark, base, primary_key="doc_id")).run()

    write, lock, commits = Warehouse._write, threading.Lock(), []

    def run_v2(name, crash_after=None):
        path = str(tmp_path / name)
        shutil.copytree(base, path)
        wh = Warehouse(spark, path, primary_key="doc_id")
        commits.clear()

        def crashing(self, table, df, meta):
            n = write(self, table, df, meta)
            with lock:
                commits.append(table)
                k = len(commits)
            if k == crash_after:
                raise RuntimeError(f"crash after commit {k} ({table})")
            return n

        monkeypatch.setattr(Warehouse, "_write", crashing)
        try:
            build_pretrain_book(spark, v2, wh).run()
        finally:
            monkeypatch.setattr(Warehouse, "_write", write)
        return wh

    want = _digest(run_v2("uninterrupted"))
    n_commits = len(commits)
    assert n_commits >= 9 and "quality_audit" in want
    for k in range(1, n_commits + 1):
        with pytest.raises(Exception, match=f"crash after commit {k}"):
            run_v2(f"crash-{k}", crash_after=k)
        wh = Warehouse(spark, str(tmp_path / f"crash-{k}"), primary_key="doc_id")
        build_pretrain_book(spark, v2, wh).run()
        assert _digest(wh) == want, k


def test_curated_subset_and_signals(pre_wh):
    cur = pre_wh.read("documents_curated")
    docs = pre_wh.read("documents")
    assert 0 < cur.count() <= docs.count()
    bad = cur.filter(
        ~F.col("n_tokens").between(10, 5000)
        | (F.col("alpha_ratio") < 0.5)
        | (F.col("frac_dup_ngrams") > 0.9)
        | (F.col("lang_pred") == "und")
    ).count()
    assert bad == 0


def test_span_dedup_matches_direct_operator(pre_wh):
    """documents_clean equals segment_dedup run directly on the
    DECONTAMINATED table (the span-dedup input since r14 — ordering
    matters: a contaminated doc must not claim span first-occurrence) —
    the chapter adds orchestration, not semantics."""
    from empujar_spark.operators.dedup import segment_dedup

    direct = {
        r.doc_id: (r.n_segs, r.n_kept, r.clean_text)
        for r in segment_dedup(
            pre_wh.read("documents_decontam"), seg_tokens=5
        ).collect()
    }
    got = {
        r.doc_id: (r.n_segs, r.n_kept, r.clean_text)
        for r in pre_wh.read("documents_clean").collect()
    }
    assert got == direct


def test_packed_sequences_cover_train_split(pre_wh):
    seqs = pre_wh.read("train_sequences")
    assert seqs.filter(F.col("split") != "train").count() == 0
    n_clean = pre_wh.read("documents_clean").count()
    n_train = seqs.count()
    # md5-bucket split: ~80% train with slack for a 500-doc corpus
    assert 0.6 * n_clean < n_train / 0.8 < 1.4 * n_clean
    # offsets are within the packing budget and seq_ids start at 0/shard
    assert seqs.filter(
        (F.col("seq_offset") < 0) | (F.col("seq_offset") >= 256)
    ).count() == 0
    first = seqs.groupBy("shard").agg(F.min("seq_id").alias("m")).collect()
    assert all(r.m == 0 for r in first)


def test_audit_trail_records_chapters(pre_wh):
    audit = pre_wh.read("empujar")
    names = {r.name for r in audit.select("name").distinct().collect()}
    assert {"ingest", "curate", "span-dedup", "pack"} <= names


def test_quality_gate_green_and_persisted(pre_wh):
    """The validate chapter persists the audit and every check passes on
    the book's own output."""
    audit = {r.check: (r.n_violations, r.passed)
             for r in pre_wh.read("quality_audit").collect()}
    assert len(audit) == 7
    assert all(p == 1 and n == 0 for n, p in audit.values()), audit


def test_quality_gate_fails_fast_on_violation(spark, tmp_path):
    """A corrupted output table trips the gate: the book run raises and
    the failure names the violated check."""
    import pytest
    from pyspark.sql import functions as F

    from empujar_spark.books.pretrain import build_pretrain_book, run_pretrain

    wh = run_pretrain(spark, SF, str(tmp_path / "wh"))
    # corrupt: a sequence row pointing at a nonexistent document
    seqs = wh.read("train_sequences")
    bad = seqs.limit(1).withColumn("doc_id", F.lit(10_000_000))
    wh.insert_data("train_sequences", bad, merge_key="doc_id")
    book = build_pretrain_book(spark, SF, wh)
    book.chapter_filter = [500]
    with pytest.raises(Exception, match="seqs.doc_id->clean"):
        book.run()


def test_decontam_drops_planted_leak_and_audits(spark, tmp_path):
    """A training doc embedding a benchmark 8-gram must be EXCISED by
    the decontam chapter (r14): absent from documents_decontam and
    documents_clean, flagged in contamination_audit with the right
    positional hit count — while an equally long clean doc survives to
    packing. The same holds on a rerun: a doc that packed cleanly before
    the benchmark slice grew to cover it leaves every table downstream
    of decontam, which then equal a from-scratch run. Built on synthetic
    source dirs so the leak is planted, not hoped for."""
    import os
    import shutil

    def write_source(name, rows):
        src = str(tmp_path / name)
        os.makedirs(src)
        # embeddings are required by the ingest chapter — reuse the testdata
        shutil.copyfile(
            f"{SF}/embeddings.parquet", os.path.join(src, "embeddings.parquet")
        )
        spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string, source string"
        ).withColumn("n_chars", F.length("text")).coalesce(1).write.parquet(
            os.path.join(src, "documents.parquet")
        )
        return src

    bench_text = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "keeps falling on the quiet town all night long"
    )
    leak = (
        "some perfectly normal training text and then the quick brown "
        "fox jumps over the lazy dog stolen verbatim from the benchmark"
    )
    clean = (
        "another perfectly normal training document about rivers and "
        "mountains with enough simple english words to pass the filters"
    )
    rows = [(0, bench_text, "en", "srcA"),       # doc_id % 97 == 0: benchmark
            (1, leak, "en", "srcA"),
            (2, clean, "en", "srcB")]
    src = write_source("source", rows)
    wh = run_pretrain(spark, src, str(tmp_path / "wh"))
    decon_ids = {r.doc_id for r in wh.read("documents_decontam").collect()}
    assert 2 in decon_ids and 1 not in decon_ids and 0 not in decon_ids
    clean_ids = {r.doc_id for r in wh.read("documents_clean").collect()}
    assert 1 not in clean_ids and 0 not in clean_ids
    audit = {r.doc_id: r for r in wh.read("contamination_audit").collect()}
    assert audit[1].contaminated and audit[1].n_hits >= 1
    assert audit[0].contaminated and audit[0].hit_rate == 1.0  # self-leak
    assert not audit[2].contaminated and audit[2].n_grams > 0

    def ids(w, t):
        return sorted(r.doc_id for r in w.read(t).select("doc_id").collect())

    rerun_dir = str(tmp_path / "wh-rerun")
    first = run_pretrain(spark, write_source("source-v1", rows[1:]), rerun_dir)
    assert 1 in ids(first, "documents_clean")
    assert 1 in ids(first, "train_sequences")
    rerun = run_pretrain(spark, src, rerun_dir)
    for t in ("documents_decontam", "documents_clean", "train_sequences"):
        assert 1 not in ids(rerun, t), t
        assert ids(rerun, t) == ids(wh, t), t


def test_pretrain_book_semantic_decontam_excises_paraphrase_leak(spark):
    """Opt-in semantic decontam leg (r15): a planted PARAPHRASE leak — a
    curated doc whose embedding is a benchmark vector's near-copy but
    whose text shares no 8-gram with the benchmark — sails through the
    n-gram gate and must be excised once the book opts into
    ``semantic_decontam_threshold``; the hit lands in
    semantic_contamination_audit with its benchmark match."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    src = tempfile.mkdtemp(prefix="t-pretrain-sem-src-")
    for t in ("documents", "embeddings"):
        shutil.copyfile(
            f"/root/testdata/sf0.001/{t}.parquet", f"{src}/{t}.parquet"
        )

    # n-gram-only run: pick a surviving non-benchmark doc as the plant
    wh1 = run_pretrain(
        spark, src, tempfile.mkdtemp(prefix="t-pretrain-sem1-")
    )
    survivors = [
        r.doc_id
        for r in wh1.read("documents_decontam").select("doc_id").collect()
        if r.doc_id % 97 != 0
    ]
    assert survivors
    plant = min(survivors)
    bench_vec_id = 97  # doc_id % 97 == 0 benchmark member

    # doctor the SOURCE embeddings: the plant's vector becomes the
    # benchmark vector's exact copy (cosine 1.0) — text untouched
    t = pq.read_table(f"{src}/embeddings.parquet").to_pandas()
    bvec = t.loc[t.vec_id == bench_vec_id, "embedding"].iloc[0]
    t.at[t.index[t.vec_id == plant][0], "embedding"] = bvec
    import pyarrow as pa

    pq.write_table(
        pa.Table.from_pandas(t, preserve_index=False),
        f"{src}/embeddings.parquet",
    )

    # n-gram-only rerun still keeps the plant (the gate is blind to it)
    wh2 = run_pretrain(
        spark, src, tempfile.mkdtemp(prefix="t-pretrain-sem2-")
    )
    kept = {r.doc_id for r in wh2.read("documents_decontam").collect()}
    assert plant in kept

    # semantic opt-in: the plant is excised and audited
    wh3 = run_pretrain(
        spark, src, tempfile.mkdtemp(prefix="t-pretrain-sem3-"),
        semantic_decontam_threshold=0.95,
    )
    kept3 = {r.doc_id for r in wh3.read("documents_decontam").collect()}
    assert plant not in kept3
    hits = {
        r.vec_id: r.bench_id
        for r in wh3.read("semantic_contamination_audit").collect()
    }
    assert hits[plant] == bench_vec_id
    # and nothing else was excised relative to the n-gram-only run
    # beyond semantic hits
    assert kept - kept3 <= set(hits)


def test_pretrain_book_frozen_classifier_decisions_reproduce(spark):
    """Opt-in frozen quality-classifier leg (r16 / VERDICT r15 item 4):
    with ``frozen_quality_classifier=True`` the curate stage also gates
    survivors through the committed FROZEN_QUALITY_WEIGHTS student —
    and because every float step is grid-quantized with the weights as
    plan literals, two independent runs (fresh warehouses) must keep
    EXACTLY the same documents with EXACTLY the same 6dp scores. The
    frozen gate must also genuinely bite (a strict subset of the
    rule-only survivors on this fixture) and agree with the operator
    serving the same artifact directly."""
    import tempfile

    from empujar_spark.operators import classifier as CL
    from empujar_spark.plans.corpus import load

    rule_only = run_pretrain(
        spark, SF, tempfile.mkdtemp(prefix="t-pretrain-frz0-")
    )
    rule_ids = {
        r.doc_id for r in rule_only.read("documents_curated").collect()
    }

    def frozen_run():
        wh = run_pretrain(
            spark, SF, tempfile.mkdtemp(prefix="t-pretrain-frz-"),
            frozen_quality_classifier=True,
        )
        return {
            (r.doc_id, r.q_score)
            for r in wh.read("documents_curated")
            .select("doc_id", "q_score").collect()
        }

    run1, run2 = frozen_run(), frozen_run()
    assert run1 == run2, "frozen filter decisions differ across reruns"
    frozen_ids = {d for d, _ in run1}
    assert frozen_ids < rule_ids, "frozen gate did not bite"

    # same decisions as score_linear served directly over the book's
    # quantized signals (lt 6dp over n_tokens, ar as written at 4dp)
    w = CL.FROZEN_QUALITY_WEIGHTS
    scored = rule_only.read("documents_scored")
    direct = CL.score_linear(
        scored.withColumn("lt", F.round(F.log1p(F.col("n_tokens")), 6))
        .withColumn("ar", F.col("alpha_ratio")),
        {"lt": w["lt"], "ar": w["ar"]},
        bias=w["bias"],
        out_col="q_score",
    ).filter(F.col("q_score_pred") == "keep")
    expect = {
        (r.doc_id, r.q_score)
        for r in direct.select("doc_id", "q_score").collect()
        if r.doc_id in rule_ids
    }
    assert run1 == expect


def test_pretrain_book_leakage_safe_split_option(spark):
    """Opt-in fingerprint-keyed split (r16): with
    ``leakage_safe_split=True`` the pack stage keys train/val/test on
    the ingest-stage content fingerprint — the assignment matches
    leakage_safe_split applied directly to the same frames, and stays
    deterministic across reruns."""
    import tempfile

    from empujar_spark.operators.profile import leakage_safe_split

    def run():
        wh = run_pretrain(
            spark, SF, tempfile.mkdtemp(prefix="t-pretrain-lss-"),
            leakage_safe_split=True,
        )
        return wh

    wh = run()
    got = {
        r.doc_id: r.split
        for r in wh.read("train_sequences").select("doc_id", "split")
        .distinct().collect()
    }
    assert got and set(got.values()) == {"train"}  # only train is packed
    # direct-operator parity on the same inputs
    clean = wh.read("documents_clean")
    fp = wh.read("documents").select("doc_id", "fingerprint")
    direct = {
        r.doc_id: r.split
        for r in leakage_safe_split(clean.join(fp, "doc_id"), "fingerprint")
        .select("doc_id", "split").collect()
    }
    packed_ids = set(got)
    assert packed_ids == {d for d, s in direct.items() if s == "train"}
    # rerun determinism: a fresh warehouse packs the identical id set
    wh2 = run()
    got2 = {
        r.doc_id
        for r in wh2.read("train_sequences").select("doc_id").collect()
    }
    assert got2 == packed_ids


def test_pretrain_book_blocklist_option_excises_planted_doc(spark):
    """Opt-in blocklist leg (r16): the curate stage rides the C4-style
    token-exact gate on its single signal scan. A planted doc carrying
    a blocked term survives the default run and is excised (with its
    n_blocked audit column in documents_scored) once the book sets a
    blocklist; clean docs are untouched."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tempfile.mkdtemp(prefix="t-pretrain-bl-src-")
    for t in ("documents", "embeddings"):
        shutil.copyfile(
            f"/root/testdata/sf0.001/{t}.parquet", f"{src}/{t}.parquet"
        )
    # plant a blocked term into one otherwise-surviving doc's text
    tbl = pq.read_table(f"{src}/documents.parquet").to_pandas()
    base = run_pretrain(spark, src, tempfile.mkdtemp(prefix="t-pre-bl0-"))
    survivor_ids = {
        r.doc_id for r in base.read("documents_curated").collect()
    }
    plant = min(survivor_ids)
    idx = tbl.index[tbl.doc_id == plant][0]
    tbl.at[idx, "text"] = tbl.at[idx, "text"] + " zzzforbidden"
    pq.write_table(
        pa.Table.from_pandas(tbl, preserve_index=False),
        f"{src}/documents.parquet",
    )

    # default run: the planted doc still survives (no blocklist)
    wh1 = run_pretrain(spark, src, tempfile.mkdtemp(prefix="t-pre-bl1-"))
    kept1 = {r.doc_id for r in wh1.read("documents_curated").collect()}
    assert plant in kept1

    # blocklist run: the planted doc is excised, audit column present
    wh2 = run_pretrain(
        spark, src, tempfile.mkdtemp(prefix="t-pre-bl2-"),
        blocklist=["zzzforbidden"],
    )
    kept2 = {r.doc_id for r in wh2.read("documents_curated").collect()}
    assert plant not in kept2
    assert kept2 == kept1 - {plant}
    audit = {
        r.doc_id: r.n_blocked
        for r in wh2.read("documents_scored")
        .select("doc_id", "n_blocked").collect()
    }
    assert audit[plant] == 1
    assert all(v == 0 for d, v in audit.items() if d != plant)
