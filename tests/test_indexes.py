"""Index registry: per-kind round trips, provenance, staleness flags.

The registry's contract: every stored index kind (bm25/ivf/pq/bloom/
minhash bands) round-trips through named component tables; provenance
records the source's data version (warehouse source) or listing
fingerprint (external parquet); a source-version flip raises the stale
flag while the index KEEPS SERVING; vacuum never breaks either.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from empujar_spark.catalog import Warehouse
from empujar_spark.indexes import IndexRegistry

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def reg(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), primary_key="doc_id")
    return IndexRegistry(wh)


def _docs(spark, n=60):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < n)
    )


class TestRoundTrips:
    def test_bm25_round_trip_serves_identically(self, spark, reg):
        from empujar_spark.operators import text as X

        docs = _docs(spark)
        idx = X.bm25_build_index(docs)
        reg.register(
            "bm25_docs", "bm25", idx,
            source_path=f"{SF}/documents.parquet",
            params={"k1": 1.2, "b": 0.75},
        )
        stored = reg.read("bm25_docs")
        assert set(stored) == {"postings", "dfreq", "doclen", "stats"}
        q = {"q1": ["the", "quick", "data"]}
        want = {tuple(r) for r in
                X.bm25_search_indexed(idx, q, top_n=5).collect()}
        got = {tuple(r) for r in
               X.bm25_search_indexed(stored, q, top_n=5).collect()}
        assert got == want and len(got) > 0

    def test_ivf_round_trip_with_partitioned_assignments(self, spark, reg):
        from empujar_spark.operators import similarity as S

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        idx = S.ivf_build_index(emb, n_centroids=8)
        reg.register(
            "ivf_emb", "ivf", idx,
            source_path=f"{SF}/embeddings.parquet",
            partition_cols={"assignments": ["cid"]},
        )
        stored = reg.read("ivf_emb")
        queries = emb.filter(F.col("vec_id") < 5)
        want = {tuple(r) for r in
                S.ivf_search_indexed(idx, queries, k=3, nprobe=8).collect()}
        got = {tuple(r) for r in
                S.ivf_search_indexed(stored, queries, k=3, nprobe=8).collect()}
        assert got == want and len(got) > 0
        # hive layout really is partitioned on cid
        meta = reg.wh._load_meta("__idx_ivf_emb__g1__assignments")
        assert meta["partition_cols"] == ["cid"]

    def test_pq_round_trip(self, spark, reg):
        from empujar_spark.operators import similarity as S

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        idx = S.pq_build_index(emb, m=8, ks=16)
        reg.register("pq_emb", "pq", idx,
                     source_path=f"{SF}/embeddings.parquet")
        stored = reg.read("pq_emb")
        assert stored["codes"].count() == idx["codes"].count()

        def rows(df):  # codebook centroids are array columns — unhashable
            return sorted(
                tuple(tuple(x) if isinstance(x, list) else x for x in r)
                for r in df.collect()
            )

        assert rows(stored["codebooks"]) == rows(idx["codebooks"])

    def test_bloom_round_trip(self, spark, reg):
        from empujar_spark.operators import sketch as K
        from empujar_spark.operators import text as X

        fp = X.fingerprint(_docs(spark))
        bits, m, k = K.build_bloom(fp, "fingerprint", expected_items=60)
        reg.register(
            "bloom_docs", "bloom",
            {"bitmap": K.bloom_to_df(spark, bits, m, k)},
            source_path=f"{SF}/documents.parquet",
        )
        got = K.bloom_from_df(reg.read("bloom_docs")["bitmap"])
        assert got == (bits, m, k)

    def test_minhash_band_history_round_trip(self, spark, reg):
        from empujar_spark.operators import dedup as D

        docs = _docs(spark)
        hist = D.band_history_table(docs)
        reg.register("bands_docs", "minhash_bands", {"bands": hist},
                     source_path=f"{SF}/documents.parquet")
        stored = reg.read("bands_docs")["bands"]
        assert {tuple(r) for r in stored.collect()} == {
            tuple(r) for r in hist.collect()
        }


class TestProvenance:
    def test_source_version_flip_sets_stale_index_still_serves(self, spark, reg):
        wh = reg.wh
        wh.insert_data("documents", _docs(spark, 40))
        from empujar_spark.operators import text as X

        idx = X.bm25_build_index(wh.read("documents"))
        reg.register("bm25_live", "bm25", idx, source_table="documents")
        assert not reg.is_stale("bm25_live")
        built_v = reg.describe("bm25_live")["built_from"]["version"]

        # source advances: version flip -> stale, but serving unbroken
        wh.insert_data("documents", _docs(spark, 60))
        st = reg.staleness("bm25_live")
        assert st["stale"] and f"v{built_v}" in st["reason"]
        assert reg.read("bm25_live")["postings"].count() > 0

        # vacuum prunes old source versions; the flag and the index survive
        wh.vacuum()
        assert reg.is_stale("bm25_live")
        assert reg.read("bm25_live")["postings"].count() > 0

        # rebuild clears the flag
        reg.register("bm25_live", "bm25",
                     X.bm25_build_index(wh.read("documents")),
                     source_table="documents")
        assert not reg.is_stale("bm25_live")

    def test_external_path_fingerprint(self, spark, reg, tmp_path):
        src = str(tmp_path / "src")
        _docs(spark, 20).write.parquet(src)
        reg.register("ext", "custom",
                     {"t": spark.read.parquet(src)}, source_path=src)
        assert not reg.is_stale("ext")
        _docs(spark, 30).write.mode("overwrite").parquet(src)
        st = reg.staleness("ext")
        assert st["stale"] and st["reason"] == "source files changed"

    def test_missing_source_reports_not_raises(self, spark, reg, tmp_path):
        src = str(tmp_path / "gone")
        _docs(spark, 10).write.parquet(src)
        reg.register("doomed", "custom",
                     {"t": spark.read.parquet(src)}, source_path=src)
        import shutil

        shutil.rmtree(src)
        st = reg.staleness("doomed")
        assert st["stale"] and "missing" in st["reason"]


class TestLifecycle:
    def test_reregister_replaces_not_merges(self, spark, reg):
        a = spark.createDataFrame([(1, "a")], "doc_id long, v string")
        b = spark.createDataFrame([(2, "b")], "doc_id long, v string")
        reg.register("r", "custom", {"t": a},
                     source_path=f"{SF}/documents.parquet")
        reg.register("r", "custom", {"t": b},
                     source_path=f"{SF}/documents.parquet")
        rows = reg.read("r")["t"].collect()
        assert [(r.doc_id, r.v) for r in rows] == [(2, "b")]

    def test_drop_removes_tables_and_entry(self, spark, reg):
        reg.register(
            "gone", "custom",
            {"t": spark.createDataFrame([(1,)], "doc_id long")},
            source_path=f"{SF}/documents.parquet",
        )
        assert "gone" in reg.list_indexes()
        reg.drop("gone")
        assert "gone" not in reg.list_indexes()
        assert not reg.wh.table_exists("__idx_gone__g1__t")
        with pytest.raises(KeyError):
            reg.read("gone")

    def test_register_validates_inputs(self, spark, reg):
        t = spark.createDataFrame([(1,)], "doc_id long")
        with pytest.raises(ValueError, match="kind"):
            reg.register("x", "nope", {"t": t}, source_path=SF)
        with pytest.raises(ValueError, match="exactly one"):
            reg.register("x", "custom", {"t": t})
        with pytest.raises(ValueError, match="exactly one"):
            reg.register("x", "custom", {"t": t},
                         source_table="a", source_path="b")


class TestClusteredComponents:
    def test_bm25_term_filter_reaches_clustered_scan(self, spark, reg):
        """The serving contract at 100 TB: postings registered with
        cluster_by=['term'] + the literal In(term,...) filter in
        bm25_search_indexed means the parquet scan PRUNES — the pushed
        filter must appear in the physical plan, and results must stay
        bit-identical to the unclustered index."""
        from empujar_spark.operators import text as X

        docs = _docs(spark, 80)
        idx = X.bm25_build_index(docs)
        reg.register(
            "bm25_clustered", "bm25", idx,
            source_path=f"{SF}/documents.parquet",
            cluster_by={"postings": ["term"]}, cluster_files=8,
        )
        stored = reg.read("bm25_clustered")
        q = {"q1": ["the", "data", "quick"]}
        plan = stored["postings"].filter(
            F.col("term").isin(["the", "data", "quick"])
        )._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [In(term" in plan, plan[:800]
        want = {tuple(r) for r in
                X.bm25_search_indexed(idx, q, top_n=5).collect()}
        got = {tuple(r) for r in
               X.bm25_search_indexed(stored, q, top_n=5).collect()}
        assert got == want and len(got) > 0

    def test_search_falls_back_to_semi_join_on_huge_term_sets(self, spark, reg):
        from empujar_spark.operators import text as X

        docs = _docs(spark, 40)
        idx = X.bm25_build_index(docs)
        # >1024 terms: the literal-In plan would bloat; results must
        # still match the small-query path for the terms that exist
        big = {"q1": [f"zz{i}" for i in range(1100)] + ["the"]}
        small = {"q1": ["the"]}
        got = {tuple(r) for r in X.bm25_search_indexed(idx, big, top_n=5).collect()}
        want = {tuple(r) for r in X.bm25_search_indexed(idx, small, top_n=5).collect()}
        assert got == want and len(got) > 0


def test_ivf_stored_probe_prunes_partitions_dynamically(spark, reg):
    """The cid-hive-partitioned assignments scan must carry a dynamic
    partition-pruning expression: the probe's broadcast join on cid lets
    Spark skip every inverted-list directory outside the probed lists at
    runtime — the physical property the registry's partition_cols layout
    exists for. If a read-path change (e.g. _conform casts) ever breaks
    DPP injection, serving degrades to full-index scans silently; this
    pins the plan."""
    from empujar_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = S.ivf_build_index(emb, n_centroids=8)
    reg.register("ivf_dpp", "ivf", idx,
                 source_path=f"{SF}/embeddings.parquet",
                 partition_cols={"assignments": ["cid"]})
    stored = reg.read("ivf_dpp")
    res = S.ivf_search_indexed(stored, emb.filter(F.col("vec_id") < 5),
                               k=3, nprobe=4)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan[:800]


class TestGenerationAtomicity:
    def test_failed_rebuild_leaves_old_generation_fully_live(self, spark, reg):
        """register() must be ATOMIC across components: a rebuild whose
        second component write dies mid-flight leaves the manifest — and
        therefore read() — pointing at the old generation for EVERY
        component (a mixed new-postings/old-dfreq index must be
        impossible)."""
        a1 = spark.createDataFrame([(1, "a1")], "doc_id long, v string")
        b1 = spark.createDataFrame([(1, "b1")], "doc_id long, v string")
        reg.register("atomic", "custom", {"a": a1, "b": b1},
                     source_path=f"{SF}/documents.parquet")

        a2 = spark.createDataFrame([(2, "a2")], "doc_id long, v string")
        boom = spark.createDataFrame([(2,)], "doc_id long").withColumn(
            "v", F.raise_error(F.lit("boom")).cast("string")
        )
        with pytest.raises(Exception):
            reg.register("atomic", "custom", {"a": a2, "b": boom},
                         source_path=f"{SF}/documents.parquet")

        got = {c: [(r.doc_id, r.v) for r in df.collect()]
               for c, df in reg.read("atomic").items()}
        assert got == {"a": [(1, "a1")], "b": [(1, "b1")]}
        assert reg.describe("atomic").get("generation", 1) == 1

        # a subsequent successful rebuild supersedes cleanly and prunes
        b2 = spark.createDataFrame([(2, "b2")], "doc_id long, v string")
        reg.register("atomic", "custom", {"a": a2, "b": b2},
                     source_path=f"{SF}/documents.parquet")
        got = {c: [(r.doc_id, r.v) for r in df.collect()]
               for c, df in reg.read("atomic").items()}
        assert got == {"a": [(2, "a2")], "b": [(2, "b2")]}

    def test_predecessor_generation_retained_one_flip(self, spark, reg):
        """The immediately superseded generation stays on disk one flip
        (in-flight reader grace, like keep_old_versions); the one before
        it is pruned."""
        for i in (1, 2, 3):
            reg.register(
                "gens", "custom",
                {"t": spark.createDataFrame([(i,)], "doc_id long")},
                source_path=f"{SF}/documents.parquet",
            )
        assert reg.describe("gens")["generation"] == 3
        assert reg.wh.table_exists("__idx_gens__g2__t")   # grace copy
        assert not reg.wh.table_exists("__idx_gens__g1__t")  # pruned
        assert [r.doc_id for r in reg.read("gens")["t"].collect()] == [3]


class TestEnsureFresh:
    def test_builds_only_when_missing_or_stale(self, spark, reg):
        wh = reg.wh
        wh.insert_data("documents", _docs(spark, 30))
        calls = []

        def build():
            calls.append(1)
            return {"t": wh.read("documents").select("doc_id")}

        # missing -> build
        assert reg.ensure_fresh("ef", "custom", build,
                                source_table="documents") is True
        # fresh -> no build
        assert reg.ensure_fresh("ef", "custom", build,
                                source_table="documents") is False
        assert len(calls) == 1
        # source moves -> stale -> rebuild, flag cleared
        wh.insert_data("documents", _docs(spark, 50))
        assert reg.ensure_fresh("ef", "custom", build,
                                source_table="documents") is True
        assert len(calls) == 2 and not reg.is_stale("ef")
        assert reg.read("ef")["t"].count() == 50


def test_incremental_maintenance_refresh_provenance(spark, reg):
    """The incremental-maintenance path: fold a batch INTO the current
    generation's component table (no rebuild), then refresh_provenance
    clears the stale flag — the bloom_union / band-history contract."""
    wh = reg.wh
    wh.insert_data("documents", _docs(spark, 30))
    reg.register(
        "inc", "minhash_bands",
        {"bands": wh.read("documents").select("doc_id")},
        source_table="documents",
    )
    # source advances -> stale
    wh.insert_data("documents", _docs(spark, 50))
    assert reg.is_stale("inc")

    # maintainer folds just the delta into the CURRENT generation table
    tbl = reg.component_table("inc", "bands")
    delta = wh.read("documents").select("doc_id").filter(
        F.col("doc_id") >= 30
    )
    wh.insert_data(tbl, delta, merge_key="doc_id")
    entry = reg.refresh_provenance("inc")
    assert not reg.is_stale("inc")
    assert entry["built_from"]["version"] == wh.table_versions("documents")[-1]
    assert reg.read("inc")["bands"].count() == 50

    with pytest.raises(KeyError, match="no component"):
        reg.component_table("inc", "nope")


# ---------------------------------------------------------------------
# round 11: cross-process manifest safety, enumeration pruning,
# provenance pinning, fold-aware freshness
# ---------------------------------------------------------------------

_CHILD_REGISTER = """
import sys, threading

sys.path.insert(0, sys.argv[4])
from empujar_spark.indexes import IndexRegistry


class StubWH:
    '''Manifest-only warehouse stand-in: register()'s component writes
    are no-ops so the child exercises exactly the shared-file
    read-modify-write the flock exists to serialize.'''

    def __init__(self, path):
        self.path = path
        self._lock = threading.RLock()
        self.partition_cols = {}

    def replace_table(self, tbl, df, layout=None):
        return 1

    def show_tables(self):
        return []

    def table_exists(self, t):
        return False

    def drop_table(self, t):
        pass

    def table_versions(self, t):
        return [1]


wh_path, tag, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
reg = IndexRegistry(StubWH(wh_path))
for i in range(n):
    reg.register(f"{tag}_{i}", "custom", {"c": None}, source_path=wh_path)
"""


def test_cross_process_register_no_lost_updates(tmp_path):
    """VERDICT r10 #2 / ADVICE: two PROCESSES registering different
    index names concurrently must both survive in the manifest — the
    whole-file load/modify/save was last-writer-wins under only the
    in-process RLock, silently dropping the loser's entry while its
    component tables stayed on disk. The flock around manifest R-M-W
    closes it; 2×25 registrations interleave enough that the unlocked
    code loses entries near-deterministically."""
    import json
    import os
    import subprocess
    import sys

    wh_dir = tmp_path / "wh"
    wh_dir.mkdir()
    script = tmp_path / "child.py"
    script.write_text(_CHILD_REGISTER)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), str(wh_dir), tag, "25", repo],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        for tag in ("alpha", "beta")
    ]
    for p in procs:
        _, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()
    with open(wh_dir / "_indexes.json") as fh:
        manifest = json.load(fh)
    want = {f"{tag}_{i}" for tag in ("alpha", "beta") for i in range(25)}
    assert set(manifest) == want  # nothing lost to the R-M-W race


class TestGenerationPruning:
    def _gens_on_disk(self, reg, name):
        return sorted(reg._generation_tables(name))

    def test_crashed_generation_trail_fully_pruned(self, spark, reg):
        """VERDICT r10 #5: pruning must enumerate the catalog, not scan a
        fixed 8-generation lookback — a trail of kill-orphaned component
        tables (builds that died before the flip) beyond the window
        leaked forever. A successful register now leaves EXACTLY the new
        generation plus its predecessor, however long the trail."""
        df = spark.createDataFrame([(1,)], "doc_id long")
        reg.register("trail", "custom", {"t": df},
                     source_path=f"{SF}/documents.parquet")
        # simulate kill-orphans: component tables written by rebuilds
        # that died before their manifest flip (no cleanup ran)
        for g in range(3, 15):
            reg.wh.replace_table(f"__idx_trail__g{g}__t", df)
        assert self._gens_on_disk(reg, "trail") == [1] + list(range(3, 15))

        reg.register("trail", "custom", {"t": df},
                     source_path=f"{SF}/documents.parquet")
        assert reg.describe("trail")["generation"] == 2
        assert self._gens_on_disk(reg, "trail") == [1, 2]  # trail gone

    def test_drop_removes_crashed_orphans_too(self, spark, reg):
        df = spark.createDataFrame([(1,)], "doc_id long")
        reg.register("dorph", "custom", {"t": df},
                     source_path=f"{SF}/documents.parquet")
        reg.wh.replace_table("__idx_dorph__g7__t", df)
        reg.drop("dorph")
        assert self._gens_on_disk(reg, "dorph") == []
        assert "dorph" not in reg.list_indexes()

    def test_failed_register_drops_partial_generation_tables(self, spark, reg):
        """ADVICE r10: a register that dies after committing SOME
        components must tear its partial generation down before
        re-raising — otherwise drop() (which prunes by manifest state)
        could never reach them and they leaked permanently."""
        ok = spark.createDataFrame([(1, "x")], "doc_id long, v string")
        reg.register("partial", "custom", {"a": ok, "b": ok},
                     source_path=f"{SF}/documents.parquet")
        boom = spark.createDataFrame([(2,)], "doc_id long").withColumn(
            "v", F.raise_error(F.lit("boom")).cast("string")
        )
        with pytest.raises(Exception):
            reg.register("partial", "custom", {"a": ok, "b": boom},
                         source_path=f"{SF}/documents.parquet")
        # old generation fully live, failed generation fully gone
        assert self._gens_on_disk(reg, "partial") == [1]
        assert reg.describe("partial")["generation"] == 1


def test_cluster_by_layout_survives_fold(spark, tmp_path):
    """The registry's range-clustered component layout is a stored table
    property, so it survives incremental maintenance: after a
    fold_component whose batch spans the whole term range, every parquet
    file must still cover a narrow, disjoint term slice (the pushed
    In(term,...) file-skipping contract). A layout applied only at
    register time is lost on the fold's copy-on-write rewrite."""
    wh = Warehouse(spark, str(tmp_path / "whc"), primary_key="doc_id")
    reg = IndexRegistry(wh)
    df = spark.range(4000).select(
        F.col("id").alias("term"), (F.col("id") % 7).alias("doc_id")
    )
    reg.register("clus", "custom", {"postings": df},
                 source_path=f"{SF}/documents.parquet",
                 cluster_by={"postings": ["term"]}, cluster_files=4)
    batch = spark.range(0, 4400, 11).select(
        F.col("id").alias("term"), (F.col("id") % 7 + 100).alias("doc_id")
    )
    reg.fold_component("clus", "postings", batch, merge_key=["term", "doc_id"])
    tbl = reg.component_table("clus", "postings")
    assert wh.table_size(tbl) == 4000 + 400
    import glob as _glob

    files = sorted(_glob.glob(f"{wh._data_dir(tbl)}/part-*.parquet"))
    assert 1 <= len(files) <= 4  # range-clustered layout, not re-accreted
    ranges = []
    for f in files:
        r = spark.read.parquet(f).agg(
            F.min("term").alias("lo"), F.max("term").alias("hi")
        ).head()
        ranges.append((r.lo, r.hi))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev < lo_next  # disjoint slices -> footer skipping works


class TestProvenancePinning:
    def test_ensure_fresh_pins_pre_build_source_state(self, spark, reg):
        """ADVICE r10 (medium): a source commit landing DURING the build
        must not be stamped as covered — components pinned their
        data-v{N} at DataFrame creation, so an index built while the
        source advanced never read the new commit and must report stale,
        not fresh. ensure_fresh captures the source state before build()
        and pins the register stamp to it."""
        wh = reg.wh
        wh.insert_data("documents", _docs(spark, 30))

        def build():
            comp = {"t": wh.read("documents").select("doc_id")}
            # a concurrent writer lands mid-build
            wh.insert_data("documents", _docs(spark, 50))
            return comp

        assert reg.ensure_fresh("pin", "custom", build,
                                source_table="documents") is True
        st = reg.staleness("pin")
        assert st["stale"]  # the mid-build commit is NOT covered
        assert (st["built_from"]["version"]
                < wh.table_versions("documents")[-1])

    def test_register_accepts_explicit_pin(self, spark, reg):
        wh = reg.wh
        wh.insert_data("documents", _docs(spark, 30))
        v0 = wh.table_versions("documents")[-1]
        comp = {"t": wh.read("documents").select("doc_id")}
        wh.insert_data("documents", _docs(spark, 50))  # source moves on
        entry = reg.register("pinned", "custom", comp,
                             source_table="documents", source_version=v0)
        assert entry["built_from"]["version"] == v0
        assert reg.is_stale("pinned")


class TestEnsureFreshFold:
    def test_folds_only_when_stale_and_repins(self, spark, reg):
        """VERDICT r10 #7: the fold-maintained analogue of ensure_fresh —
        bloom/band maintainers get 'fold iff stale, then re-stamp at the
        pre-fold source state' as one primitive instead of hand-rolling
        the staleness check around bloom_fold_into_registry."""
        from empujar_spark.operators import sketch as K

        wh = reg.wh
        wh.insert_data("events", spark.range(100).select(
            F.col("id").alias("doc_id"), F.col("id").alias("key")))
        m, k = K.bloom_params(10_000)
        bits = K.build_bloom_with_params(
            wh.read("events"), "key", m, k)
        reg.register("blf", "bloom",
                     {"bitmap": K.bloom_to_df(spark, bits, m, k)},
                     source_table="events")
        calls = []

        def fold(pinned):
            calls.append(pinned)
            batch = wh.read("events").filter(F.col("key") >= 100)
            K.bloom_fold_into_registry(reg, "blf", batch, "key",
                                       pinned=pinned)

        # fresh -> no fold
        assert reg.ensure_fresh_fold("blf", fold) is False
        # source advances -> fold runs, stale flag cleared
        wh.insert_data("events", spark.range(100, 150).select(
            F.col("id").alias("doc_id"), F.col("id").alias("key")))
        assert reg.ensure_fresh_fold("blf", fold) is True
        assert len(calls) == 1 and not reg.is_stale("blf")
        # the folded artifact admits the new keys
        folded = K.bloom_from_df(reg.read("blf")["bitmap"])
        flagged = K.with_bloom_flag(
            spark.range(100, 150).select(F.col("id").alias("key")),
            "key", *folded,
        )
        assert flagged.filter(~F.col("__maybe_seen")).count() == 0
        # never registered -> KeyError (initial build is ensure_fresh's job)
        with pytest.raises(KeyError):
            reg.ensure_fresh_fold("nope", fold)

    def test_fold_pin_survives_mid_fold_commit(self, spark, reg):
        """A commit landing DURING the fold must leave the index stale —
        the re-stamp is pinned at the pre-fold state, not resolved after
        the fold finished (refresh_provenance's TOCTOU window)."""
        from empujar_spark.operators import sketch as K

        wh = reg.wh
        wh.insert_data("events2", spark.range(50).select(
            F.col("id").alias("doc_id"), F.col("id").alias("key")))
        m, k = K.bloom_params(1_000)
        bits = K.build_bloom_with_params(wh.read("events2"), "key", m, k)
        reg.register("blf2", "bloom",
                     {"bitmap": K.bloom_to_df(spark, bits, m, k)},
                     source_table="events2")
        wh.insert_data("events2", spark.range(50, 80).select(
            F.col("id").alias("doc_id"), F.col("id").alias("key")))

        def fold(pinned):
            batch = wh.read("events2").filter(F.col("key") >= 50)
            K.bloom_fold_into_registry(reg, "blf2", batch, "key",
                                       pinned=pinned)
            # concurrent writer lands mid-fold, after the batch was read
            wh.insert_data("events2", spark.range(80, 90).select(
                F.col("id").alias("doc_id"), F.col("id").alias("key")))

        assert reg.ensure_fresh_fold("blf2", fold) is True
        assert reg.is_stale("blf2")  # mid-fold commit NOT stamped as covered


def test_register_rejects_generation_delimiter_in_name(spark, reg):
    """'__g{N}__' delimits generations inside component table names, so
    an index named around it would make ANOTHER index's enumeration
    pruning match this one's tables — rejected up front."""
    df = spark.createDataFrame([(1,)], "doc_id long")
    for bad in ("x__g3", "x__g3__y"):
        with pytest.raises(ValueError, match="__g<number>"):
            reg.register(bad, "custom", {"t": df},
                         source_path=f"{SF}/documents.parquet")
    # plain underscores stay legal (existing corpus names use them)
    reg.register("x_g3_ok", "custom", {"t": df},
                 source_path=f"{SF}/documents.parquet")
    assert "x_g3_ok" in reg.list_indexes()


def test_fold_component_with_ensure_fresh_fold_band_history(spark, reg):
    """fold_component is the generic write half of incremental
    maintenance — the band-history analogue of the bloom fold: merge the
    batch's rows into the current generation's component table, with
    ensure_fresh_fold owning the staleness gate and the pinned
    re-stamp."""
    wh = reg.wh
    wh.insert_data("documents", _docs(spark, 30))
    reg.register(
        "bandsf", "minhash_bands",
        {"bands": wh.read("documents").select("doc_id")},
        source_table="documents",
    )
    # fresh -> the fold never runs
    assert reg.ensure_fresh_fold(
        "bandsf", lambda pinned: reg.fold_component(
            "bandsf", "bands",
            wh.read("documents").select("doc_id"), merge_key="doc_id")
    ) is False
    # source advances -> fold merges just the delta, flag clears
    wh.insert_data("documents", _docs(spark, 50))
    ran = reg.ensure_fresh_fold(
        "bandsf", lambda pinned: reg.fold_component(
            "bandsf", "bands",
            wh.read("documents").select("doc_id").filter(
                F.col("doc_id") >= 30),
            merge_key="doc_id")
    )
    assert ran is True and not reg.is_stale("bandsf")
    assert reg.read("bandsf")["bands"].count() == 50
    assert reg.describe("bandsf")["generation"] == 1  # folded, not rebuilt
