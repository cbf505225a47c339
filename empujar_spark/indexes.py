"""Warehouse index registry: named indexes, provenance, staleness.

Five stored-index shapes grew up ad hoc — BM25 (postings/dfreq/doclen/
stats, operators/text.py), IVF (centroids/assignments), PQ (codes/
codebooks), the bloom ingest bitmap, and the minhash band history. Each
invented its own table layout and its own session cache, and none
recorded WHAT it was built from, so "is this index stale?" had no
answer. The registry unifies them:

- an index is registered under a **name** with a **kind** and its
  component DataFrames; components commit as Warehouse tables
  (``__idx_{name}__{component}``) through the versioned-commit path, so
  a rebuild atomically supersedes the old index under concurrent
  readers (``replace_table``);
- the manifest (``_indexes.json``, atomic write-aside + rename like the
  ``_current`` pointers) records **provenance**: for a warehouse source
  table, the ``data-v{N}`` version it was built from; for an external
  parquet path, a listing fingerprint (name/size/mtime digest);
- **staleness** is then a pure metadata check, the index-registry
  analogue of ``quality.expect_fresh``: the source advanced past the
  recorded build point ⇒ ``stale=True``. A stale index still SERVES —
  an ANN or BM25 index one ingest behind is the normal steady state at
  100 TB — the flag is what lets a pipeline gate on freshness or
  schedule the rebuild, instead of discovering drift from bad recalls.

Vacuum interaction: provenance stores the source's version NUMBER, not
a path into its history, so pruning/vacuuming old source versions never
invalidates the check — the current version number survives vacuum.

Reference behavioral parity: provenance-tracked derived tables extend
the reference's MAX-watermark incremental contract (lib/book.js
getMax pattern — "what have I already processed?") from rows to whole
index artifacts; cited as extension surface, not a port.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

    from empujar_spark.catalog import Warehouse

KINDS = ("bm25", "ivf", "pq", "bloom", "minhash_bands", "kmeans", "custom")


def _path_fingerprint(path: str) -> str:
    """Cheap listing digest for an external source: file names, sizes,
    mtimes — no data read. A rewritten/appended source changes it."""
    entries = []
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, name))
            entries.append((name, st.st_size, st.st_mtime_ns))
    else:
        st = os.stat(path)
        entries.append((os.path.basename(path), st.st_size, st.st_mtime_ns))
    return hashlib.md5(json.dumps(entries).encode()).hexdigest()


class IndexRegistry:
    """Named stored indexes over a :class:`Warehouse`."""

    def __init__(self, wh: "Warehouse") -> None:
        self.wh = wh
        self._manifest_path = os.path.join(wh.path, "_indexes.json")
        self._lock_path = self._manifest_path + ".lock"

    # ------------------------------------------------------------ manifest
    @contextlib.contextmanager
    def _manifest_lock(self):
        """Exclusive CROSS-PROCESS lock for manifest read-modify-write.

        The manifest is one JSON file covering every index; load→mutate→
        save from two processes registering DIFFERENT names would be
        last-writer-wins over the whole file — the loser's entry
        silently vanishes while its component tables stay on disk. The
        data path was hardened against exactly this (the makedirs
        version claim, catalog.py _write); an ``flock`` on a sidecar
        lockfile is the manifest's analogue. ``wh._lock`` is taken first
        so threads of one process serialize before the OS lock (flock
        is per-file-description, not per-thread)."""
        import fcntl

        with self.wh._lock:
            fd = os.open(self._lock_path, os.O_CREAT | os.O_RDWR, 0o644)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
                os.close(fd)

    def _load(self) -> dict:
        try:
            with open(self._manifest_path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}

    def _save(self, manifest: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    def _component_table(self, name: str, component: str, gen: int) -> str:
        return f"__idx_{name}__g{gen}__{component}"

    def _generation_tables(self, name: str) -> dict[int, list[str]]:
        """Every ``__idx_{name}__g{N}__*`` table physically on disk,
        keyed by generation — enumerated from the warehouse catalog, not
        inferred from the manifest, so orphans from crashed rebuilds
        (written, never flipped) are visible to pruning no matter how
        many failed attempts piled up."""
        pat = re.compile(rf"^__idx_{re.escape(name)}__g(\d+)__")
        gens: dict[int, list[str]] = {}
        for tbl in self.wh.show_tables():
            m = pat.match(tbl)
            if m:
                gens.setdefault(int(m.group(1)), []).append(tbl)
        return gens

    def _current_built_from(
        self, source_table: str | None, source_path: str | None,
        source_version: int | None = None,
        source_fingerprint: str | None = None,
    ) -> dict:
        """Resolve the provenance stamp. When the caller PINS the source
        state (``source_version`` / ``source_fingerprint`` captured
        before the build read its input), stamp that instead of
        re-resolving: components pin their ``data-v{N}`` at DataFrame
        creation (reader isolation), so a source commit landing during a
        long build must leave the index stamped at the version the build
        actually read — resolving at stamp time would mark it fresh over
        data it never saw (the staleness gate's one job). A pin taken
        slightly early is merely conservative: worst case one spurious
        rebuild, never a silently-stale 'fresh'."""
        if source_table is not None:
            v = (
                source_version
                if source_version is not None
                else self.wh.table_versions(source_table)[-1]
            )
            return {"table": source_table, "version": v}
        fp = (
            source_fingerprint
            if source_fingerprint is not None
            else _path_fingerprint(source_path)
        )
        return {"path": source_path, "fingerprint": fp}

    # ------------------------------------------------------------- lifecycle
    def register(
        self,
        name: str,
        kind: str,
        components: dict[str, "DataFrame"],
        source_table: str | None = None,
        source_path: str | None = None,
        params: dict | None = None,
        partition_cols: dict[str, list[str]] | None = None,
        cluster_by: dict[str, list[str]] | None = None,
        cluster_files: int = 32,
        source_version: int | None = None,
        source_fingerprint: str | None = None,
    ) -> dict:
        """Commit ``components`` as warehouse tables and record the
        manifest entry. Re-registering a name REPLACES the old index
        (versioned commits: readers of the old component tables are
        isolated). Exactly one of ``source_table`` (a table in this
        warehouse — provenance is its current data version) or
        ``source_path`` (external parquet — provenance is a listing
        fingerprint) must be given. ``partition_cols`` maps component →
        hive-partition columns (e.g. IVF assignments on ``cid`` so a
        probe prunes to its nprobe inverted lists). ``cluster_by`` maps
        component → range-cluster columns, stored as the component
        table's ``cluster_by`` layout: rows are range-partitioned and
        sorted so each parquet file covers a narrow key slice, on the
        build and on every later ``fold_component`` — pushed
        equality/IN predicates (BM25's query-term filter) then skip
        whole files via footer min/max; size ``cluster_files`` so files
        land near the parquet sweet spot at your scale.

        ATOMICITY: component tables are GENERATION-suffixed
        (``__idx_{name}__g{N}__{comp}``) and the manifest is the
        multi-table pointer — all of generation N+1 is written BEFORE
        the single atomic manifest flip, so a rebuild that dies midway
        leaves the old generation fully live and consistent (a mixed
        new-postings/old-dfreq index can never be served). The
        predecessor generation is retained one flip as reader grace,
        then dropped — the same keep-then-prune contract as the
        warehouse's versioned data commits.

        PROVENANCE PIN: pass ``source_version``/``source_fingerprint``
        captured BEFORE the build read its source (``ensure_fresh`` does
        this automatically) so a source commit landing mid-build leaves
        the index stamped at the data it actually read; unpinned, the
        stamp resolves at register time — fine for builds whose source
        cannot move underneath them.

        CONCURRENCY: registering DIFFERENT names from concurrent
        processes is safe (manifest R-M-W runs under a cross-process
        file lock, and component writes never collide across names);
        concurrent rebuilds of the SAME name are last-flip-wins, the
        same contract as concurrent warehouse writers of one table.
        Component Spark writes run OUTSIDE the locks — a long rebuild
        never blocks other warehouse writers; only generation
        allocation and the flip itself serialize. A register that fails
        mid-write drops its partial generation's tables before
        re-raising (nothing flipped, nothing leaked)."""
        if kind not in KINDS:
            raise ValueError(f"unknown index kind {kind!r}; one of {KINDS}")
        if re.search(r"__g\d+(__|$)", name):
            # '__g{N}__' is the generation delimiter in component table
            # names; a name embedding it would make another index's
            # enumeration-based pruning (see _generation_tables) match
            # THIS index's tables
            raise ValueError(
                f"index name {name!r} may not contain a '__g<number>' segment"
            )
        if (source_table is None) == (source_path is None):
            raise ValueError("exactly one of source_table/source_path required")
        built = self._current_built_from(
            source_table, source_path, source_version, source_fingerprint
        )
        with self._manifest_lock():
            prev = self._load().get(name)
            gen = (prev.get("generation", 1) + 1) if prev else 1
        try:
            for comp, df in components.items():
                tbl = self._component_table(name, comp, gen)
                if partition_cols and comp in partition_cols:
                    self.wh.partition_cols[tbl] = partition_cols[comp]
                # the clustering is stored as the table's layout, so the
                # pushed In(term,...) file skipping survives later folds
                layout = None
                if cluster_by and comp in cluster_by:
                    layout = {
                        "cluster_by": cluster_by[comp], "files": cluster_files
                    }
                self.wh.replace_table(tbl, df, layout=layout)
        except BaseException:
            # failed rebuild: tear down THIS generation's partial tables
            # so repeated crashes can't strand unreferenced data; the
            # old generation stays fully live (nothing was flipped)
            for tbl in self._generation_tables(name).get(gen, []):
                self.wh.drop_table(tbl)
            raise
        with self._manifest_lock():
            manifest = self._load()
            prev = manifest.get(name)  # re-read at flip time
            manifest[name] = {
                "kind": kind,
                "components": sorted(components),
                "built_from": built,
                "params": params or {},
                "generation": gen,
            }
            self._save(manifest)  # THE commit point — atomic rename
            # prune every on-disk generation except the one just flipped
            # and its immediate predecessor (kept one flip as in-flight
            # reader grace) — enumeration-based, so orphans from ANY
            # number of crashed earlier rebuilds go too, not just a
            # fixed lookback window
            keep = {gen}
            if prev:
                keep.add(prev.get("generation", 1))
            self._drop_generations(name, keep=keep)
        return manifest[name]

    def _drop_generations(self, name: str, keep: set[int]) -> None:
        """Remove every physically-present component table of ``name``
        whose generation is not in ``keep`` (enumerated from the
        catalog — see :meth:`_generation_tables`)."""
        for g, tables in self._generation_tables(name).items():
            if g in keep:
                continue
            for tbl in tables:
                if self.wh.table_exists(tbl):
                    self.wh.drop_table(tbl)

    def read(self, name: str) -> dict[str, "DataFrame"]:
        """Component DataFrames, keyed like they were registered — the
        shape the serving operators (bm25_search_indexed,
        ivf_search_indexed, pq_search, ...) take directly."""
        entry = self.describe(name)
        gen = entry.get("generation", 1)
        return {
            comp: self.wh.read(self._component_table(name, comp, gen))
            for comp in entry["components"]
        }

    def describe(self, name: str) -> dict:
        manifest = self._load()
        if name not in manifest:
            raise KeyError(
                f"no index {name!r} (registered: {sorted(manifest)})"
            )
        return manifest[name]

    def list_indexes(self) -> list[str]:
        return sorted(self._load())

    def drop(self, name: str) -> None:
        self.describe(name)  # raises KeyError if unknown
        with self._manifest_lock():
            manifest = self._load()
            manifest.pop(name, None)
            self._save(manifest)
            # every generation goes, including crashed-rebuild orphans
            self._drop_generations(name, keep=set())

    def component_table(self, name: str, component: str) -> str:
        """The CURRENT generation's warehouse table for a component —
        what an incremental maintainer writes into (insert_data a band
        batch, fold a bloom) before calling refresh_provenance. Raises
        if the component isn't part of the index."""
        entry = self.describe(name)
        if component not in entry["components"]:
            raise KeyError(
                f"index {name!r} has no component {component!r} "
                f"(components: {entry['components']})"
            )
        return self._component_table(name, component, entry.get("generation", 1))

    def fold_component(
        self, name: str, component: str, batch, merge_key=None
    ) -> int:
        """Append/merge ``batch`` into the CURRENT generation's
        ``component`` table — the WRITE half of incremental index
        maintenance (a band-history merge, a posting append), shared by
        every fold-maintained kind the way ``bloom_fold_into_registry``
        wraps the bitmap-specific OR. Pair it with
        :meth:`ensure_fresh_fold`, which owns the staleness check and
        the pinned provenance re-stamp::

            reg.ensure_fresh_fold(
                "bands", lambda pinned: reg.fold_component(
                    "bands", "bands", new_band_rows, merge_key="doc_id"))

        Returns the rows written (``Warehouse.insert_data``'s count)."""
        tbl = self.component_table(name, component)
        return self.wh.insert_data(tbl, batch, merge_key=merge_key)

    def refresh_provenance(self, name: str, pinned: dict | None = None) -> dict:
        """Re-stamp ``built_from`` — for incrementally MAINTAINED indexes
        (bloom_union folds, band-history merges) where a batch is folded
        into the component tables and no full rebuild ever happens. The
        maintainer calls this after the fold; register() stays the
        full-rebuild path.

        ``pinned`` is a ``built_from``-shaped dict (``{"table", "version"}``
        or ``{"path", "fingerprint"}``) captured BEFORE the fold read its
        input — ``ensure_fresh_fold`` passes it so a source commit landing
        during the fold is never stamped as covered (the same TOCTOU the
        pinned register path closes). Unpinned, the stamp resolves at the
        source's current state."""
        entry = self.describe(name)
        built = pinned
        if built is None:
            b = entry["built_from"]
            built = self._current_built_from(
                b.get("table"), b.get("path")
            )
        with self._manifest_lock():
            manifest = self._load()
            manifest[name]["built_from"] = built
            self._save(manifest)
        return manifest[name]

    # ------------------------------------------------------------- staleness
    def staleness(self, name: str) -> dict:
        """The expect_fresh analogue for index artifacts: compare the
        recorded build provenance to the source's CURRENT state.

        Returns ``{stale, reason, built_from, current}`` — ``stale`` is
        True when the source advanced (newer data version / changed
        fingerprint) or disappeared. Never raises on a moved source:
        a gate must be able to REPORT a missing source, not crash."""
        entry = self.describe(name)
        built = entry["built_from"]
        if "table" in built:
            try:
                cur = self.wh.table_versions(built["table"])[-1]
            except Exception:
                return {"stale": True, "reason": "source table missing",
                        "built_from": built, "current": None}
            stale = cur != built["version"]
            return {
                "stale": stale,
                "reason": f"source at v{cur}, built from v{built['version']}"
                if stale else "fresh",
                "built_from": built,
                "current": {"table": built["table"], "version": cur},
            }
        try:
            cur_fp = _path_fingerprint(built["path"])
        except OSError:
            return {"stale": True, "reason": "source path missing",
                    "built_from": built, "current": None}
        stale = cur_fp != built["fingerprint"]
        return {
            "stale": stale,
            "reason": "source files changed" if stale else "fresh",
            "built_from": built,
            "current": {"path": built["path"], "fingerprint": cur_fp},
        }

    def is_stale(self, name: str) -> bool:
        return self.staleness(name)["stale"]

    def ensure_fresh(
        self,
        name: str,
        kind: str,
        build,
        **register_kwargs,
    ) -> bool:
        """Rebuild ``name`` iff it is missing or stale — the scheduling
        primitive the staleness flag exists for: a load's index-refresh
        page calls this once per index and pays the build only when the
        source actually moved (the MAX-watermark idea applied to whole
        artifacts). ``build`` is a zero-arg callable returning the
        component dict, invoked only when a rebuild is needed;
        ``register_kwargs`` are passed to :meth:`register` (source,
        partition/cluster layout, params). Returns True iff a rebuild
        ran.

        The source state is captured BEFORE ``build()`` runs and pinned
        into the provenance stamp: a commit landing during a long build
        (the norm at 100 TB) leaves the index stamped at the pre-build
        state, so the next staleness check correctly reports it stale
        instead of 'fresh' over data the build never read."""
        try:
            st = self.staleness(name)
            if not st["stale"]:
                return False
            pinned = st["current"]  # pre-build source state (None if missing)
        except KeyError:
            pinned = None  # never registered — build it
        if pinned is None:
            try:
                pinned = self._current_built_from(
                    register_kwargs.get("source_table"),
                    register_kwargs.get("source_path"),
                )
            except Exception:
                pinned = None  # source not resolvable yet; stamp at register
        kwargs = dict(register_kwargs)
        if pinned and "version" in pinned:
            kwargs.setdefault("source_version", pinned["version"])
        if pinned and "fingerprint" in pinned:
            kwargs.setdefault("source_fingerprint", pinned["fingerprint"])
        self.register(name, kind, build(), **kwargs)
        return True

    def ensure_fresh_fold(self, name: str, fold) -> bool:
        """The FOLD-maintained analogue of :meth:`ensure_fresh`: run the
        incremental maintainer iff the index is stale, then re-stamp
        provenance pinned at the PRE-fold source state — the declarative
        form of what bloom/band-history load pages otherwise hand-roll
        (staleness check → ``bloom_fold_into_registry`` → re-stamp).

        ``fold`` is a one-arg callable receiving the pinned
        ``built_from`` dict; it performs the component maintenance
        (e.g. ``sketch.bloom_fold_into_registry(reg, name, batch, col,
        pinned=pinned)``) and may forward the pin to any provenance
        refresh it does internally — this method re-stamps with the same
        pin afterwards regardless, so a fold that ignores the argument
        still gets the TOCTOU-safe stamp. Returns True iff the fold ran.
        Raises KeyError if the index was never registered: a fold
        maintains an existing artifact; the initial build is
        :meth:`ensure_fresh`'s job."""
        st = self.staleness(name)  # KeyError if never registered
        if not st["stale"]:
            return False
        pinned = st["current"]  # pre-fold source state
        fold(pinned)
        self.refresh_provenance(name, pinned=pinned)
        return True
