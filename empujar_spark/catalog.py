"""Warehouse: the engine's default destination connection.

Re-expresses the reference's warehouse connections (MySQL/Redshift/
Snowflake — lib/connections/{mysql,redshift,snowflake}.js) as one
parquet-backed, Spark-native connection. Observable operator parity:

- ``show_tables`` / ``show_columns``   (mysql.js:67-111)
- ``get_max`` watermark                (mysql.js:193-216)
- ``table_size``                       (redshift.js:129-135)
- ``get_all`` chunk-compatible scan    (mysql.js:232-256)
- ``query`` over registered views      (mysql.js:113-179 → spark.sql)
- ``insert_data`` append/upsert with auto-create, auto-add-column,
  varchar→text widening, unknown→typed promotion (mysql.js:258-393 —
  the §3.3 fixed-point loop collapsed to ONE reconciliation pass)
- ``merge_tables`` full/incremental decision matrix + dedup-keep-latest
  (mysql.js:547-599, redshift.js:375-433, snowflake.js:868-954)
- ``add_column`` / ``alter_column`` / ``copy_table_schema``
  (mysql.js:471-545, 601-605)

Physical layout: one directory per table under the warehouse root. Each
commit is a self-describing ``data-v{N}`` dir: the parquet files plus
``_meta.json``, the table meta (lattice columns with kind + varchar
length, primary key, partition columns, layout, footer row count,
rollup watermark). The lattice metadata is needed because parquet
cannot represent the ``unknown`` (NullType) pending state, which is
stored physically as an all-NULL string column. The ``_current``
pointer names the live version, so one atomic rename publishes a
version's rows and its schema together.

Scale design (100 TB stance):
- Upsert = existing ⟕ broadcast(batch keys) anti-join + union with the
  batch, written with its meta to a fresh ``data-v{N}`` dir and
  committed by an atomic ``_current`` pointer flip, so the existing
  table is scanned once with no shuffle and every read is an
  explicit-schema scan (no footer inference job). A distributed upsert
  batch is used three times (count, key broadcast, union) and is
  cached, so its source chain runs once. Creates and upserts share one
  batch plan: a driver-held batch (row dicts, local relations, also in
  ``DocumentIndex``) is planned from its keys on the driver, with no
  job; they give the count and show whether the dedup window must run.
  A small one adds one file, in one Spark job on create, two on upsert.
- ``get_max`` reads ``long``/``timestamp`` maxima from the parquet
  footer statistics of the current version: no Spark job.
- Physical layout is a table property: the optional ``layout`` field of
  the meta, declared once (``replace_table(layout=...)``,
  ``compact``) and applied by ``_write`` on every later commit — the
  analogue of Redshift declaring ``distkey``/``sortkey`` at create time
  (redshift.js:340-350). Absent, a commit sorts within partitions on the
  ``updated_at``/``created_at`` sortkey; ``cluster_by`` range-partitions
  into ``files`` sorted files, ``zorder_by`` does the same on a z-curve
  code, and a bare ``files`` hash-distributes on the primary key.
- No driver-side row loops: row-dict batches are converted to DataFrames
  once via the §1.2 lattice and everything after is JVM-side.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from typing import Iterable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from empujar_spark import types as lattice
from empujar_spark.types import (
    UNKNOWN,
    VARCHAR,
    TEXT,
    LONG,
    DOUBLE,
    TIMESTAMP,
    ColumnType,
    VARCHAR_DEFAULT_LENGTH,
)

_SORTKEY_CANDIDATES = ("updated_at", "created_at")  # redshift.js:344-350
_META = "_meta.json"  # a version's table meta, inside its data-v{N} dir


class TableNotFound(KeyError):
    pass


class Warehouse:
    """Parquet warehouse with empujar-parity operator surface."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        name: str = "warehouse",
        primary_key: str = "id",  # mysql.js:27-29 default
        varchar_length: int = VARCHAR_DEFAULT_LENGTH,
        partition_cols: dict[str, list[str]] | None = None,
        keep_old_versions: int = 2,
    ) -> None:
        self.spark = spark
        self.path = os.path.abspath(path)
        self.name = name
        self.primary_key = primary_key
        self.varchar_length = varchar_length
        # table → hive-partition columns (date/category layout: partition
        # pruning turns time-range scans into directory selection at 100 TB)
        self.partition_cols = partition_cols or {}
        # reader-isolation grace: data versions kept beyond the current
        # one before the commit path prunes them — an in-flight scan
        # survives as long as its version outlives this many newer
        # commits (vacuum() removes them all regardless)
        self.keep_old_versions = keep_old_versions
        # version dirs reserved by writers in THIS process that have
        # not committed yet — the prune on commit must never touch a
        # concurrent page's write-in-progress
        self._inflight_versions: set[tuple[str, int]] = set()
        self.tables: list[str] = []  # cached like reference self.tables (mysql.js:78-80)
        # rows merge_scd2 rejected as older than the open version,
        # keyed by table (pages run in threads — a shared scalar would
        # clobber across concurrent merges on different tables). The
        # scalar mirror holds the last merge's count for convenience in
        # single-threaded flows; concurrent callers read the dict.
        self.scd2_rejected_late_by_table: dict[str, int] = {}
        self.scd2_rejected_late = 0
        self._lock = threading.RLock()
        os.makedirs(self.path, exist_ok=True)
        self.show_tables()

    # ------------------------------------------------------------------ paths
    #
    # Versioned commits (reader isolation): each write lands in a fresh
    # immutable ``data-v{N}`` dir — its parquet files plus ``_meta.json``,
    # the table meta they were written under — and commits by atomically
    # replacing the ``_current`` pointer file: the lakehouse-manifest
    # trick (Delta/Iceberg) done directly on the directory layout. Spark
    # skips ``_``-prefixed files, so the meta rides inside the version
    # without joining its scan, and one rename publishes rows and schema
    # together. A Spark scan resolves its file listing at DataFrame
    # creation but reads the files at action time; the listed dir is
    # never renamed, so readers keep their version until they
    # re-resolve, and old versions are pruned only after
    # ``keep_old_versions`` newer commits (plus explicit vacuum()). A
    # table exists once its pointer does.

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.path, table)

    def _pointer_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_current")

    def _current_version(self, table: str) -> int | None:
        try:
            with open(self._pointer_path(table)) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return None

    def _set_current_version(self, table: str, version: int) -> None:
        """Atomic pointer flip: write-aside + rename, same guarantee the
        old layout got from the dir rename, without moving data files."""
        tmp = self._pointer_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, self._pointer_path(table))

    def _version_dir(self, table: str, version: int) -> str:
        return os.path.join(self._table_dir(table), f"data-v{version}")

    def _list_versions(self, table: str) -> list[int]:
        """All version numbers with a data dir on disk, ascending."""
        td = self._table_dir(table)
        try:
            entries = os.listdir(td)
        except FileNotFoundError:
            return []
        out = []
        for e in entries:
            if e.startswith("data-v") and os.path.isdir(os.path.join(td, e)):
                try:
                    out.append(int(e[len("data-v"):]))
                except ValueError:
                    continue
        return sorted(out)

    def _data_dir(self, table: str) -> str:
        """The CURRENT version's immutable data dir."""
        v = self._current_version(table)
        if v is None:
            raise TableNotFound(table)
        return self._version_dir(table, v)

    def _version_meta(self, data_dir: str) -> dict:
        with open(os.path.join(data_dir, _META)) as fh:
            return json.load(fh)

    def _at_current(self, table: str, fn):
        """``fn(data_dir, meta)`` on the current version. A concurrent
        commit may prune the resolved version between the pointer read
        and the meta open or the file listing; that raises, and the call
        re-resolves once under the commit lock, where no prune of this
        process can interleave."""

        def attempt():
            d = self._data_dir(table)
            return fn(d, self._version_meta(d))

        try:
            return attempt()
        except (FileNotFoundError, AnalysisException):
            with self._lock:
                return attempt()

    # ------------------------------------------------------------- catalog ops
    def show_tables(self) -> list[str]:
        """List tables, cached on ``self.tables`` (mysql.js:67-83)."""
        if not os.path.isdir(self.path):
            self.tables = []
            return self.tables
        self.tables = sorted(
            d
            for d in os.listdir(self.path)
            if os.path.isfile(self._pointer_path(d))
        )
        return self.tables

    def table_exists(self, table: str) -> bool:
        return os.path.isfile(self._pointer_path(table))

    def _load_meta(self, table: str) -> dict:
        """The meta committed with the table's current version."""
        return self._at_current(table, lambda _d, meta: meta)

    def column_types(self, table: str) -> dict[str, ColumnType]:
        meta = self._load_meta(table)
        return {
            c["name"]: ColumnType(c["kind"], c.get("char_length", 0), c.get("element", ""))
            for c in meta["columns"]
        }

    def show_columns(self, table: str) -> dict[str, dict]:
        """Column metadata dicts, reference shape (mysql.js:85-111):
        {type, charLength, precision, scale}."""
        out: dict[str, dict] = {}
        for name, ct in self.column_types(table).items():
            rendered = ct.render()
            out[name] = {
                "type": rendered.split("(")[0],
                "charLength": ct.char_length if ct.kind in (VARCHAR, UNKNOWN) else None,
                "precision": None,
                "scale": None,
            }
        return out

    # --------------------------------------------------------------- read ops
    def read(self, table: str) -> DataFrame:
        """The table as a DataFrame (unknown columns surface as NULL strings):
        an explicit-schema scan of the current version under the meta
        committed with it, so no footer-inference job runs and predicates
        push down on the exact physical types.

        The returned frame carries ``_empujar_n_rows`` — the write-time
        footer row count from the table meta — as a planner hint:
        ``sketch.pruned_join``'s auto mode reads it to pick its probe
        without paying a count job (VERDICT r11 #5). The hint describes
        the RAW table read only; any transformation drops the attribute,
        which is exactly when the estimate stops being valid."""
        return self._at_current(table, self._scan)

    def _scan(self, data_dir: str, meta: dict) -> DataFrame:
        """Explicit-schema scan of one committed file set under its own
        meta, hinted with the meta's ``n_rows``."""
        schema = self._physical_schema(meta)
        df = self.spark.read.schema(schema).parquet(data_dir).select(*schema.names)
        df._empujar_n_rows = meta["n_rows"]
        return df

    @staticmethod
    def _conform_scan(df: DataFrame, schema: T.StructType) -> DataFrame:
        """Conform a scan to another meta's schema by try_cast: missing
        columns surface as NULL, widened/narrowed numerics cast, residual
        incompatible values degrade to NULL instead of aborting the scan
        under ANSI mode."""
        present = {f.name for f in df.schema.fields}
        return df.select(
            *[
                (
                    F.col(f.name).try_cast(f.dataType)
                    if f.name in present
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in schema.fields
            ]
        )

    def table_versions(self, table: str) -> list[int]:
        """Committed data versions still on disk, ascending (current
        last). The versioned-commit layout retains ``keep_old_versions``
        predecessors, so recent history is queryable until pruned or
        vacuumed. A version dir without Spark's ``_SUCCESS`` marker is a
        write that died before its commit (the in-process failure path
        rmtrees these, but a killed PROCESS can't) — never listed as
        queryable history; vacuum removes it. The current version is
        always listed: the pointer only ever flips to a completed
        write."""
        cur = self._current_version(table)
        if cur is None:
            raise TableNotFound(table)

        def committed(v: int) -> bool:
            return v == cur or os.path.isfile(
                os.path.join(self._version_dir(table, v), "_SUCCESS")
            )

        return [v for v in self._list_versions(table) if v <= cur and committed(v)]

    def read_version(self, table: str, version: int) -> DataFrame:
        """Time travel: read a retained committed version of the table —
        the versioned-commit counterpart of snapshot/read_snapshot
        (snapshots pin indefinitely via hardlinks; versions are the
        rolling automatic history). The version scans under its OWN
        committed meta, then conforms to the CURRENT meta (an old version
        may predate added or retyped columns, which surface as NULL /
        try_cast)."""
        if version == self._current_version(table):
            return self.read(table)
        if version not in self.table_versions(table):  # orphan claim dirs too
            raise ValueError(
                f"version {version} of {table!r} is not on disk "
                f"(committed versions: {self.table_versions(table)}; "
                f"older ones age out after keep_old_versions="
                f"{self.keep_old_versions} commits or vacuum())"
            )
        d = self._version_dir(table, version)
        schema = self._physical_schema(self._load_meta(table))
        return self._conform_scan(self._scan(d, self._version_meta(d)), schema)

    def _physical_schema(self, meta: dict) -> T.StructType:
        fields = []
        for c in meta["columns"]:
            ct = ColumnType(c["kind"], c.get("char_length", 0), c.get("element", ""))
            dt = T.StringType() if ct.kind == UNKNOWN else ct.to_spark()
            fields.append(T.StructField(c["name"], dt, True))
        return T.StructType(fields)

    def register_views(self, prefix: str = "") -> None:
        """Register every table as a temp view for ``query``/spark.sql."""
        for t in self.show_tables():
            self.read(t).createOrReplaceTempView(prefix + t)

    def query(self, sql: str | list[str]) -> DataFrame | list[DataFrame]:
        """Raw SQL over the warehouse (reference ``query``, mysql.js:113-179).

        A LIST of statements runs sequentially with abort-on-first-error,
        matching the reference's array contract (mysql.js:124-156:
        START TRANSACTION → statements → COMMIT, ROLLBACK on error) and
        returns the per-statement results. Atomicity is per table via
        staged swap, not cross-statement (documented semantic difference —
        the reference's own cross-statement atomicity is best-effort too:
        MySQL DDL auto-commits mid-transaction). Statements after the
        first failure never run."""
        if isinstance(sql, (list, tuple)):
            results: list[DataFrame] = []
            for stmt in sql:
                self.register_views()  # earlier statements may create tables
                results.append(self.spark.sql(stmt))
            return results
        self.register_views()
        return self.spark.sql(sql)

    def get_all(
        self,
        table_or_sql: str,
        chunk_size: int = 0,
        limit: int | None = None,
    ):
        """Scan a table (or SQL) — reference ``getAll`` (mysql.js:232-256).

        Returns the DataFrame when ``chunk_size`` is 0 (the Spark-native
        path: partitions replace manual pagination). With ``chunk_size`` > 0,
        yields row-dict batches via ``toLocalIterator`` for API parity —
        streamed partition-at-a-time, never a full driver materialization.
        ``limit`` honors the reference's ``getAllLimit`` cap (lib/book.js:74).
        """
        if self.table_exists(table_or_sql):
            df = self.read(table_or_sql)
        else:
            df = self.query(table_or_sql)
        if limit is not None:
            df = df.limit(limit)
        if not chunk_size:
            return df

        def _batches() -> Iterable[list[dict]]:
            batch: list[dict] = []
            for row in df.toLocalIterator():
                batch.append(row.asDict())
                if len(batch) >= chunk_size:
                    yield batch
                    batch = []
            if batch:
                yield batch

        return _batches()

    def get_max(self, table: str, column: str):
        """MAX watermark (mysql.js:193-216): None when the table or column
        is missing — the caller then does a full extract.

        A ``long`` or ``timestamp`` column's maximum is read from the
        row-group statistics in the current version's parquet footers,
        with no Spark job; a timestamp comes back as ``collect()``
        returns one, a naive datetime in the process's local time. The
        Spark aggregate answers every other case: other lattice kinds
        (float statistics leave NaN out, string ones may be missing),
        hive partition columns (no column chunks) and a row group that
        holds values but no statistics."""
        if not self.table_exists(table):
            return None
        found, value = self._at_current(
            table, lambda d, meta: _footer_max(d, meta, column)
        )
        if found:
            return value
        return self.read(table).agg(F.max(F.col(column)).alias("max")).first()["max"]

    def table_size(self, table: str) -> int:
        """COUNT(1) (redshift.js:129-135)."""
        return self.read(table).count()

    # -------------------------------------------------------------- write ops
    def _normalize_input(
        self, data, existing: dict[str, ColumnType] | None = None
    ) -> tuple[DataFrame, dict[str, ColumnType]]:
        """Row-dict batches → DataFrame via the §1.2 lattice; DataFrames map
        through ``from_spark_type``. Returns (df, incoming lattice types)."""
        if isinstance(data, DataFrame):
            incoming = {
                f.name: lattice.from_spark_type(f.dataType, self.varchar_length)
                for f in data.schema.fields
            }
            # honor lattice physical types (e.g. int→long) for merge
            # stability; a frame that already has them is returned as is
            casts, cast_any = [], False
            for f in data.schema.fields:
                target = incoming[f.name]
                phys = T.StringType() if target.kind == UNKNOWN else target.to_spark()
                if f.dataType != phys:
                    casts.append(F.col(f.name).cast(phys).alias(f.name))
                    cast_any = True
                else:
                    casts.append(F.col(f.name))
            return (data.select(*casts) if cast_any else data), incoming
        rows = list(data)
        incoming = lattice.infer_column_types(rows, self.varchar_length)
        if existing:
            # keep stored column order first, appended new columns after
            ordered: dict[str, ColumnType] = {}
            for c in existing:
                if c in incoming:
                    ordered[c] = incoming[c]
            for c in incoming:
                if c not in ordered:
                    ordered[c] = incoming[c]
            incoming = ordered
        tuples = lattice.normalize_rows(rows, incoming)
        fields = []
        for name, ct in incoming.items():
            dt = T.StringType() if ct.kind == UNKNOWN else ct.to_spark()
            fields.append(T.StructField(name, dt, True))
        schema = T.StructType(fields)
        # an Arrow table becomes a driver-local relation (``isLocal()``),
        # which insert_data re-evaluates instead of caching
        df = self.spark.createDataFrame(_arrow_table(tuples, schema), schema)
        return df, incoming

    def build_table_from_data(self, table: str, data) -> None:
        """CREATE TABLE from inferred schema (mysql.js:395-469). Primary key
        ordered first (mysql.js:449-455)."""
        df, incoming = self._normalize_input(data)
        self._write(table, df, self._new_meta(table, incoming))

    def _new_meta(
        self, table: str, incoming: dict[str, ColumnType],
        layout: dict | None = None,
    ) -> dict:
        """The meta of a table about to be created from ``incoming``
        columns, primary key first."""
        pk = self.primary_key if self.primary_key in incoming else None
        if pk:
            incoming = {pk: incoming[pk], **incoming}
        meta = {
            "table": table,
            "primary_key": pk,
            "columns": [
                {"name": n, "kind": ct.kind, "char_length": ct.char_length,
                 "element": ct.element}
                for n, ct in incoming.items()
            ],
            "partition_cols": [
                c for c in self.partition_cols.get(table, []) if c in incoming
            ],
        }
        if layout:
            meta["layout"] = _check_layout(layout)
        return meta

    def _write(self, table: str, df: DataFrame, meta: dict) -> int:
        """Versioned-commit atomic table write, and the only code that
        persists a table's meta. The rows land in a fresh immutable
        ``data-v{N}`` dir with ``meta`` beside them as ``_meta.json``;
        one atomic ``_current`` pointer flip then publishes both, so no
        reader ever pairs the new rows with the old schema or the
        reverse, and in-flight reader scans keep their resolved version
        (reader isolation). A write that fails before the flip leaves
        the table as it was, or absent if this was its first write.

        The ONE commit path for table data: every write selects its
        columns from ``meta`` and lays its rows out by the stored
        ``meta["layout"]`` (see :func:`_apply_layout`), so a layout
        declared once survives every later upsert, delete, retype and
        compaction. Sets and returns ``meta["n_rows"]``, the exact row
        count of the committed files."""
        df = _apply_layout(df.select(*[c["name"] for c in meta["columns"]]), meta)
        # Reserve the next version dir under the lock (concurrent pages
        # writing the same table each get a distinct version; last
        # committer wins the pointer, matching the old last-swap-wins).
        # ``os.makedirs`` without exist_ok is itself an atomic claim, so
        # a writer in ANOTHER process that raced us to the same N raises
        # FileExistsError — we retry with the next free number instead of
        # failing the write (cross-process writers stay last-winner-wins).
        os.makedirs(self._table_dir(table), exist_ok=True)
        with self._lock:
            new_v = max(
                self._list_versions(table) + [self._current_version(table) or 0]
            )
            while True:
                new_v += 1
                new_dir = self._version_dir(table, new_v)
                try:
                    os.makedirs(new_dir)
                    break
                except FileExistsError:
                    continue
            self._inflight_versions.add((table, new_v))
        committed = False
        try:
            writer = df.write.mode("overwrite")
            part_cols = meta.get("partition_cols") or []
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            writer.parquet(new_dir)
            # Row count for planners (sketch.pruned_join's auto probe
            # pick, VERDICT r11 #5) and for callers' return values, read
            # from the footers of the files just written (no Spark job
            # below the threshold in _footer_row_count).
            meta["n_rows"] = self._footer_row_count(new_dir, meta)
            with open(os.path.join(new_dir, _META), "w") as fh:
                json.dump(meta, fh, indent=1)
            # Commit: atomic pointer flip, then prune versions that have
            # aged past the reader-isolation grace. A crash before the
            # flip leaves an orphan dir no reader ever resolves (vacuum
            # removes it); a crash after the flip is a completed write.
            with self._lock:
                self._set_current_version(table, new_v)
                committed = True
                prunable = [
                    v
                    for v in self._list_versions(table)
                    if v < new_v and (table, v) not in self._inflight_versions
                ]
                for v in prunable[: max(0, len(prunable) - self.keep_old_versions)]:
                    shutil.rmtree(self._version_dir(table, v), ignore_errors=True)
        finally:
            with self._lock:
                self._inflight_versions.discard((table, new_v))
                if not committed:
                    # Failed write: tear the reserved dir down so the
                    # empty/partial version never shows up in
                    # table_versions(), never breaks read_version(), and
                    # never consumes a keep_old_versions retention slot.
                    shutil.rmtree(new_dir, ignore_errors=True)
                    # A failed first write leaves no empty table dir;
                    # a concurrent first writer's reserved version
                    # keeps the dir non-empty, so rmdir refuses it.
                    if self._current_version(table) is None:
                        try:
                            os.rmdir(self._table_dir(table))
                        except OSError:
                            pass
        if table not in self.tables:
            self.show_tables()
        return meta["n_rows"]

    def _footer_row_count(self, data_dir: str, meta: dict) -> int:
        """Exact row count of a written file set from its parquet footers
        (see :func:`_footers`), or the distributed metadata-only count
        when there are too many files to read them on the driver."""
        footers = _footers(data_dir)
        if footers is not None:
            return sum(md.num_rows for md in footers)
        return (
            self.spark.read.schema(self._physical_schema(meta))
            .parquet(data_dir).count()
        )

    def _reconcile_schema(
        self, table: str, incoming: dict[str, ColumnType]
    ) -> dict:
        """ONE-pass schema reconciliation replacing the reference's per-batch
        fixed-point loop (§3.3, mysql.js:258-393):

        - missing column  → add (all-NULL history), mysql.js:299-317
        - promotion needed (int→float, varchar widen→text, unknown→typed)
          → re-type stored column, mysql.js:336-358
        Returns the updated meta; the caller's ``_write`` commits it with
        the rewritten rows."""
        meta = self._load_meta(table)
        stored = {
            c["name"]: ColumnType(c["kind"], c.get("char_length", 0), c.get("element", ""))
            for c in meta["columns"]
        }
        for name, inc in incoming.items():
            if name not in stored:
                meta["columns"].append(
                    {"name": name, "kind": inc.kind, "char_length": inc.char_length,
                     "element": inc.element}
                )
            else:
                merged = lattice.promote(stored[name], inc)
                if merged != stored[name]:
                    for c in meta["columns"]:
                        if c["name"] == name:
                            c["kind"] = merged.kind
                            c["char_length"] = merged.char_length
                            c["element"] = merged.element
        return meta

    def _conform(self, df: DataFrame, meta: dict) -> DataFrame:
        """Cast/extend a DataFrame to the table's physical schema:
        missing columns → NULL, unknown columns → NULL strings. Only the
        columns whose type differs are cast, and a frame that already has
        the schema, in order, is returned as is."""
        phys = self._physical_schema(meta)
        have = {f.name: f.dataType for f in df.schema.fields}
        if list(have.items()) == [(f.name, f.dataType) for f in phys.fields]:
            return df
        cols = []
        for f in phys.fields:
            if f.name not in have:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif have[f.name] != f.dataType:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.col(f.name))
        return df.select(*cols)

    def insert_data(
        self,
        table: str,
        data,
        merge_on_duplicates: bool = True,
        merge_key: str | list[str] | None = None,
        dedup_keep: str = "last",
        dedup_order_col: str | None = None,
    ) -> int:
        """Adaptive load (mysql.js:258-393 / snowflake.js:254-426).

        auto-create → reconcile schema → upsert (last-write-wins per key,
        MySQL ``ON DUPLICATE KEY UPDATE`` semantics) or plain append.
        ``merge_key`` may be a composite (list of columns) — the reference
        supports only single-column keys (mysql.js:27-29); composites are a
        Spark-era extension. ``dedup_keep`` picks which row survives when
        the INCOMING batch itself repeats a key: 'last' (MySQL ON DUPLICATE
        semantics, the default) or 'first' (Snowflake's createtemporaryTable
        insert-order guard, snowflake.js:617-636). ``dedup_order_col``
        names the column that DEFINES first/last — pass it whenever
        ``data`` is a DataFrame that has been shuffled (see _dedup_batch).
        For creates and upserts alike, a driver-held batch's keys, read on
        the driver, decide whether the dedup window runs (_plan_batch).
        Returns the number of incoming rows written."""
        if dedup_keep not in ("first", "last"):
            raise ValueError(f"dedup_keep must be 'first' or 'last', got {dedup_keep!r}")
        key = _as_key_list(merge_key or self.primary_key)
        exists = self.table_exists(table)
        df, incoming = self._normalize_input(
            data, self.column_types(table) if exists else None
        )
        if not df.columns:
            return 0
        if exists:
            # read existing under the OLD physical schema (the lazy plan
            # captures it before files are swapped), then reconcile + cast
            # both sides; a scan whose meta columns the commit leaves
            # unchanged already has the physical schema, so _conform
            # returns it as is
            existing = self.read(table)
            meta = self._reconcile_schema(table, incoming)
            df = self._conform(df, meta)
            existing = self._conform(existing, meta)
        else:
            meta = self._new_meta(table, incoming)
        table_cols = [c["name"] for c in meta["columns"]]
        # upsert semantics apply within a creating batch too
        merge = merge_on_duplicates and all(k in table_cols for k in key)
        # checked here, since a batch of unique keys never plans the
        # window that would reject it
        if merge and dedup_order_col is not None and dedup_order_col not in table_cols:
            raise ValueError(f"dedup_order_col {dedup_order_col!r} is not a column")

        # Asked of ``data`` itself: a select over a local relation is no
        # longer local.
        distributed = isinstance(data, DataFrame) and not data.isLocal()
        batch, n = _plan_batch(
            df, key if merge else [], not distributed, dedup_keep, dedup_order_col
        )
        if not exists:
            # the commit records the exact footer row count; a separate
            # count job would recompute the same number
            return self._write(table, batch, meta)

        # A distributed upsert batch is used three times (count, key
        # broadcast, union), so it is cached and its source chain runs
        # once. A driver-held one is not (a cached plan keeps every shuffle
        # partition), and its anti-join broadcasts the raw batch's keys,
        # the same key set, so the window never runs twice.
        try:
            if distributed:
                n = batch.persist().count()
            if merge:
                # broadcast the (typically small) incremental batch's keys
                # for the anti-join so the big stored table never shuffles
                keys = batch if distributed else df
                existing = existing.join(
                    F.broadcast(keys.select(*key)), on=key, how="left_anti"
                )
            self._write(table, existing.unionByName(batch), meta)
        finally:
            if distributed:
                batch.unpersist()
        return n

    def replace_table(self, table: str, data, layout: dict | None = None) -> int:
        """Overwrite a table's contents (TRUNCATE + INSERT semantics)
        via a versioned commit: in-flight readers keep their resolved
        ``data-v{N}``; the replaced state stays readable through
        ``read_version`` until pruned. Schema reconciles exactly like
        insert_data (add column / widen / retype), so a replace never
        silently narrows a column the old data needed. This is the
        rebuild primitive the index registry uses — a rebuilt index
        must atomically supersede, never merge into, its predecessor.

        ``layout`` declares the table's physical layout, stored in its
        meta and applied by every later commit (upserts included):

        - ``{"cluster_by": [cols], "files": N}`` range-partitions into N
          files sorted on ``cols``, so each file's footer min/max covers
          a narrow, disjoint slice and range/IN predicates skip files;
        - ``{"zorder_by": [cols], "files": N}`` (2+ numeric/timestamp
          columns) does the same on the z-curve of the columns'
          quantized values, keeping files narrow in EVERY column;
        - ``{"files": N}`` hash-distributes on the primary key (round-
          robin without one) into N files, each sorted like the default.

        ``None`` keeps the stored layout; ``{}`` resets to the default
        sortkey-sorted write."""
        existing_types = (
            self.column_types(table) if self.table_exists(table) else None
        )
        df, incoming = self._normalize_input(data, existing_types)
        if not df.columns:
            return 0
        if not self.table_exists(table):
            return self._write(table, df, self._new_meta(table, incoming, layout))
        meta = self._reconcile_schema(table, incoming)
        if layout is not None:
            meta.pop("layout", None)
            if layout:
                meta["layout"] = _check_layout(layout)
        return self._write(table, self._conform(df, meta), meta)

    @staticmethod
    def _dedup_batch(
        df: DataFrame,
        key: str | list[str],
        keep: str = "last",
        order_col: str | None = None,
    ) -> DataFrame:
        """In-batch dedup by merge key. The reference differs per backend:
        Snowflake keeps the FIRST row per key (snowflake.js:617-636,
        mapOfMergeKeys insert-order guard), MySQL ON DUPLICATE keeps the
        LAST. ``keep`` selects either semantic.

        ORDER CONTRACT: "first"/"last" needs an order to be meaningful.
        ``order_col`` names the column that defines it (e.g. an updated_at
        watermark); ties fall back to physical position. Without
        ``order_col``, position alone decides — that is the row-list /
        insert-order semantic of the reference, deterministic for
        createDataFrame(list) inputs and narrow-lineage reads, but NOT for
        a DataFrame that has been shuffled (join/groupBy reorder rows, so
        monotonically_increasing_id() encodes an arbitrary partition
        layout). Shuffled inputs must pass ``order_col``."""
        last = keep == "last"
        pos = F.monotonically_increasing_id()
        order = [pos.desc() if last else pos.asc()]
        if order_col is not None:
            o = F.col(order_col)
            order.insert(0, o.desc_nulls_last() if last else o.asc_nulls_first())
        w = Window.partitionBy(*_as_key_list(key)).orderBy(*order)
        return (
            df.select("*", F.row_number().over(w).alias("__rn"))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def merge_scd2(
        self,
        table: str,
        updates,
        merge_key: str | list[str] | None = None,
        ts_col: str = "updated_at",
        tracked_cols: list[str] | None = None,
    ) -> int:
        """Slowly-changing-dimension Type 2 merge: keep full attribute
        history with validity intervals instead of overwriting.

        Table layout: key + tracked columns + ``scd_valid_from`` /
        ``scd_valid_to`` (NULL = open) / ``scd_is_current``. Incoming rows
        open a new version only when tracked attributes actually changed;
        the previous version closes at the new version's timestamp.
        Updates older than a key's open version are rejected (idempotent
        CDC replay); the rejected count lands in
        ``self.scd2_rejected_late_by_table[table]`` (and the
        last-call scalar ``self.scd2_rejected_late``) and logs a
        WARNING when non-zero.

        Plan (one shuffle on the key): closed history rows pass through
        untouched; current rows union the update batch, a window per key
        ordered by timestamp drops no-change versions (lag struct
        comparison) and derives each interval as lead() of the next
        version — the whole history recomputation is two window functions,
        no iterative driver logic. Returns the row count of the stored
        table after the merge.
        """
        keys = _as_key_list(merge_key or self.primary_key)
        exists = self.table_exists(table)
        df, _ = self._normalize_input(updates)
        tracked = tracked_cols or [
            c for c in df.columns if c not in keys and c != ts_col
        ]
        upd = df.select(
            *keys, F.col(ts_col).alias("scd_valid_from"), *tracked
        )
        upd = self._dedup_batch(upd, keys + ["scd_valid_from"])

        if exists:
            stored = self.read(table)
            history = stored.filter(F.col("scd_is_current") == 0)
            current = stored.filter(F.col("scd_is_current") == 1).select(
                *keys, "scd_valid_from", *tracked
            )
            # LATE rows (older than the open version) would rewrite
            # closed history — their interval would overlap rows this
            # merge never re-windows, making point-in-time reads return
            # two "valid" versions. Reject them: replaying an old CDC
            # batch is then idempotent instead of corrupting. The
            # rejected count is surfaced (scd2_rejected_late + a WARN)
            # so operators can tell replay noise from genuinely
            # out-of-order new facts, which are silently dropped
            # otherwise; the extra count() job scans only the update
            # batch joined to the slim key boundary, not the table.
            boundary = current.select(
                *keys, F.col("scd_valid_from").alias("__cur_from")
            )
            joined = upd.join(boundary, keys, "left")
            on_time = F.col("__cur_from").isNull() | (
                F.col("scd_valid_from") >= F.col("__cur_from")
            )
            # One materialization serves both the rejected count and
            # the surviving batch: persist → count rejects →
            # localCheckpoint the survivors → release. The count job
            # therefore never re-executes the update-batch lineage
            # (which would diverge from the merged rows if that lineage
            # were non-deterministic), and its scan hits the cached
            # slim join, not the sources.
            joined.persist()
            try:
                n_rej = int(joined.filter(~on_time).count())
                upd = (
                    joined.filter(on_time)
                    .drop("__cur_from")
                    .localCheckpoint(eager=True)
                )
            finally:
                joined.unpersist()
            self.scd2_rejected_late_by_table[table] = n_rej
            self.scd2_rejected_late = n_rej
            if n_rej:
                import logging as _logging

                _logging.getLogger("empujar_spark").warning(
                    "merge_scd2(%s): rejected %d late update row(s) older "
                    "than the open version (CDC replay is idempotent; a "
                    "genuinely new out-of-order fact needs a history "
                    "rebuild)",
                    table,
                    n_rej,
                )
            # A timestamp TIE between the open version and an update is a
            # same-instant supersede: keep exactly the update's attrs
            # (one version at t, deterministically), never an
            # orderBy-tie whose winner depends on partition layout.
            w_tie = Window.partitionBy(*keys, "scd_valid_from").orderBy(
                F.col("__src").desc()
            )
            versions = (
                current.withColumn("__src", F.lit(0))
                .unionByName(upd.withColumn("__src", F.lit(1)))
                .withColumn("__rn", F.row_number().over(w_tie))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__src")
            )
        else:
            history = None
            versions = upd
            self.scd2_rejected_late_by_table[table] = 0
            self.scd2_rejected_late = 0

        w = Window.partitionBy(*keys).orderBy(F.col("scd_valid_from").asc())
        attrs = F.struct(*[F.col(c) for c in tracked])
        changed_only = (
            versions.withColumn("__prev", F.lag(attrs).over(w))
            .filter(
                F.col("__prev").isNull()
                | ~(attrs.eqNullSafe(F.col("__prev")))
            )
            .drop("__prev")
        )
        rebuilt = changed_only.select(
            *keys,
            *tracked,
            F.col("scd_valid_from"),
            F.lead("scd_valid_from").over(w).alias("scd_valid_to"),
        ).withColumn(
            "scd_is_current",
            F.col("scd_valid_to").isNull().cast("int"),
        )
        final = (
            history.unionByName(rebuilt) if history is not None else rebuilt
        )
        final_df, incoming = self._normalize_input(final)
        if not exists:
            return self._write(table, final_df, self._new_meta(table, incoming))
        meta = self._reconcile_schema(table, incoming)
        return self._write(table, self._conform(final_df, meta), meta)

    def refresh_rollup(
        self,
        rollup_table: str,
        src: DataFrame,
        group_cols: list[str],
        sum_cols: list[str],
        watermark_col: str,
    ) -> int:
        """Incrementally maintain an additive rollup (count + sums per
        group): aggregate ONLY source rows newer than the stored
        watermark, then merge the partials into the rollup by summing
        overlapping groups — the reference's getMax watermark pattern
        (mysql.js:193-216, extract.js:15-28) applied to aggregates, so a
        100 TB fact table is never re-scanned to refresh its rollup.

        Contract: ``watermark_col`` must be strictly increasing across
        refresh batches (strict ``>`` filter — additive merges would
        double-count reprocessed rows; the reference's ``>=`` is safe only
        because its upsert dedups by key). Columns written: group_cols +
        ``n_rows`` + ``sum_<col>`` per sum col, where sums are stored as
        SCALE-6 INTEGERS (value × 1e6 as bigint): exact integer addition
        across refreshes — float accumulation would drift from a one-shot
        aggregate; divide by 1e6 at read time. (Headroom: bigint caps a
        scaled sum at ~9.2e12 units — switch the storage to decimal(38,6)
        if a single group can exceed that.) Returns rows newly
        aggregated."""
        meta_key = "rollup_watermark"
        wm = None
        if self.table_exists(rollup_table):
            wm = self._load_meta(rollup_table).get(meta_key)
        fresh = src if wm is None else src.filter(F.col(watermark_col) > F.lit(wm))
        aggs = [F.count(F.lit(1)).alias("n_rows")] + [
            F.sum(
                (F.col(c).cast("decimal(18,6)") * F.lit(1_000_000)).cast(
                    "bigint"
                )
            ).alias(f"sum_{c}")
            for c in sum_cols
        ]
        # ONE evaluation of the partials: the stats row below and the
        # merge write both reuse this materialization, so the source is
        # scanned once and the saved watermark is derived from exactly
        # the rows that were written (no double-count window on live
        # sources)
        partial = fresh.groupBy(*group_cols).agg(
            *aggs, F.max(watermark_col).alias("__new_wm")
        ).localCheckpoint()
        row = partial.select(
            F.max("__new_wm").alias("wm"), F.sum("n_rows").alias("n")
        ).first()
        new_wm, n_new = row["wm"], row["n"] or 0
        partial = partial.drop("__new_wm")
        if n_new == 0:
            return 0
        if self.table_exists(rollup_table):
            from functools import reduce as _reduce

            existing = self.read(rollup_table)
            val_cols = ["n_rows"] + [f"sum_{c}" for c in sum_cols]
            # NULL-SAFE group join: a NULL group key is a real group
            # (SQL GROUP BY treats NULLs as one group); plain equality
            # would pair neither side and duplicate the NULL-group row
            # on every refresh
            e = existing.select(
                *[F.col(c).alias(f"__eg_{c}") for c in group_cols],
                *[F.col(c).alias(f"__e_{c}") for c in val_cols],
            )
            p = partial.select(
                *[F.col(c).alias(f"__pg_{c}") for c in group_cols],
                *[F.col(c).alias(f"__p_{c}") for c in val_cols],
            )
            cond = _reduce(
                lambda a, b: a & b,
                [
                    F.col(f"__eg_{c}").eqNullSafe(F.col(f"__pg_{c}"))
                    for c in group_cols
                ],
            )
            merged = e.join(p, cond, "full_outer").select(
                *[
                    F.coalesce(F.col(f"__eg_{c}"), F.col(f"__pg_{c}")).alias(c)
                    for c in group_cols
                ],
                *[
                    (
                        F.coalesce(F.col(f"__e_{c}"), F.lit(0))
                        + F.coalesce(F.col(f"__p_{c}"), F.lit(0))
                    ).alias(c)
                    for c in val_cols
                ],
            )
        else:
            merged = partial
        df, incoming = self._normalize_input(merged)
        if not self.table_exists(rollup_table):
            meta = self._new_meta(rollup_table, incoming)
        else:
            meta = self._reconcile_schema(rollup_table, incoming)
            df = self._conform(df, meta)
        # the watermark commits in the same version as the rows it covers
        meta[meta_key] = new_wm.isoformat() if hasattr(new_wm, "isoformat") else new_wm
        self._write(rollup_table, df, meta)
        return int(n_new)

    # -------------------------------------------------------------- DDL ops
    def add_column(self, table: str, column: str, sample_values=None) -> None:
        """ADD COLUMN with type inferred from sample values
        (mysql.js:471-530)."""
        ct = ColumnType(UNKNOWN)
        for v in sample_values or []:
            ct = lattice.promote(ct, lattice.infer_value_type(v, self.varchar_length))
        meta = self._load_meta(table)
        if column in [c["name"] for c in meta["columns"]]:
            return self.alter_column(table, column, ct)
        meta["columns"].append(
            {"name": column, "kind": ct.kind, "char_length": ct.char_length,
             "element": ct.element}
        )
        self._write(table, self._conform(self.read(table), meta), meta)

    def alter_column(self, table: str, column: str, new_type) -> None:
        """Re-type a column (mysql.js:532-545). ``new_type`` is a ColumnType
        or a rendered string like 'text'/'float'/'bigint(20)'."""
        if isinstance(new_type, str):
            new_type = _parse_rendered(new_type, self.varchar_length)
        meta = self._load_meta(table)
        found = False
        for c in meta["columns"]:
            if c["name"] == column:
                c["kind"] = new_type.kind
                c["char_length"] = new_type.char_length
                c["element"] = new_type.element
                found = True
        if not found:
            raise KeyError(f"{table}.{column}")
        old = self.read(table)
        self._write(table, self._conform(old, meta), meta)

    def copy_table_schema(self, src: str, dest: str) -> None:
        """Empty clone — CREATE TABLE LIKE (mysql.js:601-605)."""
        meta = {**self._load_meta(src), "table": dest}
        empty = self.spark.createDataFrame([], self._physical_schema(meta))
        self._write(dest, empty, meta)

    def schema_diff(
        self, old_table: str, new_table: str,
        include_unchanged: bool = False,
    ) -> DataFrame:
        """Schema release diff between two warehouse tables — the
        evolution surface (mysql.js:277-358 add-column / widen /
        retype) as an AUDIT instead of a mutation: which columns were
        added, removed, or re-typed between v(N) and v(N+1), in the
        §1.2 lattice's rendered vocabulary. The companion to
        operators/quality.table_diff (content); meta-sized, no scan."""
        from empujar_spark.operators.quality import schema_diff as _sd

        return _sd(
            self.spark,
            {n: ct.render() for n, ct in self.column_types(old_table).items()},
            {n: ct.render() for n, ct in self.column_types(new_table).items()},
            include_unchanged=include_unchanged,
        )

    def get_variable(self, name: str, default=None):
        """Read an engine setting (reference getVariable, mysql.js:181-191
        — used there for max_allowed_packet batch budgets; Spark's
        equivalent knobs live in spark.conf)."""
        try:
            return self.spark.conf.get(name)
        except Exception:
            return default

    def dump(
        self,
        table: str,
        path: str,
        fmt: str = "csv",
        compression: str | None = "gzip",
        header: bool = True,
        single_file: bool = False,
        progress_interval_s: float = 30.0,
        progress_log=None,
    ) -> None:
        """Table export (reference `dump`, mysql.js:607-660: shells out to
        mysqldump with optional gzip). Distributed writer replaces the
        single-process dump; ``single_file`` coalesces for small tables
        when one artifact is required (the mysqldump-shaped output).

        While the write runs, a watcher logs the dumped size every
        ``progress_interval_s`` (reference dumpLogTimer, mysql.js:31-33,
        651-659: 30s cadence). ``progress_log`` overrides the logger for
        tests."""
        import logging as _logging

        log = progress_log or _logging.getLogger("empujar_spark").info

        def _dir_size(p: str) -> int:
            total = 0
            for root, _dirs, files in os.walk(p):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
            return total

        stop = threading.Event()

        def _watch() -> None:
            while not stop.wait(progress_interval_s):
                if os.path.exists(path):
                    log(f"dumped to {path}: {_dir_size(path)} bytes")
                else:
                    log(f"cannot find dumpfile: {path}")

        df = self.read(table)
        if single_file:
            df = df.coalesce(1)
        watcher = threading.Thread(target=_watch, daemon=True)
        watcher.start()
        try:
            self._dump_write(df, path, fmt, compression, header)
        finally:
            stop.set()
            watcher.join(timeout=5)

    @staticmethod
    def _dump_write(df, path, fmt, compression, header):
        writer = df.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            writer = writer.option("header", str(header).lower())
        if compression:
            writer = writer.option("compression", compression)
        writer.save(path)

    def save_bucketed(
        self,
        table: str,
        df: DataFrame,
        key: str | list[str],
        buckets: int = 32,
        sort: bool = True,
    ) -> str:
        """Write a catalog-managed BUCKETED table (hash-bucketed on ``key``
        into ``buckets`` files per partition, optionally sorted within each
        bucket).

        This is the co-located-join layout: two tables bucketed on the
        same key with the same bucket count join with ZERO shuffle
        Exchange — each task zips bucket i with bucket i. At 100 TB this
        converts every recurring fact⋈fact join on the distribution key
        from a full-network shuffle into a local merge (the Spark analogue
        of Redshift ``distkey`` co-location, redshift.js:340-342, done
        properly via the session catalog since plain parquet dirs cannot
        carry bucket metadata).

        The bucket layout lives in the session catalog (bucketBy requires
        ``saveAsTable``); data files land under the warehouse root so the
        table also remains readable as plain parquet by path (without the
        bucket-pruning benefit). Read back with :meth:`read_bucketed`.
        """
        keys = _as_key_list(key)
        name = self._bucketed_name(table)
        path = os.path.join(self.path, f"{table}.bucketed")
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        # Pre-shuffle onto the bucket hash (repartition and bucketBy both
        # use Murmur3 hash partitioning): each task then owns exactly one
        # bucket and writes ONE file, instead of every task writing a
        # sliver of every bucket (tasks × buckets small files — metadata
        # poison at 100 TB).
        writer = (
            df.repartition(buckets, *keys)
            .write.format("parquet")
            .mode("overwrite")
            .bucketBy(buckets, *keys)
        )
        if sort:
            writer = writer.sortBy(*keys)
        writer.option("path", path).saveAsTable(name)
        return name

    def _bucketed_name(self, table: str) -> str:
        """Catalog identifier for a bucketed table — includes a digest of
        the warehouse path so two Warehouse instances with the default
        ``name`` never collide in the shared session catalog."""
        import hashlib

        digest = hashlib.md5(self.path.encode()).hexdigest()[:8]
        return f"{self.name}_{digest}_{table}_bucketed"

    def read_bucketed(self, table: str) -> DataFrame:
        """Catalog read of a bucketed table — the scan carries the bucket
        spec, so joins/aggregations on the bucket key skip the Exchange."""
        return self.spark.table(self._bucketed_name(table))

    def drop_table(self, table: str) -> None:
        if os.path.isdir(self._table_dir(table)):
            shutil.rmtree(self._table_dir(table))
        self.show_tables()

    def delete_rows(self, table: str, condition) -> int:
        """Row-level DELETE (SQL semantics: rows where ``condition`` IS
        TRUE go; NULL-condition rows stay) via copy-on-write — the
        GDPR / right-to-be-forgotten verb the merge family lacks.

        Rewrites the survivors through the same versioned commit as every
        write, so concurrent readers keep their version until the pointer
        flips (reader isolation). Returns the number of rows deleted.

        PHYSICAL-ERASURE CAVEAT: the commit only flips the pointer —
        deleted rows still exist in retained older versions (that is what
        makes ``read_version`` time travel work). A compliance delete is
        DELETE + ``vacuum()``; the erasure test pins that the bytes are
        actually gone afterwards."""
        from pyspark.sql import Column

        meta = self._load_meta(table)
        df = self.read(table)
        cond = (
            F.expr(condition) if isinstance(condition, str) else condition
        )
        assert isinstance(cond, Column)
        hit = F.coalesce(cond.cast("boolean"), F.lit(False))
        n_deleted = df.filter(hit).count()
        if n_deleted:
            self._write(table, df.filter(~hit), meta)
        return n_deleted

    def delete_keys(self, table: str, keys: DataFrame, key: str | list[str]) -> int:
        """Distributed DELETE by key set: drop every row whose key appears
        in ``keys`` (a DataFrame — never a collected list, so the delete
        side can itself be petabyte-scale CDC output). A LEFT ANTI join on
        the merge key through the same copy-on-write versioned commit as
        delete_rows; the erasure caveat is identical.

        Returns the number of rows deleted."""
        kcols = _as_key_list(key)
        meta = self._load_meta(table)
        df = self.read(table)
        slim = keys.select(*kcols).distinct()
        # one semi-join count for the hit total (not before/after full
        # counts — that would scan the table twice before the write)
        n_deleted = df.join(slim, kcols, "left_semi").count()
        if n_deleted:
            self._write(table, df.join(slim, kcols, "left_anti"), meta)
        return n_deleted

    def apply_cdc(
        self,
        table: str,
        batch: DataFrame,
        key: str | list[str],
        op_col: str = "op",
        seq_col: str | None = None,
    ) -> dict:
        """Apply an I/U/D change batch (Debezium-shaped CDC) to a table:
        the lakehouse MERGE that ``stream_upsert`` (upserts only) lacks.

        Within the batch, the LAST op per key wins (ordered by ``seq_col``
        when given — required whenever a key can appear twice; without it,
        duplicate keys in one batch are rejected loudly rather than
        resolved arbitrarily). Then one upsert pass for the surviving
        I/U rows and one anti-join delete pass for the D keys — two
        versioned commits, both key-shuffle-bounded, never row loops.

        Returns {"upserted": n, "deleted": n}."""
        kcols = _as_key_list(key)
        if seq_col is not None:
            w = Window.partitionBy(*kcols).orderBy(F.col(seq_col).desc())
            batch = (
                batch.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            dup = (
                batch.groupBy(*kcols)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "apply_cdc: duplicate keys in batch and no seq_col to "
                    "order them — last-op-wins needs a sequence"
                )
        # NULL / unknown ops would fall through BOTH filters below
        # (NULL-false on each side) and vanish silently — reject loudly,
        # matching the duplicate-key behavior above
        bad = (
            batch.filter(
                F.col(op_col).isNull() | ~F.col(op_col).isin("I", "U", "D")
            )
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                "apply_cdc: op column contains NULL or values outside "
                "I/U/D — such rows would be silently dropped"
            )
        ups = batch.filter(F.col(op_col) != "D").drop(op_col)
        dels = batch.filter(F.col(op_col) == "D").select(*kcols)
        n_up = ups.count()
        if n_up:
            self.insert_data(table, ups, merge_key=key)
        n_del = 0
        if self.table_exists(table) and dels.limit(1).count():
            n_del = self.delete_keys(table, dels, key)
        return {"upserted": n_up, "deleted": n_del}

    def update_rows(self, table: str, condition, assignments: dict) -> int:
        """Row-level UPDATE (SQL semantics: rows where ``condition`` IS
        TRUE take the assignments; NULL-condition rows are untouched) via
        copy-on-write — the in-place-redaction verb: GDPR anonymization
        keeps the row for aggregates but scrubs the payload, where
        ``delete_rows`` removes it entirely.

        ``assignments`` maps column name → Column/SQL-string expression,
        evaluated against the PRE-update row (standard UPDATE semantics:
        all assignments see the old values). Unknown columns are
        rejected — UPDATE never widens a schema; that is ``add_column``'s
        job. Returns the number of rows updated; a no-match update writes
        no version. Same versioned commit and erasure caveat as
        delete_rows (old versions retain pre-update rows until vacuum)."""
        from pyspark.sql import Column

        meta = self._load_meta(table)
        df = self.read(table)
        unknown = set(assignments) - set(df.columns)
        if unknown:
            raise KeyError(
                f"update_rows: unknown column(s) {sorted(unknown)} — "
                "UPDATE never adds columns; use add_column first"
            )
        cond = (
            F.expr(condition) if isinstance(condition, str) else condition
        )
        assert isinstance(cond, Column)
        hit = F.coalesce(cond.cast("boolean"), F.lit(False))
        n_updated = df.filter(hit).count()
        if n_updated:
            exprs = []
            for c in df.columns:
                if c in assignments:
                    a = assignments[c]
                    new = F.expr(a) if isinstance(a, str) else a
                    # keep the column's declared type stable across the
                    # rewrite — UPDATE must not retype the table
                    exprs.append(
                        F.when(hit, new.cast(df.schema[c].dataType))
                        .otherwise(F.col(c))
                        .alias(c)
                    )
                else:
                    exprs.append(F.col(c))
            self._write(table, df.select(*exprs), meta)
        return n_updated

    def compact(self, table: str, target_file_bytes: int = 256 * 1024 * 1024) -> int:
        """Rewrite a table into ~target_file_bytes files (small-file
        compaction). Incremental upserts accrete one file set per merge;
        at scale thousands of KB-files turn every scan's planning and
        open() phase into the bottleneck. Returns the file count written.

        The count is recorded as the layout's ``files`` (any clustering
        is kept), so later commits stay at it instead of re-accreting.
        Uses the same versioned-commit path as every write, so readers
        never see a half-compacted table."""
        meta = self._load_meta(table)
        df = self.read(table)
        data_dir = self._data_dir(table)
        total = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(data_dir)
            for f in fs
        )
        n_files = max(1, int(total // target_file_bytes) + (1 if total % target_file_bytes else 0))
        meta["layout"] = {**meta.get("layout", {}), "files": n_files}
        self._write(table, df, meta)
        return n_files

    # ------------------------------------------------------- snapshots
    def _snapshot_dir(self, table: str, tag: str) -> str:
        if "/" in tag or tag.startswith("."):
            raise ValueError(f"bad snapshot tag {tag!r}")
        return os.path.join(self._table_dir(table), "snapshots", tag)

    def snapshot(self, table: str, tag: str) -> str:
        """Zero-copy table snapshot: hardlink-clone the current version —
        its data files and the ``_meta.json`` committed with them — under
        ``snapshots/<tag>``.

        Parquet data files are immutable here (every write commits a NEW
        version dir), so hardlinks give true snapshot isolation at
        O(n_files) metadata cost and zero extra bytes — the same trick
        Delta/Iceberg get from their manifest layer, done directly on the
        directory layout. Later upserts/compactions commit new files and
        the snapshot's links keep the old inodes alive; ``vacuum`` never
        touches ``snapshots/``."""
        if not self.table_exists(table):
            raise TableNotFound(table)
        dst = self._snapshot_dir(table, tag)
        if os.path.isdir(dst):
            raise ValueError(f"snapshot {tag!r} already exists for {table}")
        with self._lock:
            # resolve the current version under the commit lock so a
            # concurrent write's prune can't remove it mid-walk
            src = self._data_dir(table)
            data_dst = os.path.join(dst, "data")
            for dp, dirs, files in os.walk(src):
                rel = os.path.relpath(dp, src)
                tgt = data_dst if rel == "." else os.path.join(data_dst, rel)
                os.makedirs(tgt, exist_ok=True)
                for f in files:
                    os.link(os.path.join(dp, f), os.path.join(tgt, f))
        return dst

    def list_snapshots(self, table: str) -> list[str]:
        root = os.path.join(self._table_dir(table), "snapshots")
        if not os.path.isdir(root):
            return []
        return sorted(os.listdir(root))

    def read_snapshot(self, table: str, tag: str) -> DataFrame:
        """Read a table as of a snapshot — time travel for audits and
        reproducible training runs (pin the corpus a model trained on)."""
        d = os.path.join(self._snapshot_dir(table, tag), "data")
        if not os.path.isdir(d):
            raise TableNotFound(f"{table}@{tag}")
        return self._scan(d, self._version_meta(d))

    def restore_snapshot(self, table: str, tag: str) -> None:
        """Roll the live table back to a snapshot (versioned commit, so
        readers never see a half-restored table; the snapshot remains)."""
        df = self.read_snapshot(table, tag)
        d = os.path.join(self._snapshot_dir(table, tag), "data")
        self._write(table, df, self._version_meta(d))

    def drop_snapshot(self, table: str, tag: str) -> None:
        dst = self._snapshot_dir(table, tag)
        if os.path.isdir(dst):
            shutil.rmtree(dst, ignore_errors=True)

    def vacuum(self) -> list[str]:
        """Remove non-current data versions: reader-isolation grace
        copies plus orphans from writes that crashed before their
        pointer flip. Retention caveat (same as any lakehouse VACUUM):
        an in-flight scan of an old version dies if its version is
        vacuumed under it — run between loads, not during them."""
        removed = []
        for table in self.show_tables():
            with self._lock:
                cur = self._current_version(table)
                for v in self._list_versions(table):
                    if v != cur and (table, v) not in self._inflight_versions:
                        d = self._version_dir(table, v)
                        shutil.rmtree(d, ignore_errors=True)
                        removed.append(os.path.relpath(d, self.path))
        return removed

    # ------------------------------------------------------------- merge ops
    def merge_tables(self, source: str, destination: str) -> str:
        """Incremental upsert of one table into another (mysql.js:547-599).

        Decision matrix (mysql.js:560-565): full merge when the destination
        is missing, the source has more columns, or the destination lacks
        the primary key. Otherwise incremental: dedup-keep-latest on the
        source (redshift.js:399-413 — max(updated_at) wins per key), then
        key-based upsert. Returns 'full' or 'incremental'.
        """
        if not self.table_exists(source):
            raise TableNotFound(source)
        src_meta = self._load_meta(source)
        src_cols = [c["name"] for c in src_meta["columns"]]
        pk = self.primary_key
        full = False
        if not self.table_exists(destination):
            full = True
        else:
            dest_cols = [c["name"] for c in self._load_meta(destination)["columns"]]
            if len(src_cols) > len(dest_cols):
                full = True
            if pk not in dest_cols:
                full = True
        if full:
            meta = {**src_meta, "table": destination}
            self._write(destination, self.read(source), meta)
            return "full"

        src_df = self.read(source)
        if pk in src_cols:
            src_df = self.dedup_keep_latest(src_df, pk)
        self.insert_data(destination, src_df, merge_on_duplicates=True, merge_key=pk)
        return "incremental"

    @staticmethod
    def dedup_keep_latest(
        df: DataFrame, key: str, order_col: str | None = None
    ) -> DataFrame:
        """Keep the latest row per key (redshift.js:399-413: delete rows
        whose ``updated_at`` is not the max for a duplicated id). Order
        column auto-detected from the sortkey candidates.

        Ties (equal or absent order column) break on a CONTENT
        fingerprint of the whole row — md5 over fixed-width per-column
        tokens, the table_diff encoding — so the survivor is a pure
        function of the data, never of partition layout
        (monotonically_increasing_id, the previous fallback, renumbers
        whenever the input repartitions — two runs over the same rows
        could keep different survivors; VERDICT r15 item 5). Rows that
        tie on the fingerprint too are full duplicates, so either
        survivor is the same content."""
        if order_col is None:
            order_col = next((c for c in _SORTKEY_CANDIDATES if c in df.columns), None)
        order_exprs = [F.col(order_col).desc_nulls_last()] if order_col else []
        tie = F.md5(
            F.concat(
                *[
                    F.coalesce(F.md5(F.col(c).cast("string")), F.lit("-" * 32))
                    for c in sorted(df.columns)
                ]
            )
        )
        order_exprs.append(tie.asc())
        w = Window.partitionBy(key).orderBy(*order_exprs)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )


def _footers(data_dir: str) -> list | None:
    """The parquet footers (pyarrow ``FileMetaData``) of a file set,
    read on the driver: microseconds a file and no Spark job in the
    local/bench regime. None past 256 files, where serial per-file reads
    on the driver (on object stores, one round-trip each) cost more than
    one Spark job's scheduling."""
    import pyarrow.parquet as pq

    files = [
        os.path.join(root, n)
        for root, _dirs, names in os.walk(data_dir)
        for n in names
        if n.endswith(".parquet")
    ]
    if len(files) > 256:
        return None
    return [pq.read_metadata(f) for f in files]


# footer logical type a column of each kind must carry (physical INT64)
# for get_max to trust its statistics: what Spark writes for LongType
# and for TimestampType under TIMESTAMP_MICROS
_FOOTER_MAX_TYPES = {
    LONG: {"Type": "None"},
    TIMESTAMP: {"Type": "Timestamp", "isAdjustedToUTC": True,
                "timeUnit": "microseconds"},
}


def _footer_max(data_dir: str, meta: dict, column: str) -> tuple[bool, object]:
    """``(True, max)`` of ``column`` over one version's row-group
    statistics (``max`` None when the meta lacks the column or every
    value is NULL), or ``(False, None)`` when the footers cannot answer
    exactly and the caller must aggregate."""
    kind = next((c["kind"] for c in meta["columns"] if c["name"] == column), None)
    if kind is None:
        return True, None
    if kind not in _FOOTER_MAX_TYPES or column in (meta.get("partition_cols") or []):
        return False, None
    footers = _footers(data_dir)
    if footers is None:
        return False, None
    want = _FOOTER_MAX_TYPES[kind]
    best = None
    for md in footers:
        idx = next(
            (i for i in range(md.num_columns) if md.schema.column(i).path == column),
            None,
        )
        if idx is None:
            return False, None
        col = md.schema.column(idx)
        if col.physical_type != "INT64" or not (
            want.items() <= json.loads(col.logical_type.to_json()).items()
        ):
            return False, None
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            st = rg.column(idx).statistics
            if st is not None and st.has_null_count and st.null_count == rg.num_rows:
                continue  # every value NULL
            if st is None or not st.has_min_max:
                return False, None
            best = st.max_raw if best is None else max(best, st.max_raw)
    if best is not None and kind == TIMESTAMP:
        best = T.TimestampType().fromInternal(best)
    return True, best


def _arrow_table(tuples: list[tuple], schema: T.StructType):
    """Normalized row tuples as a pyarrow Table of ``schema``, holding
    the values ``createDataFrame(tuples, schema)`` would. Timestamps,
    also inside arrays, go in as the epoch micros of
    ``TimestampType.toInternal`` (naive values read as process-local
    time, aware ones by their offset), because Arrow takes a naive
    datetime as session-time-zone wall clock and pyarrow drops an
    aware one's offset."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

    cols = list(zip(*tuples)) if tuples else [()] * len(schema.fields)
    arrays = []
    for f, col in zip(schema.fields, cols):
        dt = f.dataType
        if dt.needConversion():  # a timestamp at some depth
            col = [dt.toInternal(v) for v in col]
        arrays.append(pa.array(col, to_arrow_type(_as_micros(dt))))
    arrow = to_arrow_schema(schema)
    return pa.Table.from_arrays(arrays, names=arrow.names).cast(arrow)


def _as_micros(dt: T.DataType) -> T.DataType:
    """``dt`` with each TimestampType replaced by its epoch-micros long."""
    if isinstance(dt, T.TimestampType):
        return T.LongType()
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_micros(dt.elementType))
    return dt


# rows per file of a driver-held batch with unique keys: the 64 MB
# advisory partition size AQE gives a shuffled batch, at 256 bytes a row
_LOCAL_BATCH_ROWS_PER_FILE = 1 << 18

_NAN = object()  # the one group Spark puts every NaN key in


def _group_value(v):
    """A collected key value as Spark groups it: NaN equals NaN, and
    arrays and binary values are hashable."""
    if isinstance(v, float) and v != v:
        return _NAN
    if isinstance(v, list):
        return tuple(_group_value(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _key_groups(batch: DataFrame, key: list[str]) -> tuple[int, bool]:
    """Of a driver-held batch, read with a collect of its ``key``
    columns, which a local relation serves on the driver with no Spark
    job: the number of groups they form the way Spark groups them (NULL
    with NULL, NaN with NaN), or the row count when ``key`` is empty;
    and whether every group is one row, so the batch needs no dedup
    window."""
    rows = batch.select(*key).collect()
    groups = {tuple(_group_value(v) for v in r) for r in rows} if key else rows
    return len(groups), len(groups) == len(rows)


def _plan_batch(
    df: DataFrame,
    key: list[str],
    local: bool,
    keep: str = "last",
    order_col: str | None = None,
) -> tuple[DataFrame, int | None]:
    """The batch to write for ``df``, deduplicated on ``key`` (not at all
    when empty), and its key-group count (None when not ``local``).

    A driver-held (``local``) batch is planned from its keys, collected
    on the driver with no Spark job: only one that repeats a key runs the
    dedup window. One of unique keys has no shuffle, and its
    LocalTableScan would split into ``defaultParallelism`` partitions, so
    it is coalesced to one partition, one file, per
    ``_LOCAL_BATCH_ROWS_PER_FILE`` rows. The window runs uncached, so AQE
    coalesces its shuffle to the advisory partition size."""
    n = None
    if local:
        n, unique = _key_groups(df, key)
        if unique:
            return df.coalesce(-(-n // _LOCAL_BATCH_ROWS_PER_FILE) or 1), n
    if key:
        df = Warehouse._dedup_batch(df, key, keep=keep, order_col=order_col)
    return df, n


def _as_key_list(key: str | list[str]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def _check_layout(layout: dict) -> dict:
    """Validate a declared table layout (forms: Warehouse.replace_table)
    before it is stored — a malformed one would fail every later commit
    of the table. Returns it with key columns as lists."""
    unknown = set(layout) - {"cluster_by", "zorder_by", "files"}
    if unknown:
        raise ValueError(f"unknown layout field(s) {sorted(unknown)}")
    if "cluster_by" in layout and "zorder_by" in layout:
        raise ValueError("a layout takes cluster_by or zorder_by, not both")
    n = layout.get("files")
    if not isinstance(n, int) or n < 1:
        raise ValueError(f"a layout needs a file count files >= 1, got {n!r}")
    out = {k: v if k == "files" else _as_key_list(v) for k, v in layout.items()}
    if "zorder_by" in out and len(out["zorder_by"]) < 2:
        raise ValueError("z-ordering needs >= 2 cluster columns")
    return out


def _apply_layout(df: DataFrame, meta: dict) -> DataFrame:
    """Lay out one commit's rows by the table's stored ``layout`` (forms:
    :meth:`Warehouse.replace_table`). A bare ``files`` is the ``distkey``
    analogue (redshift.js:340-342); without a clustering, rows sort
    within partitions on the watermark column, the ``sortkey`` analogue
    (redshift.js:344-350)."""
    layout = meta.get("layout") or {}
    n = layout.get("files")
    if "cluster_by" in layout:
        keys = layout["cluster_by"]
        return (
            df.repartitionByRange(n, *[F.col(k) for k in keys])
            .sortWithinPartitions(*keys)
        )
    if "zorder_by" in layout:
        return (
            df.withColumn("__z", _zorder_code(df, layout["zorder_by"]))
            .repartitionByRange(n, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    if n:
        pk = meta.get("primary_key")
        df = df.repartition(n, pk) if pk else df.repartition(n)
    sort_col = next((c for c in _SORTKEY_CANDIDATES if c in df.columns), None)
    return df.sortWithinPartitions(sort_col) if sort_col else df


def _zorder_code(df: DataFrame, keys: list[str]):
    """Z-value column interleaving the bits of each key's quantized value.
    The z-curve is locality-preserving in EVERY dimension, so files
    range-partitioned on it keep a narrow footer min/max in each key —
    footer skipping then serves a selective predicate on ANY of them,
    including non-leading ones a lexicographic sort cannot (Delta/Iceberg
    OPTIMIZE ZORDER BY).

    Quantization needs per-key min/max: ONE tiny stats aggregate (a
    single row to the driver). Keys are quantized to 16 bits; the
    interleave is pure shift/bitwise-OR column expressions, JVM-side."""
    bits = 16
    stats = df.agg(
        *[F.min(F.col(k).cast("double")).alias(f"min_{k}") for k in keys],
        *[F.max(F.col(k).cast("double")).alias(f"max_{k}") for k in keys],
    ).first()
    n_levels = (1 << bits) - 1
    quantized = []
    for k in keys:
        # an empty or all-NULL key has no range: every row quantizes to 0
        lo = stats[f"min_{k}"] or 0.0
        span = ((stats[f"max_{k}"] or 0.0) - lo) or 1.0
        q = F.floor(
            (F.col(k).cast("double") - F.lit(lo)) / F.lit(span) * n_levels
        ).cast("long")
        quantized.append(F.least(F.greatest(q, F.lit(0)), F.lit(n_levels)))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j, q in enumerate(quantized):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(q, b).bitwiseAND(F.lit(1)),
                    b * len(keys) + j,
                ).cast("long")
            )
    return z


def _parse_rendered(s: str, varchar_length: int) -> ColumnType:
    """Parse a rendered type string back to the lattice (regex parse parity
    with mysql.js:100-105)."""
    s = s.strip().lower()
    if s.startswith("varchar"):
        n = varchar_length
        if "(" in s:
            n = int(s.split("(")[1].rstrip(")"))
        return ColumnType(UNKNOWN) if n == 0 else ColumnType(VARCHAR, n)
    if s == "text":
        return ColumnType(TEXT)
    if s.startswith("tinyint(1)") or s == "boolean":
        return ColumnType(lattice.BOOLEAN)
    if s.startswith(("bigint", "int", "number", "smallint")):
        return ColumnType(LONG)
    if s in ("float", "double", "real"):
        return ColumnType(DOUBLE)
    if s in ("datetime", "timestamp", "date"):
        return ColumnType(lattice.TIMESTAMP)
    return ColumnType(TEXT)
