"""DocumentIndex: the Elasticsearch connection surface
(lib/connections/elasticsearch.js) over DataFrames.

The reference treats ES indices as tables of flat documents with:
- ``showIndices``  (es.js:25-28)          → list registered indices
- ``getAll(index, query, fields, …)``     → scroll scan with a bool/range
  query DSL + ``_source`` projection (es.js:68-131) — here the DSL is
  compiled to Catalyst filters (so it pushes down to the scan) and the
  field list to a column projection.
- ``insertData``   (es.js:30-66)          → per-doc upsert (update-else-
  create) → batch upsert through the same key-join plan as the Warehouse.
- ISO-8601 date revival (es.js:109-114)   → regex-matched string columns
  cast to timestamps.

Only the query-DSL subset the reference itself uses is implemented:
``bool.must``, ``range`` (gte/gt/lte/lt), ``term``, ``match_all``
(es.js test corpus: test/connections/elasticsearch.js:195-217).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# es.js:109-114 — with one deliberate deviation: the fractional-second
# part is OPTIONAL here. The reference's unescaped-dot regex effectively
# rejects whole-second ISO stamps ('2024-01-01T00:00:00Z'), a standard
# ISO-8601 form that would then silently stay a string column.
ISO_DATE_RE = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?Z$"


class DocumentIndex:
    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._indices: dict[str, DataFrame] = {}
        self._date_cols: dict[str, list[str]] = {}

    def register(self, name: str, df: DataFrame) -> None:
        self._indices[name] = df
        self._date_cols[name] = self._infer_date_cols(df)

    def show_indices(self) -> list[str]:
        return sorted(self._indices)

    # ---------------------------------------------------------------- query
    def _compile(self, df: DataFrame, query: dict | None) -> Column:
        """ES query DSL → Catalyst predicate (pushdown-friendly)."""
        if not query or "match_all" in query:
            return F.lit(True)
        if "bool" in query:
            must = query["bool"].get("must", [])
            if isinstance(must, dict):
                must = [must]
            pred = F.lit(True)
            for clause in must:
                pred = pred & self._compile(df, clause)
            return pred
        if "range" in query:
            pred = F.lit(True)
            for field, ops in query["range"].items():
                c = F.col(field)
                for op, v in ops.items():
                    pred = pred & {
                        "gte": c >= v, "gt": c > v, "lte": c <= v, "lt": c < v
                    }[op]
            return pred
        if "term" in query:
            ((field, v),) = query["term"].items()
            return F.col(field) == v
        raise ValueError(f"unsupported query DSL: {list(query)}")

    def get_all(
        self,
        index: str,
        query: dict | None = None,
        fields: list[str] | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """Scroll scan → filtered/projected DataFrame (es.js:68-131). The
        8-minute scroll window and per-page chunking disappear: Spark
        partitions are the scan unit."""
        df = self._indices[index]
        # Revive dates BEFORE compiling predicates: a range filter on a
        # raw ISO string compares lexicographically ('...00.95Z' sorts
        # before '...00.9Z' because '5' < 'Z'), silently excluding rows
        # whose timestamps are in range. On the revived timestamp column
        # Spark casts the literal bound and compares temporally.
        for c in self._date_cols.get(index, []):
            if c in df.columns:
                df = df.withColumn(c, F.to_timestamp(F.col(c)))
        df = df.filter(self._compile(df, query))
        if fields:
            df = df.select(*fields)  # _source projection (es.js:80-82)
        if limit is not None:
            df = df.limit(limit)
        return df

    def _infer_date_cols(self, df: DataFrame) -> list[str]:
        """ISO-8601 string columns → revived to timestamps (es.js:109-114).

        Decided ONCE at register time — not per get_all call — with one
        aggregate over the whole index, not a single sampled row: a column
        counts as a date column when it has values and every non-null value
        matches the ISO pattern (a first-row null/non-ISO value therefore
        cannot mask a date column, and no read-path query ever fires a
        Spark job just to decide)."""
        from pyspark.sql import types as T

        string_cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
        ]
        if not string_cols:
            return []
        flags = df.agg(
            *[
                (
                    (F.count(F.when(F.col(c).rlike(ISO_DATE_RE), 1)) > 0)
                    & (
                        F.count(F.when(~F.col(c).rlike(ISO_DATE_RE), 1))
                        == 0
                    )
                ).alias(c)
                for c in string_cols
            ]
        ).first()
        return [c for c in string_cols if bool(flags[c])]

    # ---------------------------------------------------------------- write
    def insert_data(self, index: str, data, key: str = "id") -> DataFrame:
        """Per-doc upsert (es.js:30-66 update-else-create, writeLimit=20
        bounded parallelism) → one batch upsert plan: new docs win by key,
        existing non-matching docs survive. Executor parallelism replaces
        the manual concurrency cap."""
        # reuse the Warehouse's batch plan and row-dict conversion
        from empujar_spark.catalog import _arrow_table, _plan_batch

        local = not isinstance(data, DataFrame) or data.isLocal()
        if not isinstance(data, DataFrame):
            from empujar_spark import types as lattice

            rows = list(data)
            col_types = lattice.infer_column_types(rows)
            schema = lattice.to_struct_type(col_types)
            data = self.spark.createDataFrame(
                _arrow_table(lattice.normalize_rows(rows, col_types), schema), schema
            )
        # a batch that repeats an id keeps its last row, whether it
        # creates the index or updates it; a driver-held batch of unique
        # ids plans no dedup window
        deduped, _ = _plan_batch(data, [key] if key in data.columns else [], local)
        if index not in self._indices:
            # checkpointed like a merged index below, so a dedup window
            # runs once and the surviving row of a repeated id stays fixed
            created = deduped.localCheckpoint(eager=False)
            self.register(index, created)  # infers the date-column cache once
            return created
        existing = self._indices[index]
        # the raw batch's keys are the deduped batch's: broadcasting them
        # keeps the dedup window out of the broadcast build
        kept = existing.join(F.broadcast(data.select(key)), on=key, how="left_anti")
        # localCheckpoint (lazy) caps the per-insert lineage growth — an
        # ingest loop would otherwise accrete one anti-join + union of
        # plan per batch until analysis cost or driver memory blows up
        merged = kept.unionByName(
            deduped, allowMissingColumns=True
        ).localCheckpoint(eager=False)
        # keep the date-column cache instead of re-inferring: register()'s
        # inference is a full-index aggregation, which would turn an
        # N-batch ingest into O(N × index) scans; the merged frame has the
        # same columns (new ones from this batch stay un-revived until an
        # explicit re-register — the reference's scroll reader likewise
        # revives only per its fixed regex, es.js:109-114)
        self._indices[index] = merged
        return merged
