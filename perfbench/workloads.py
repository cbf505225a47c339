"""The three workloads. Each is one closed-loop, single-client process:
an operation starts only after the previous one finished.

A workload class has ``generate`` (seeded inputs; timed into ``setup_s``),
``warm_up`` (also setup), ``run`` (the measured phase, bounded by
``--seconds``) and ``check`` (the oracle, untimed). ``run`` fills a
``Result``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field

import gen
import probes


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    sizes: dict = field(default_factory=dict)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, nearest-rank. Below 11 samples no percentile has
    ten beyond it; the maximum is reported with percentile 100."""
    v, n = sorted(values), len(values)
    if n < 11:
        return v[-1], 100.0, n
    rank = n - 10  # 1-based rank with exactly ten samples above it
    return v[rank - 1], round(100.0 * rank / n, 1), n


@contextlib.contextmanager
def untraced(ctx):
    """Oracle work: calls pass through the wrappers unrecorded."""
    tr = ctx.tracer
    if tr is not None:
        tr.paused = True
    try:
        yield
    finally:
        if tr is not None:
            tr.paused = False


class Workload:
    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, self.name)

    def fresh_dir(self, *parts: str) -> str:
        d = os.path.join(self.dir, *parts)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


# ------------------------------------------------------------------ books
class BookWorkload(Workload):
    """One round = a full book run from source v1 into an empty
    warehouse, then an incremental rerun from source v2 into the same
    warehouse, each with a freshly built book and Warehouse handle, as a
    scheduled batch job would. Rounds repeat until ``--seconds`` is spent."""

    primary_key = "id"

    def build(self, source: str, wh):
        raise NotImplementedError

    def pass_rows(self, which: str) -> dict[str, int]:
        """Source rows the pass lands, per warehouse table."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Only the session's first job. A book is a batch job that starts
        in a fresh process, so its users pay the JVM's first-run cost
        (class loading, JIT, code generation) on every run; the measured
        round includes it. Warming with a tiny book run first was tried:
        it cost 20 s of set-up and the warm figures spread no less."""
        self.ctx.spark.range(1).count()

    def run_book(self, source: str, wh_dir: str, res: Result, run: int, watch) -> float:
        from empujar_spark import Warehouse

        tr = self.ctx.tracer
        t0 = time.perf_counter()
        res.attempted += 1
        span = tr.start(f"book.{self.name}") if tr else None
        try:
            wh = Warehouse(self.ctx.spark, wh_dir, primary_key=self.primary_key)
            book = self.build(source, wh)
            book.on_state.append(watch.on_state)
            if tr:
                tr.run = run
                tr.priorities = {c.name: c.priority for c in book.chapters}
                book.on_state.append(tr.on_state)
            book.run()
        except Exception as exc:  # a failed book is a failed operation
            res.fail(f"{self.name} book run: {exc!r}"[:300])
        finally:
            if span:
                tr.end(span)
        return time.perf_counter() - t0

    def run(self, res: Result, deadline: float) -> None:
        from empujar_spark import Warehouse

        jobs = self.ctx.jobs
        rnd = 0
        while rnd == 0 or time.perf_counter() < deadline:
            wh_dir = self.fresh_dir("wh", str(rnd))
            watch = probes.StorageWatch(wh_dir)
            j0 = jobs.cursor()
            full = self.run_book(self.v1, wh_dir, res, 2 * rnd, watch)
            incr = self.run_book(self.v2, wh_dir, res, 2 * rnd + 1, watch)
            j1 = jobs.cursor()
            res.add("full_s", full)
            res.add("incr_s", incr)
            res.add("timed_s", full + incr)
            rows = self.pass_rows("full"), self.pass_rows("incr")
            res.add("rows_per_s", (sum(rows[0].values()) + sum(rows[1].values())) / (full + incr))
            st = watch.scan()
            incoming = sum(
                n * watch.bytes_per_row(t)
                for r in rows for t, n in r.items()
            )
            res.add("write_amp", st["bytes_written"] / incoming)
            res.add("space_amp", st["bytes_on_disk"] / st["live_bytes"])
            for k, v in st.items():
                res.add("catalog." + k, v)
            if self.ctx.trace:
                res.add("spark.jobs", j1 - j0)
                res.add("spark.tasks", jobs.tasks(j0, j1))
            with untraced(self.ctx):
                self.check(Warehouse(self.ctx.spark, wh_dir, primary_key=self.primary_key), res)
            rnd += 1


class EtlBook(BookWorkload):
    """``build_etl_book`` from TPC-H-shaped source v1, then v2."""

    name = "etl_book"
    sf = 0.02

    def generate(self) -> dict:
        src = self.fresh_dir("src")
        self.v1, self.v2 = os.path.join(src, "v1"), os.path.join(src, "v2")
        return gen.etl_sources(self.ctx.seed, self.sf, src)

    def build(self, source, wh):
        from empujar_spark.books.etl import build_etl_book

        return build_etl_book(self.ctx.spark, source, wh, threads=self.ctx.cpus)

    def pass_rows(self, which):
        s = self.ctx.sizes
        if which == "full":
            return {t: s[f"v1.{t}.rows"] for t in ("customer", "orders", "lineitem", "part")}
        return {t: s[f"incr.{t}.rows"] for t in ("customer", "orders", "lineitem", "part")}

    def check(self, wh, res: Result) -> None:
        """duckdb over source v2 computes the transform columns; the
        warehouse must hold the same values and row counts."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("customer", "orders", "lineitem", "part"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.v2}/{t}.parquet'")
            dec = "CAST({} AS DECIMAL(18,6))"
            want_c = con.execute(f"""
                SELECT c.c_custkey AS k,
                       CAST(coalesce(n.n, 0) AS DOUBLE) AS a,
                       coalesce(s.s, 0.0) AS b
                FROM customer c
                LEFT JOIN (SELECT o_custkey, count(*) n FROM orders GROUP BY 1) n
                       ON n.o_custkey = c.c_custkey
                LEFT JOIN (SELECT o_custkey, CAST(round(sum({dec.format('l_extendedprice')}
                              * (1 - {dec.format('l_discount')})), 4) AS DOUBLE) s
                           FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                           GROUP BY 1) s ON s.o_custkey = c.c_custkey
                ORDER BY k""").fetchall()
            want_p = con.execute(f"""
                SELECT p.p_partkey AS k, CAST(coalesce(x.n, 0) AS DOUBLE) AS a,
                       coalesce(x.r, 0.0) AS b
                FROM part p LEFT JOIN (
                    SELECT l_partkey, count(*) n,
                           CAST(round(sum({dec.format('l_extendedprice')}), 4) AS DOUBLE) r
                    FROM lineitem GROUP BY 1) x ON x.l_partkey = p.p_partkey
                ORDER BY k""").fetchall()
            counts = {
                t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                for t in ("orders", "lineitem")
            }
        finally:
            con.close()
        got_c = [
            tuple(r) for r in wh.query(
                "SELECT c_custkey, total_orders, total_spent FROM customer ORDER BY 1"
            ).collect()
        ]
        got_p = [
            tuple(r) for r in wh.query(
                "SELECT p_partkey, times_ordered, total_revenue FROM part ORDER BY 1"
            ).collect()
        ]
        for what, want, got in (("customer", want_c, got_c), ("part", want_p, got_p)):
            res.attempted += 1
            if not _rows_close(want, got):
                res.fail(f"etl oracle: {what} totals differ from duckdb over v2")
        for t, n in counts.items():
            res.attempted += 1
            got_n = wh.table_size(t)
            if got_n != n:
                res.fail(f"etl oracle: {t} has {got_n} rows, v2 has {n}")


def _rows_close(want: list, got: list) -> bool:
    if len(want) != len(got):
        return False
    for w, g in zip(want, got):
        if w[0] != g[0]:
            return False
        for a, b in zip(w[1:], g[1:]):
            if a is None or b is None or abs(a - b) > 1e-6 * max(1.0, abs(a)):
                return False
    return True


class PretrainBook(BookWorkload):
    """The PRETRAIN book from documents v1, then v2 (held-out documents
    plus exact re-deliveries of v1 texts under new doc_ids)."""

    name = "pretrain_book"
    primary_key = "doc_id"
    n_docs, n_emb = 5000, 2000
    compared = {
        "documents": ["doc_id", "fingerprint"],
        "embeddings": ["vec_id", "label"],
        "documents_curated": ["doc_id", "text"],
        "documents_decontam": ["doc_id"],
        "documents_clean": ["doc_id", "clean_text"],
        "train_sequences": None,
    }

    def generate(self) -> dict:
        src = self.fresh_dir("src")
        self.v1, self.v2 = os.path.join(src, "v1"), os.path.join(src, "v2")
        sizes = gen.pretrain_sources(self.ctx.seed, self.n_docs, self.n_emb, src)
        self.redelivered = sizes.pop("redelivered_ids")
        self.expected_ids = sizes.pop("expected_doc_ids")
        self.expected_labels = sizes.pop("v2_vec_labels")
        sizes["v2.redelivered.rows"] = len(self.redelivered)
        self.reference = None
        return sizes

    def build(self, source, wh):
        from empujar_spark.books.pretrain import build_pretrain_book

        return build_pretrain_book(self.ctx.spark, source, wh)

    def pass_rows(self, which):
        s, v = self.ctx.sizes, "v1" if which == "full" else "v2"
        return {t: s[f"{v}.{t}.rows"] for t in ("documents", "embeddings")}

    def digest(self, wh) -> dict:
        from pyspark.sql import functions as F

        out = {}
        for t, cols in self.compared.items():
            df = wh.read(t)
            cols = cols or df.columns
            r = df.select(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(1 << 40))).alias("h"),
            ).first()
            out[t] = (r["n"], r["h"])
        return out

    def check(self, wh, res: Result) -> None:
        """The validate chapter gates inside the book (a failure raised
        and was counted). Here: the re-deliveries added no rows, documents
        hold exactly the first occurrence of each distinct v2 text, and
        embeddings equal v2. Traced runs also compare every output table
        with a from-scratch run over v2 (untimed; one extra book run)."""
        from pyspark.sql import functions as F

        res.attempted += 3
        leaked = wh.read("documents").filter(
            F.col("doc_id").isin(self.redelivered)
        ).count()
        if leaked:
            res.fail(f"pretrain oracle: {leaked} re-delivered documents ingested")
        ids = sorted(r[0] for r in wh.read("documents").select("doc_id").collect())
        if ids != self.expected_ids:
            res.fail(f"pretrain oracle: documents hold {len(ids)} ids, want {len(self.expected_ids)}")
        labels = {r[0]: r[1] for r in wh.read("embeddings").select("vec_id", "label").collect()}
        if labels != self.expected_labels:
            res.fail("pretrain oracle: embeddings differ from v2")
        if not self.ctx.trace:
            return
        if self.reference is None:
            self.reference = self.from_scratch()
        got = self.digest(wh)
        for t, want in self.reference.items():
            res.attempted += 1
            if got.get(t) != want:
                res.fail(f"pretrain oracle: {t} {got.get(t)} != from-scratch {want}")

    def from_scratch(self) -> dict:
        from empujar_spark import Warehouse

        wh = Warehouse(self.ctx.spark, self.fresh_dir("reference"), primary_key="doc_id")
        self.build(self.v2, wh).run()
        return self.digest(wh)


# --------------------------------------------------------- incremental_sync
class IncrementalSync(Workload):
    """A 150k-row ``orders`` table full-loaded (three times, into empty
    warehouses, for a median), then cycles of write
    (2,000-row upsert), watermark (``get_max``) and query (group-by via
    ``Warehouse.query``), each read checked against the stream's model.
    Batches alternate row-dict lists and DataFrames, whose write costs
    differ, so a step of the loop is two cycles, one of each kind."""

    name = "incremental_sync"
    n_rows, batch_rows, warm_cycles = 150_000, 2000, 1
    sql = (
        "SELECT o_orderpriority, COUNT(1) AS n, SUM(o_totalprice) AS s "
        "FROM orders GROUP BY o_orderpriority"
    )

    def generate(self) -> dict:
        import pyarrow.parquet as pq

        self.stream = gen.SyncStream(self.ctx.seed, self.n_rows, self.batch_rows)
        d = self.fresh_dir("src")
        self.preload = os.path.join(d, "orders.parquet")
        pq.write_table(self.stream.preload, self.preload)
        return {"preload.orders.rows": self.n_rows,
                "preload.orders.bytes": os.path.getsize(self.preload)}

    def batch_input(self, i: int):
        cols = self.stream.batch(i)
        if i % 2:
            return self.ctx.spark.createDataFrame(self.stream.arrow_of(cols).to_pandas())
        return self.stream.rows_of(cols)

    def warm_up(self) -> None:
        """A create and a widening row-dict upsert, watermark and query on
        a throwaway table, so the measured loop does not start on the
        slowest, first-run code paths. Writes keep getting faster for about
        ten cycles as the JIT compiles, but ten warm-up cycles cost about
        35 s of set-up, more than the benchmark's time budget allows; the
        three full loads warm the write path further and the measured steps
        still trend down."""
        from empujar_spark import Warehouse

        wh = Warehouse(self.ctx.spark, self.fresh_dir("warm"), primary_key="o_orderkey")
        s = gen.SyncStream(self.ctx.seed + 7919, 5000, 200, widen_at=0)
        keep, self.stream = self.stream, s
        try:
            wh.insert_data("orders", self.ctx.spark.read.parquet(self._write_tmp(s)),
                           merge_key="o_orderkey")
            for i in range(self.warm_cycles):
                wh.insert_data("orders", self.batch_input(i), merge_key="o_orderkey")
                wh.get_max("orders", "o_orderdate")
                wh.query(self.sql).collect()
        finally:
            self.stream = keep

    def _write_tmp(self, s) -> str:
        import pyarrow.parquet as pq

        p = os.path.join(self.dir, "warm", "preload.parquet")
        pq.write_table(s.preload, p)
        return p

    def run(self, res: Result, deadline: float) -> None:
        from empujar_spark import Warehouse

        ctx, tr = self.ctx, self.ctx.tracer

        def op(name: str, fn):
            res.attempted += 1
            span = tr.start("op." + name) if tr else None
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as exc:
                res.fail(f"{name}: {exc!r}"[:300])
                out = None
            dt = time.perf_counter() - t0
            if span:
                tr.end(span)
            return out, dt

        j0 = ctx.jobs.cursor()
        # three full loads, each into an empty warehouse, for a median;
        # the cycles run on the last one
        for k in range(3):
            wh_dir = self.fresh_dir("wh", str(k))
            wh = Warehouse(ctx.spark, wh_dir, primary_key="o_orderkey")
            _, full = op("full_load", lambda: wh.insert_data(
                "orders", ctx.spark.read.parquet(self.preload), merge_key="o_orderkey"))
            res.add("full_s", full)
            res.add("timed_s", full)
        watch = probes.StorageWatch(wh_dir)
        watch.scan()
        incoming = written = 0.0
        i = 0
        step = 0.0
        while i < 4 or i % 2 or time.perf_counter() < deadline:
            if tr:
                tr.run = i
            data = self.batch_input(i)
            bpr = watch.bytes_per_row("orders")
            before = watch.bytes_written
            _, w = op("write", lambda: wh.insert_data("orders", data, merge_key="o_orderkey"))
            watch.scan()
            written += watch.bytes_written - before
            incoming += self.batch_rows * bpr
            wm, m = op("watermark", lambda: wh.get_max("orders", "o_orderdate"))
            rows, q = op("query", lambda: wh.query(self.sql).collect())
            res.add("write_ms", 1e3 * w)
            res.add("watermark_ms", 1e3 * m)
            res.add("query_ms", 1e3 * q)
            step += w + m + q
            res.add("timed_s", w + m + q)
            if i % 2:  # a step is one row-dict and one DataFrame batch
                res.add("incr_s", step)
                res.add("rows_per_s", 2 * self.batch_rows / step)
                step = 0.0
            if wm != self.stream.expected_watermark():
                res.fail(f"watermark after batch {i}: {wm} != {self.stream.expected_watermark()}")
            if rows is not None and not self._groups_match(rows):
                res.fail(f"query after batch {i} differs from the model")
            i += 1
        j1 = ctx.jobs.cursor()
        if ctx.trace:
            res.add("spark.jobs", j1 - j0)
            res.add("spark.tasks", ctx.jobs.tasks(j0, j1))
        st = watch.scan()
        res.add("write_amp", written / incoming)
        res.add("space_amp", st["bytes_on_disk"] / st["live_bytes"])
        for k, v in st.items():
            res.add("catalog." + k, v)
        res.sizes.update({"batches": self.stream.batches, "batch_rows": self.stream.rows})

    def _groups_match(self, rows) -> bool:
        want = self.stream.expected_groups()
        got = {r["o_orderpriority"]: (r["n"], r["s"]) for r in rows}
        if set(got) != set(want):
            return False
        return all(
            got[k][0] == n and abs(got[k][1] - s) <= 1e-9 * max(1.0, abs(s))
            for k, (n, s) in want.items()
        )


WORKLOADS = {w.name: w for w in (EtlBook, IncrementalSync, PretrainBook)}
