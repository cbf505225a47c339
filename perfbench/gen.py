"""Seeded input generator for the three workloads.

Everything here is a pure function of ``seed``: the same seed writes
byte-identical parquet and yields the same batch stream. The program under
test only ever sees these files and batches.

- ``etl_sources``: TPC-H-shaped ``customer`` / ``orders`` / ``lineitem`` /
  ``part`` as source v1, and v2 = v1 plus changes past the watermark
  (new orders with new lineitems, re-dated updated orders, changed and new
  customers).
- ``SyncStream``: the incremental_sync batch stream over a preloaded
  ``orders`` table, with a running model of the table for the oracle.
- ``pretrain_sources``: a ``documents`` + ``embeddings`` corpus, v1 a seeded
  subset and v2 the full set plus exact re-deliveries of v1 texts under new
  ``doc_id``s.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01, the testdata range
SHIP_DAYS = 2499
US_PER_DAY = 86_400_000_000
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
STATUSES = np.array(["F", "O", "P"])


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _ts(days: np.ndarray) -> pa.Array:
    base = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + days.astype(np.int64) * US_PER_DAY, pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


# ----------------------------------------------------------------- ETL book
def _customers(rng, keys: np.ndarray) -> dict:
    return {
        "c_custkey": keys.astype(np.int64),
        "c_name": np.char.add("Customer#", np.char.zfill(keys.astype(str), 9)),
        "c_nationkey": rng.integers(0, 25, len(keys)).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(keys)), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, len(keys))],
    }


def _orders(rng, keys, n_cust, day_lo, day_hi) -> dict:
    n = len(keys)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": rng.integers(day_lo, day_hi + 1, n),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
    }


def _lineitems(rng, orderkeys, n_part, day_lo, day_hi) -> dict:
    per = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys.astype(np.int64), per)
    n = len(ok)
    starts = np.repeat(np.cumsum(per) - per, per)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": ok,
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, max(1, n_part // 20), n).astype(np.int64),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": rng.integers(day_lo, day_hi + 1, n),
    }


def _parts(rng, n_part) -> dict:
    colors = np.array(["red", "blue", "green", "small", "large", "steel"])
    things = np.array(["ring", "widget", "bolt", "gear", "panel", "valve"])
    return {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(colors[rng.integers(0, 6, n_part)], " "),
            things[rng.integers(0, 6, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "SMALL", "STANDARD", "PROMO"])[
            rng.integers(0, 4, n_part)
        ],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n_part) % 1000 / 10.0, 2),
    }


def _table(cols: dict, ts_cols=()) -> pa.Table:
    return pa.table({k: (_ts(v) if k in ts_cols else v) for k, v in cols.items()})


def etl_sources(seed: int, sf: float, out_dir: str) -> dict:
    """Write source v1 and v2 under ``out_dir/{v1,v2}``; return sizes.

    v2 = v1 plus: 2% new orders dated after v1's last order, each with new
    lineitems shipped after v1's last shipment (so the book's strict
    lineitem watermark picks up exactly them); 1% of existing orders
    re-dated after the watermark with a new status and price; 2% of
    customers with a changed balance and segment; 1% new customers."""
    n_cust, n_ord, n_part = int(150_000 * sf), int(1_500_000 * sf), int(200_000 * sf)
    cust = _customers(_rng(seed, 1), np.arange(n_cust))
    orders = _orders(_rng(seed, 2), np.arange(n_ord), n_cust, 0, ORDER_DAYS)
    li = _lineitems(_rng(seed, 3), orders["o_orderkey"], n_part, 1, SHIP_DAYS)
    part = _parts(_rng(seed, 4), n_part)

    r = _rng(seed, 5)
    o_wm, l_wm = int(orders["o_orderdate"].max()), int(li["l_shipdate"].max())
    n_new, n_upd = max(1, n_ord // 50), max(1, n_ord // 100)
    new_o = _orders(r, np.arange(n_ord, n_ord + n_new), n_cust, o_wm + 1, o_wm + 60)
    new_li = _lineitems(r, new_o["o_orderkey"], n_part, l_wm + 1, l_wm + 90)
    upd = np.sort(r.choice(n_ord, n_upd, replace=False))
    orders2 = {k: v.copy() for k, v in orders.items()}
    orders2["o_orderdate"][upd] = r.integers(o_wm + 1, o_wm + 61, n_upd)
    orders2["o_orderstatus"][upd] = "F"
    orders2["o_totalprice"][upd] = np.round(orders2["o_totalprice"][upd] * 1.1, 2)
    orders2 = {k: np.concatenate([orders2[k], new_o[k]]) for k in orders2}
    li2 = {k: np.concatenate([li[k], new_li[k]]) for k in li}
    cust2 = {k: v.copy() for k, v in cust.items()}
    chg = r.choice(n_cust, max(1, n_cust // 50), replace=False)
    cust2["c_acctbal"][chg] = np.round(cust2["c_acctbal"][chg] + 100.0, 2)
    cust2["c_mktsegment"][chg] = SEGMENTS[r.integers(0, 5, len(chg))]
    extra = _customers(r, np.arange(n_cust, n_cust + max(1, n_cust // 100)))
    cust2 = {k: np.concatenate([cust2[k], extra[k]]) for k in cust2}

    sizes: dict = {
        "incr.customer.rows": len(cust2["c_custkey"]),
        "incr.orders.rows": int((orders2["o_orderdate"] >= o_wm).sum()),
        "incr.lineitem.rows": len(new_li["l_orderkey"]),
        "incr.part.rows": n_part,
    }
    for ver, tabs in (
        ("v1", {"customer": cust, "orders": orders, "lineitem": li, "part": part}),
        ("v2", {"customer": cust2, "orders": orders2, "lineitem": li2, "part": part}),
    ):
        d = os.path.join(out_dir, ver)
        os.makedirs(d, exist_ok=True)
        for name, cols in tabs.items():
            t = _table(cols, ("o_orderdate", "l_shipdate"))
            sizes[f"{ver}.{name}.rows"] = t.num_rows
            sizes[f"{ver}.{name}.bytes"] = _write(t, os.path.join(d, f"{name}.parquet"))
    return sizes


# ---------------------------------------------------------- incremental_sync
class SyncStream:
    """Seeded batch stream over a preloaded ``orders`` table, plus the
    running model the oracle checks reads against.

    Batch ``i`` has ``batch_rows`` rows: ~70% updates of existing keys,
    drawn with a bias toward recent keys, and ~30% new keys. Every batch's
    rows are dated one day later than the previous batch, so the watermark
    advances. Even batches are row-dict lists and odd ones DataFrames;
    batches 2, 12, 22, ... each carry one new column; batch ``widen_at``
    sends the integer column ``o_clerk`` as fractional values (an
    int -> float promotion)."""

    def __init__(self, seed: int, n_rows: int, batch_rows: int = 2000,
                 widen_at: int = 4) -> None:
        self.seed, self.batch_rows, self.widen_at = seed, batch_rows, widen_at
        r = _rng(seed, 10)
        base = _orders(r, np.arange(n_rows), max(1, n_rows // 10), 0, ORDER_DAYS)
        base["o_clerk"] = r.integers(1, 1000, n_rows).astype(np.int64)
        self.preload = _table(base, ("o_orderdate",))
        self.next_key = n_rows
        self.day = int(base["o_orderdate"].max())
        # the model: priority and price of every key
        self.prio = base["o_orderpriority"].astype(object).copy()
        self.price = base["o_totalprice"].copy()
        self.batches = 0
        self.rows = 0

    def batch(self, i: int) -> dict:
        """Columns of batch ``i`` (must be called for i = 0, 1, 2, ...).
        Applies the batch to the model."""
        assert i == self.batches
        r = _rng(self.seed, 11, i)
        n = self.batch_rows
        n_new = int(round(n * 0.3))
        # recent-biased updates: distance back from the newest key is
        # exponential with mean 10% of the table
        back = np.minimum(
            r.exponential(0.1 * self.next_key, n - n_new).astype(np.int64),
            self.next_key - 1,
        )
        upd = np.unique(self.next_key - 1 - back)
        new = np.arange(self.next_key, self.next_key + n - len(upd))
        keys = np.concatenate([upd, new])
        self.next_key += len(new)
        self.day += 1
        cols = _orders(r, keys, 15_000, self.day, self.day)
        clerk = r.integers(1, 1000, len(keys))
        cols["o_clerk"] = clerk + 0.5 if i == self.widen_at else clerk.astype(np.int64)
        if i % 10 == 2:
            cols[f"o_note_{i}"] = np.char.add("n", keys.astype(str))
        # apply to the model
        grow = self.next_key - len(self.price)
        if grow > 0:
            self.prio = np.concatenate([self.prio, np.empty(grow, dtype=object)])
            self.price = np.concatenate([self.price, np.zeros(grow)])
        self.prio[keys] = cols["o_orderpriority"]
        self.price[keys] = cols["o_totalprice"]
        self.batches += 1
        self.rows += len(keys)
        return cols

    def rows_of(self, cols: dict) -> list[dict]:
        days = cols["o_orderdate"]
        out = []
        names = list(cols)
        for j in range(len(days)):
            row = {}
            for c in names:
                v = cols[c][j]
                row[c] = (EPOCH + dt.timedelta(days=int(v))) if c == "o_orderdate" else v.item()
            out.append(row)
        return out

    def arrow_of(self, cols: dict) -> pa.Table:
        return _table(cols, ("o_orderdate",))

    def expected_watermark(self) -> dt.datetime:
        return EPOCH + dt.timedelta(days=self.day)

    def expected_groups(self) -> dict[str, tuple[int, float]]:
        live = self.prio[: self.next_key]
        out = {}
        for p in PRIORITIES:
            m = live == p
            out[str(p)] = (int(m.sum()), float(self.price[: self.next_key][m].sum()))
        return out


# ------------------------------------------------------------ pretrain book
VOCAB = np.array(
    "key agg row scan slow fast table value part hash merge batch spark line "
    "sort window data column join small big query customer order group filter "
    "stream vector plan shard index commit page chapter book load".split()
)
MARKERS = {
    "en": ["the", "and", "of"], "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"], "es": ["el", "y", "los"], "zh": [],
}
BOILERPLATE = "all rights reserved by the owner".split()


def pretrain_sources(seed: int, n_docs: int, n_emb: int, out_dir: str) -> dict:
    """Write documents + embeddings v1 and v2 under ``out_dir/{v1,v2}``.

    v1 is a seeded 80% subset holding every benchmark document
    (doc_id % 97 == 0). v2 is every document plus ``n_docs // 25`` exact
    re-deliveries of v1 texts under fresh doc_ids (above every original id,
    so first-occurrence dedup keeps the original, and never a multiple of
    97, so the benchmark slice does not grow). Planted
    content: exact duplicate pairs inside v1, a boilerplate span in 20% of
    documents (span-dedup work), and a few documents quoting a 10-word span
    of a v1 benchmark document (doc_id % 97 == 0) for decontamination."""
    r = _rng(seed, 20)
    langs = np.array(list(MARKERS))[r.choice(5, n_docs, p=[0.45, 0.14, 0.13, 0.14, 0.14])]
    texts = []
    for i in range(n_docs):
        n = int(r.integers(8, 90))
        words = list(VOCAB[r.integers(0, len(VOCAB), n)])
        marks = MARKERS[langs[i]]
        if marks:
            for j in r.choice(n, max(1, n // 8), replace=False):
                words[j] = marks[int(r.integers(0, len(marks)))]
        if r.random() < 0.2:
            at = int(r.integers(0, n))
            words[at:at] = BOILERPLATE
        texts.append(" ".join(words))
    # benchmark documents (doc_id % 97 == 0) are all in v1, so the
    # decontamination slice is the same on both deliveries
    in_v1 = (r.random(n_docs) < 0.8) | (np.arange(n_docs) % 97 == 0)
    v1_ids = np.flatnonzero(in_v1)
    # exact duplicates inside v1: later copy takes an earlier text
    for a, b in r.choice(v1_ids, (n_docs // 100, 2), replace=False):
        lo, hi = sorted((int(a), int(b)))
        texts[hi] = texts[lo]
    # benchmark leaks: v1 docs quoting a v1 benchmark doc
    bench = [int(i) for i in v1_ids if i % 97 == 0 and len(texts[i].split()) >= 12]
    for k, j in enumerate(r.choice(v1_ids, min(len(bench), 8), replace=False)):
        src = texts[bench[k]].split()[:10]
        if int(j) % 97:
            texts[int(j)] = " ".join(src) + " " + texts[int(j)]
    texts = np.array(texts, dtype=object)
    sources = np.char.add("src", (np.arange(n_docs) % 20).astype(str))
    redeliver = np.sort(r.choice(v1_ids, n_docs // 25, replace=False))

    def docs(ids, text, src, lang):
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(list(text), pa.string()),
            "lang": pa.array(list(lang), pa.string()),
            "source": pa.array(list(src), pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        })

    re_ids = np.arange(n_docs, n_docs + 2 * len(redeliver))
    re_ids = re_ids[re_ids % 97 != 0][: len(redeliver)]
    d1 = docs(v1_ids, texts[v1_ids], sources[v1_ids], langs[v1_ids])
    d2 = docs(
        np.concatenate([np.arange(n_docs), re_ids]),
        np.concatenate([texts, texts[redeliver]]),
        np.concatenate([sources, sources[redeliver]]),
        np.concatenate([langs, langs[redeliver]]),
    )
    er = _rng(seed, 21)
    vecs = er.standard_normal((n_emb, 64)).astype(np.float32) * 0.1
    labels = er.integers(0, 10, n_emb).astype(np.int32)
    emb_in_v1 = er.random(n_emb) < 0.8

    def emb(mask):
        ids = np.flatnonzero(mask)
        return pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs[ids]), pa.list_(pa.float32())),
            "label": pa.array(labels[ids]),
        })

    first: dict[str, int] = {}
    for i, t in zip(d2.column("doc_id").to_pylist(), d2.column("text").to_pylist()):
        first[t] = min(i, first.get(t, i))
    sizes = {
        "redelivered_ids": [int(x) for x in re_ids],
        # ingest keeps the first occurrence of each distinct text
        "expected_doc_ids": sorted(first.values()),
        "v2_vec_labels": dict(zip(np.arange(n_emb).tolist(), labels.tolist())),
    }
    for ver, tabs in (
        ("v1", {"documents": d1, "embeddings": emb(emb_in_v1)}),
        ("v2", {"documents": d2, "embeddings": emb(np.ones(n_emb, bool))}),
    ):
        d = os.path.join(out_dir, ver)
        os.makedirs(d, exist_ok=True)
        for name, t in tabs.items():
            sizes[f"{ver}.{name}.rows"] = t.num_rows
            sizes[f"{ver}.{name}.bytes"] = _write(t, os.path.join(d, f"{name}.parquet"))
    return sizes
