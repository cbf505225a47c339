"""Broadcastable sketches for ingest-scale dedup and frequency analysis.

Two sketches, both chosen because their RESULTS stay exact — the sketch
only reroutes work, it never changes an answer — so every consumer keeps
a hash-exact DuckDB oracle:

- **Bloom prefilter** (``bloom_ingest_dedup``): at steady-state ingest the
  history fingerprint table is petabyte-scale while the incoming batch is
  not. A plain anti-join shuffles the batch AND re-scans history every
  load. A Bloom filter over history (built once per load window, a few MB
  per billion keys at 1% fpp) is broadcast to the batch scan: rows whose
  bits miss are *definitely fresh* and bypass the join entirely; only the
  "maybe" rows (true dups + ~fpp of the fresh) confirm against history.
  No false negatives ⇒ the union of definite-fresh and confirmed-fresh is
  EXACTLY the anti-join result. (Analogue of the reference's incremental
  extract, lib/book.js watermark pattern — fetch only what's new — applied
  to content identity; same contract as Spark's runtime row-level-filter
  bloom joins, but usable across loads because we own the bits.)

- **Certified heavy hitters** (``heavy_hitters``): per-partition top-C
  candidate generation (vectorized pandas ``value_counts``, no per-row
  Python) plus a *truncation certificate*: each partition also reports the
  count of its C-th key — any key absent from a partition's candidate list
  has at most that count there, so a non-candidate's global count is
  bounded by Σ(per-partition bounds). If the exact recount of the
  candidates puts the k-th hitter above that bound, the top-k is provably
  exact; otherwise we fall back to the full groupBy. Either way the
  answer equals ``GROUP BY key ORDER BY count DESC LIMIT k`` — oracle-exact.

Hashing is ``xxhash64`` computed JVM-side (two salted columns), so the
Python kernels only do vectorized uint64 arithmetic on numpy arrays —
no per-row hashing in Python.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# --------------------------------------------------------------- bloom

# Cap the bit array at 2^30 bits (128 MiB): one partition-local array per
# task plus the driver OR must fit comfortably; beyond this, shard the
# filter by key range (one bloom per history bucket) rather than growing m.
_MAX_BITS = 1 << 30


def bloom_params(expected_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard sizing: m = -n·ln(p)/ln(2)², k = (m/n)·ln(2).

    m is rounded up to a multiple of 64 and capped at ``_MAX_BITS``."""
    n = max(1, expected_items)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = min(_MAX_BITS, ((m + 63) // 64) * 64)
    k = max(1, int(round(m / n * math.log(2))))
    return m, min(k, 16)


def _hash_cols(col: str) -> list:
    """Two independent 64-bit hashes, JVM-side (double hashing derives all
    k probe positions from these — Kirsch-Mitzenmacher)."""
    return [
        F.xxhash64(F.col(col)).alias("__h1"),
        F.xxhash64(F.col(col), F.lit("empujar-bloom-2")).alias("__h2"),
    ]


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) probe positions via double hashing, vectorized uint64.

    h2 is forced odd so the stride never degenerates to 0 (m is a
    multiple of 64, so an even-stride cycle could alias badly)."""
    h1u = h1.astype(np.uint64)
    h2u = h2.astype(np.uint64) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1u[:, None] + i * h2u[:, None]) % np.uint64(m)).astype(np.int64)


# Below this partition count the tree stage costs more (an extra shuffle
# of a handful of rows) than the driver OR it saves.
_TREE_MERGE_MIN_PARTS = 8


def _or_merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """OR every bitmap row in this partition into one row (executor-side
    fan-in stage of the hierarchical bloom merge)."""
    acc: np.ndarray | None = None
    for pdf in batches:
        for buf in pdf["bits"]:
            arr = np.frombuffer(buf, dtype=np.uint8)
            acc = arr.copy() if acc is None else acc | arr
    if acc is not None:
        yield pd.DataFrame({"bits": [acc.tobytes()]})


def _bloom_bitmap_rows(hashed: DataFrame, m: int, k: int) -> DataFrame:
    """The DataFrame of bitmap rows the driver collects: one per input
    partition, then — when the input has ≥ ``_TREE_MERGE_MIN_PARTS``
    partitions — a second executor-side OR stage over ~√P coalesced
    groups, so the driver ingests O(√P · m/8) bytes instead of
    O(P · m/8). At 100 TB with tens of thousands of scan partitions
    that is the difference between MBs and GBs arriving at the driver."""
    nbytes = m // 8

    def fill(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.zeros(nbytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            pos = _positions(
                pdf["__h1"].to_numpy(np.int64),
                pdf["__h2"].to_numpy(np.int64),
                k, m,
            ).ravel()
            np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        if seen:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    per_part = hashed.mapInPandas(fill, "bits binary")
    n_parts = hashed.rdd.getNumPartitions()
    if n_parts < _TREE_MERGE_MIN_PARTS:
        return per_part
    fan_in = max(1, math.isqrt(n_parts))
    # repartition shuffles ≤ n_parts rows of m/8 bytes — executor-sized
    return per_part.repartition(fan_in).mapInPandas(_or_merge, "bits binary")


def build_bloom_with_params(df: DataFrame, col: str, m: int, k: int) -> bytes:
    """Bloom bitmap over ``df[col]`` with PINNED (m, k) — the fold path:
    an incremental batch must build with the STORED artifact's exact
    parameters or ``bloom_union`` would OR incompatible bit layouts."""
    hashed = df.select(*_hash_cols(col))
    parts = _bloom_bitmap_rows(hashed, m, k).collect()
    merged = np.zeros(m // 8, dtype=np.uint8)
    for row in parts:
        merged |= np.frombuffer(row["bits"], dtype=np.uint8)
    return merged.tobytes()


def build_bloom(
    df: DataFrame, col: str, expected_items: int, fpp: float = 0.01
) -> tuple[bytes, int, int]:
    """Distributed Bloom build: each partition fills a local (m/8)-byte
    bitmap over its rows (one Arrow pass, ``np.bitwise_or.at``), emits it
    as ONE binary row; a hierarchical OR stage coalesces those into ~√P
    rows executor-side (``_bloom_bitmap_rows``), and the driver ORs the
    remainder. Driver intake is O(√P × m/8) bytes — independent of row
    count AND sub-linear in partition count, which is the entire point
    at 100 TB.

    Returns (bitmap bytes, m, k)."""
    m, k = bloom_params(expected_items, fpp)
    return build_bloom_with_params(df, col, m, k), m, k


def with_bloom_flag(
    df: DataFrame,
    col: str,
    bloom: bytes,
    m: int,
    k: int,
    flag_col: str = "__maybe_seen",
) -> DataFrame:
    """Add a boolean column: True ⇔ all k bits are set (might be in the
    build set), False ⇔ definitely not. The bitmap rides an executor
    broadcast; the check is a vectorized Arrow kernel."""
    spark = df.sparkSession
    b_bits = spark.sparkContext.broadcast(bloom)

    @F.pandas_udf(T.BooleanType())
    def might_contain(h1: pd.Series, h2: pd.Series) -> pd.Series:
        bits = np.frombuffer(b_bits.value, dtype=np.uint8)
        pos = _positions(h1.to_numpy(np.int64), h2.to_numpy(np.int64), k, m)
        hit = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
        return pd.Series(hit.all(axis=1))

    h1, h2 = _hash_cols(col)
    return (
        df.withColumn("__h1", F.xxhash64(F.col(col)))
        .withColumn("__h2", F.xxhash64(F.col(col), F.lit("empujar-bloom-2")))
        .withColumn(flag_col, might_contain("__h1", "__h2"))
        .drop("__h1", "__h2")
    )


def bloom_ingest_dedup(
    history: DataFrame,
    batch: DataFrame,
    key: str,
    expected_items: int | None = None,
    fpp: float = 0.01,
    bloom: tuple[bytes, int, int] | None = None,
) -> DataFrame:
    """Exact anti-join of ``batch`` against ``history`` on ``key``, with a
    Bloom prefilter so only the batch's "maybe seen" sliver reaches the
    join. Result is EXACTLY ``batch WHERE key NOT IN history`` (bloom has
    no false negatives), so the oracle is the plain anti-join SQL.

    At 100 TB: history never moves — the build is one scan emitting
    n_partitions bitmaps; the confirm join's left side is |dups| + fpp·|fresh|
    rows instead of the whole batch, and its history side is semi-joinable
    on the surviving key set. Locally the history scan dominates either
    way; the win shows at real batch:history ratios.

    Pass ``bloom=(bits, m, k)`` (a stored artifact loaded via
    ``bloom_from_df``) to skip the build scan entirely — the steady-state
    serving path. The artifact MUST cover all of ``history``: a stale
    filter only costs extra confirm-join rows (false "maybe"), but a
    filter missing history keys would break the no-false-negative
    argument — maintain it with ``bloom_union`` at every append."""
    if bloom is not None:
        bloom_bits, m, k = bloom
    else:
        if expected_items is None:
            expected_items = history.select(key).count()
        bloom_bits, m, k = build_bloom(history, key, expected_items, fpp)
    # Both branches below read `flagged`, so materialize the probe ONCE
    # via localCheckpoint — its blocks are RDD-owned and reclaimed by the
    # ContextCleaner when the caller drops the result (same pattern as the
    # connected-components loop). A SQL .cache() here would pin the plan
    # in the session CacheManager until an explicit unpersist, so a
    # per-batch ingest loop would accumulate one cached relation per batch.
    flagged = with_bloom_flag(batch, key, bloom_bits, m, k).localCheckpoint(eager=True)
    definite_fresh = flagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    maybe = flagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    confirmed_fresh = maybe.join(
        history.select(key).distinct(), key, "left_anti"
    )
    return definite_fresh.unionByName(confirmed_fresh)


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    dim_key: str | None = None,
    how: str = "inner",
    expected_items: int | None = None,
    fpp: float = 0.01,
    bloom: tuple[bytes, int, int] | None = None,
) -> DataFrame:
    """Equi-join with a RUNTIME SEMI-JOIN REDUCTION: the dim side's join
    keys build a broadcast bloom, fact rows that cannot match are
    dropped BEFORE the join's exchange, and the surviving sliver joins
    exactly (false positives only ever reach — and are eliminated by —
    the real join, so the result is row-identical to ``fact JOIN dim``).
    The semi-join twin of :func:`bloom_ingest_dedup`'s anti-join, and
    the hand-rolled form of engine runtime filters (Spark's
    ``runtime.bloomFilter`` injection, Trino's dynamic filtering) —
    expressed explicitly so the prune exists regardless of optimizer
    thresholds and can take a STORED artifact.

    When to reach for it at 100 TB: a SELECTIVE dim that is too big (or
    too late-filtered) to broadcast-join forces a shuffle of the ENTIRE
    fact side — every probe-side row pays the exchange even though only
    the dim-matching sliver survives. The bitmap rides an executor
    broadcast (m/8 bytes however many rows the dim has) and the
    pandas_udf probe runs at the scan, so the fact exchange carries
    |matching| + fpp·|fact| rows instead of |fact|. With ``how="inner"``
    semantics are exact; left/outer joins must keep non-matching rows,
    so only ``inner``/``left_semi`` are accepted.

    Pass ``bloom=(bits, m, k)`` (a registry artifact via
    ``bloom_from_df``) to skip the build scan — the steady-state shape
    when the dim is an ingest-maintained table whose admission bitmap
    already exists. The artifact must COVER the dim's current keys
    (``bloom_union`` folds at every append): missing keys would break
    the no-false-negative argument and silently drop matches.

    PICKING THE PROBE (measured by the retired skew stress harness's
    join_prune sweep, in git history): when the dim's DISTINCT KEY
    SET alone fits a broadcast, prefer the plain JVM prune —
    ``fact.join(F.broadcast(dim.select(k).distinct()), k,
    "left_semi")`` before the real join — it stays in whole-stage
    codegen and never loses. This operator's bitmap is for the regime
    past that: a key set too large to broadcast still compresses to m
    bits (1M keys ≈ 1.2 MB at 1% fpp), at the price of an Arrow probe
    that costs ~30M rows/s per 32 local threads — overhead that only
    pays once the exchange it avoids is network/disk, not memory.

    Reference behavioral parity: the reference joins fact extracts to
    dimension tables loaded whole (books/etl/chapters/transform/
    customers.js) — correct at its MySQL scale; this is the same join
    contract with the probe-side scan cost made survivable at Spark
    scale."""
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom_pruned_join keeps only matching fact rows; "
            f"how={how!r} would need the pruned rows back (use a plain join)"
        )
    dkey = dim_key or key
    if bloom is not None:
        bits, m, k = bloom
    else:
        keys = dim.select(dkey)
        if expected_items is None:
            expected_items = keys.count()
        bits, m, k = build_bloom(keys, dkey, expected_items, fpp)
    pruned = (
        with_bloom_flag(fact, key, bits, m, k)
        .filter(F.col("__maybe_seen"))
        .drop("__maybe_seen")
    )
    if how == "left_semi":
        return pruned.join(
            dim.select(F.col(dkey).alias(key)).distinct(), key, "left_semi"
        )
    if dim_key is None:
        return pruned.join(dim, key, "inner")
    return pruned.join(dim, pruned[key] == dim[dkey], "inner")


# Above this many dim keys the broadcast key set stops being the cheap
# option and the bitmap takes over. MEASURED (r12, retired skew stress
# harness, in git history: a dim-KEY-COUNT octave sweep at fixed 10%
# selectivity, 10M-row wide fact, broadcast threshold off): the JVM
# semi probe wins at 1M keys (3.6s vs bloom 6.5s vs raw 10.6s) and
# still at 4M (4.1s vs 8.3s vs 6.1s); at 16M the key-set broadcast
# collapses (15.8s — build + ship + hashed-relation memory for ~128MB
# of longs) while the bloom probe holds flat (8.8s ≈ raw 9.0s). The
# crossover sits between the 4M and 16M octaves; 4M is the last
# measured-good point, so the dispatcher flips there.
_SEMI_PRUNE_MAX_KEYS = 4_000_000


def pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    dim_key: str | None = None,
    how: str = "inner",
    strategy: str = "auto",
    expected_items: int | None = None,
    fpp: float = 0.01,
    bloom: tuple[bytes, int, int] | None = None,
) -> DataFrame:
    """Runtime-filtered equi-join with the probe picked by the measured
    rule (:data:`_SEMI_PRUNE_MAX_KEYS`; :func:`bloom_pruned_join`
    docstring):

    - ``"semi"`` — broadcast the dim's DISTINCT KEY SET and left-semi
      the fact before the real join. Whole-stage-codegen JVM probe,
      effectively free; the choice whenever the key set broadcasts.
    - ``"bloom"`` — :func:`bloom_pruned_join`'s Arrow bitmap probe:
      m bits however many keys, for the regime where even the key set
      cannot broadcast (the bitmap also serves from a stored registry
      artifact via ``bloom``).
    - ``"auto"`` — semi when the dim key count is known or estimated to
      be ≤ ``_SEMI_PRUNE_MAX_KEYS`` and no stored ``bloom`` was handed
      in; bloom otherwise. The size signal, in order: (1) an explicit
      ``expected_items``; (2) a ``Warehouse.read`` frame's write-time
      ``_empujar_n_rows`` footer count — metadata already on disk, so a
      warehouse dim pays NO extra job (an upper bound on the key count:
      exact for a pk-keyed dim, an overestimate for a dim with repeated
      keys, which can only flip the choice toward bloom — never an
      undersized filter, since bloom sizing from an overestimate just
      lowers fpp); (3) a ``distinct().count()`` job, the bare-DataFrame
      fallback only.

    All strategies are row-identical to the plain join (semi keeps
    exactly the matching keys; bloom's false positives die in the real
    join)."""
    if strategy not in ("auto", "semi", "bloom"):
        raise ValueError(f"unknown prune strategy {strategy!r}")
    if strategy == "auto":
        if bloom is not None:
            strategy = "bloom"
        else:
            n = expected_items
            if n is None:
                n = getattr(dim, "_empujar_n_rows", None)
            if n is None:
                n = dim.select(dim_key or key).distinct().count()
            expected_items = n
            strategy = "semi" if n <= _SEMI_PRUNE_MAX_KEYS else "bloom"
    if strategy == "bloom":
        return bloom_pruned_join(
            fact, dim, key, dim_key=dim_key, how=how,
            expected_items=expected_items, fpp=fpp, bloom=bloom,
        )
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"pruned_join keeps only matching fact rows; how={how!r} "
            f"would need the pruned rows back (use a plain join)"
        )
    dkey = dim_key or key
    keys = F.broadcast(dim.select(F.col(dkey).alias(key)).distinct())
    pruned = fact.join(keys, key, "left_semi")
    if how == "left_semi":
        return pruned
    if dim_key is None:
        return pruned.join(dim, key, "inner")
    return pruned.join(dim, pruned[key] == dim[dkey], "inner")


# ------------------------------------------------------- heavy hitters

def heavy_hitters(
    df: DataFrame,
    key: str,
    k: int = 10,
    capacity: int = 4096,
) -> DataFrame:
    """Exact top-k keys by count via certified candidate generation —
    see :func:`heavy_hitters_certified` for the mechanism; this wrapper
    returns the result DataFrame only."""
    out, _ = heavy_hitters_certified(df, key, k, capacity)
    return out


def heavy_hitters_certified(
    df: DataFrame,
    key: str,
    k: int = 10,
    capacity: int = 4096,
) -> tuple[DataFrame, dict]:
    """Exact top-k keys by count, via certified candidate generation.

    Stage 1 (one scan): each partition counts its rows per key with
    vectorized ``value_counts`` and emits (a) its top-``capacity`` keys
    with their partition-local counts, (b) a certificate row carrying the
    count of its (capacity+1)-th key — an upper bound on the local count
    of ANY key it did not emit. Stage 2: exact global recount of the
    candidate keys only (semi-join on a broadcast candidate set), take the
    top k. If the k-th exact count exceeds Σ(bounds), no non-candidate can
    belong to the top-k and the result is certified exact; otherwise fall
    back to the full groupBy (correctness never depends on the sketch).

    Output: (key, cnt) ordered by (cnt desc, key asc) — deterministic ties.

    100 TB shape: stage 1 moves n_partitions × capacity candidate rows +
    one bound per partition (no full-key shuffle); stage 2 shuffles only
    rows whose key is a candidate. The full-groupBy fallback is the plain
    exact plan, taken only when the data genuinely has no heavy tail at
    this capacity.

    Returns ``(result_df, stats)`` where stats records the certificate:
    ``slack`` (Σ per-partition miss bounds — the max possible count of a
    non-candidate key), ``kth_count`` (the k-th candidate's exact count),
    ``certified`` (kth_count > slack), and ``fallback`` (full groupBy
    taken). On uniform data slack degenerates to 0 (capacity exceeds
    per-partition distinct); the skew stress harness exercises the
    non-trivial case where slack > 0 and the certificate still holds."""
    df = df.filter(F.col(key).isNotNull())  # null has no defined rank; oracle twin matches
    key_type = dict(df.dtypes)[key]
    out_schema = f"`{key}` {key_type}, part_cnt bigint, bound bigint"

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        total: pd.Series | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            vc = pdf[key].value_counts()
            total = vc if total is None else total.add(vc, fill_value=0)
        if total is None:
            return
        total = total.astype("int64").sort_values(ascending=False)
        top = total.iloc[:capacity]
        bound = int(total.iloc[capacity]) if len(total) > capacity else 0
        out = pd.DataFrame(
            {key: top.index, "part_cnt": top.to_numpy(), "bound": 0}
        )
        # one certificate row per partition (null key, bound only)
        cert = pd.DataFrame({key: [None], "part_cnt": [0], "bound": [bound]})
        yield pd.concat([out, cert], ignore_index=True)

    summary = df.select(key).mapInPandas(summarize, out_schema).cache()
    slack = summary.agg(F.sum("bound")).collect()[0][0] or 0
    cand = summary.filter(F.col(key).isNotNull()).select(key).distinct()
    exact = (
        df.join(F.broadcast(cand), key, "left_semi")
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col(key).asc())
        .limit(k)
    )
    rows = exact.collect()
    summary.unpersist()  # both uses (slack agg, candidate set) are done
    kth = int(rows[-1]["cnt"]) if rows else 0
    certified = len(rows) == k and kth > slack
    stats = {
        "slack": int(slack),
        "kth_count": kth,
        "certified": bool(certified),
        "fallback": not (certified or slack == 0),
    }
    if certified or slack == 0:
        return (
            df.sparkSession.createDataFrame(rows, exact.schema).orderBy(
                F.col("cnt").desc(), F.col(key).asc()
            ),
            stats,
        )
    # certificate failed: no heavy tail at this capacity — exact fallback
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col(key).asc())
        .limit(k)
    ), stats


# ----------------------------------------------- bloom as a build artifact

def bloom_to_df(spark: SparkSession, bloom: bytes, m: int, k: int) -> DataFrame:
    """One-row DataFrame (m, k, bits) — the bloom as a storable artifact.
    Write it with ``df.write.parquet(path)`` (parquet binary column);
    at 100 TB the filter is built once per load window and served to
    every subsequent ingest, exactly like the BM25/IVF index tables."""
    return spark.createDataFrame([(m, k, bytearray(bloom))], "m long, k long, bits binary")


def bloom_from_df(df: DataFrame) -> tuple[bytes, int, int]:
    """Load a stored bloom artifact (inverse of ``bloom_to_df``)."""
    row = df.select("m", "k", "bits").head()
    return bytes(row["bits"]), int(row["m"]), int(row["k"])


def bloom_fold_into_registry(
    reg, name: str, batch: DataFrame, col: str, component: str = "bitmap",
    pinned: dict | None = None,
) -> tuple[bytes, int, int]:
    """Fold a batch's keys into a REGISTERED bloom artifact
    (empujar_spark/indexes.py): build the batch's own small bitmap with
    the stored (m, k), OR it in (``bloom_union`` is exact — OR of
    bitmaps ≡ bloom of the union of build sets), commit the folded
    component through the versioned write path, and re-stamp
    provenance. History is never rescanned — this is the steady-state
    ingest maintenance the artifact exists for; a periodic full
    ``register()`` rebuild resets fpp drift once the key count outgrows
    the original sizing. Returns the folded (bits, m, k).

    ``pinned`` is a ``built_from``-shaped provenance pin captured before
    the fold read its input (``IndexRegistry.ensure_fresh_fold`` passes
    it) — forwarded to ``refresh_provenance`` so a source commit landing
    mid-fold is never stamped as covered."""
    stored = bloom_from_df(reg.read(name)[component])
    bits, m, k = stored
    batch_bits = build_bloom_with_params(batch, col, m, k)
    folded = bloom_union(bits, batch_bits)
    spark = batch.sparkSession
    reg.wh.replace_table(
        reg.component_table(name, component), bloom_to_df(spark, folded, m, k)
    )
    reg.refresh_provenance(name, pinned=pinned)
    return folded, m, k


def fold_hashes_into_bloom(bloom: bytes, h1, h2, m: int, k: int) -> bytes:
    """Driver-side fold of ALREADY-COLLECTED key hashes into a bitmap —
    the zero-job twin of ``build_bloom_with_params`` + ``bloom_union``
    for slivers the caller holds anyway (a streaming admission gate
    collects each batch's admitted keys as its output; launching a Spark
    job to re-hash a few hundred driver-resident rows costs more than
    the fold itself). ``h1``/``h2`` are the JVM ``xxhash64`` pair from
    ``_hash_cols`` — collect them alongside the keys; the probe
    positions come from the same ``_positions`` kernel the executor fill
    uses, so the result is bit-identical to a distributed build over the
    same keys."""
    bits = np.frombuffer(bloom, dtype=np.uint8).copy()
    h1 = np.asarray(h1, dtype=np.int64)
    if len(h1):
        pos = _positions(h1, np.asarray(h2, dtype=np.int64), k, m).ravel()
        np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return bits.tobytes()


def bloom_union(a: bytes, b: bytes) -> bytes:
    """OR two bitmaps built with the SAME (m, k): the result is exactly
    the bloom of the union of their build sets — bit-identical to a
    from-scratch build, which is what makes the stored artifact
    INCREMENTALLY maintainable (each new batch builds its own small
    bloom and ORs in; no rescan of history, ever)."""
    if len(a) != len(b):
        raise ValueError("bloom_union requires equal (m, k) parameters")
    return (
        np.frombuffer(a, dtype=np.uint8) | np.frombuffer(b, dtype=np.uint8)
    ).tobytes()
