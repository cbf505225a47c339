"""Warehouse operator tests mirroring test/connections/mysql.js goldens:
inference at create, upsert vs append, dynamic add-column, unknown-type
promotion, varchar→text widening, mergeTables decision matrix, dedup
keep-latest."""

import datetime as dt
import os

import pandas as pd
import pytest

from empujar_spark.catalog import TableNotFound


def rows_by_id(wh, table):
    return {r["id"]: r.asDict() for r in wh.read(table).collect()}


def test_create_from_data_inference_goldens(warehouse):
    # test/connections/mysql.js:216-248
    warehouse.insert_data(
        "things",
        [
            {
                "id": 1,
                "null_col": None,
                "int_col": 5,
                "float_col": 1.5,
                "bool_col": True,
                "short_text": "hello",
                "long_text": "x" * 300,
                "when": dt.datetime(2020, 1, 2, 3, 4, 5),
            }
        ],
    )
    cols = warehouse.show_columns("things")
    assert cols["id"]["type"] == "bigint"
    assert cols["null_col"]["type"] == "varchar" and cols["null_col"]["charLength"] == 0
    assert cols["int_col"]["type"] == "bigint"
    assert cols["float_col"]["type"] == "float"
    assert cols["bool_col"]["type"] == "tinyint"
    assert cols["short_text"]["type"] == "varchar"
    assert cols["long_text"]["type"] == "text"
    assert cols["when"]["type"] == "datetime"
    # PK ordered first (mysql.js:449-455)
    assert list(warehouse.column_types("things"))[0] == "id"


def n_files(wh, table):
    return sum(
        n.endswith(".parquet")
        for _root, _dirs, names in os.walk(wh._data_dir(table))
        for n in names
    )


def test_upsert_vs_append(warehouse, spark):
    # test/connections/mysql.js:250-291
    warehouse.insert_data("users", [{"id": 1, "name": "evan"}, {"id": 2, "name": "brian"}])
    # upsert default; the 64 extra keys land in every shuffle partition,
    # yet a driver-held batch coalesces to one partition and adds at
    # most one file to the new version
    batch = [{"id": 1, "name": "EVAN"}] + [{"id": i, "name": f"u{i}"} for i in range(3, 67)]
    before = n_files(warehouse, "users")
    assert warehouse.insert_data("users", batch) == 65
    assert n_files(warehouse, "users") <= before + 1
    data = rows_by_id(warehouse, "users")
    assert len(data) == 66
    assert data[1]["name"] == "EVAN"
    # the same for a local DataFrame batch, in-batch last-wins included
    pdf = pd.DataFrame({"id": [2] + list(range(100, 164)) + [2],
                        "name": ["b1"] + [f"p{i}" for i in range(64)] + ["b2"]})
    before = n_files(warehouse, "users")
    assert warehouse.insert_data("users", spark.createDataFrame(pdf)) == 65
    assert n_files(warehouse, "users") <= before + 1
    data = rows_by_id(warehouse, "users")
    assert len(data) == 130
    assert data[2]["name"] == "b2"

    warehouse.insert_data("users", [{"id": 1, "name": "evan2"}], merge_on_duplicates=False)
    assert warehouse.table_size("users") == 131  # plain append keeps the dup


def test_in_batch_dedup_last_wins(warehouse):
    warehouse.insert_data("t", [{"id": 1, "v": "a"}, {"id": 1, "v": "b"}])
    assert rows_by_id(warehouse, "t")[1]["v"] == "b"


def test_dynamic_add_column(warehouse):
    # test/connections/mysql.js:293-311
    warehouse.insert_data("u", [{"id": 1, "a": "x"}])
    warehouse.insert_data("u", [{"id": 2, "a": "y", "b": 5}])
    data = rows_by_id(warehouse, "u")
    assert data[1]["b"] is None
    assert data[2]["b"] == 5
    assert warehouse.show_columns("u")["b"]["type"] == "bigint"


def test_unknown_type_promotion(warehouse):
    # varchar(0) → typed on first non-null data (mysql.js:313-336)
    warehouse.insert_data("p", [{"id": 1, "c": None}])
    assert warehouse.show_columns("p")["c"]["charLength"] == 0
    warehouse.insert_data("p", [{"id": 2, "c": "hi"}])
    cols = warehouse.show_columns("p")
    assert cols["c"]["type"] == "varchar" and cols["c"]["charLength"] == 255
    data = rows_by_id(warehouse, "p")
    assert data[1]["c"] is None and data[2]["c"] == "hi"


def test_varchar_to_text_widening(warehouse):
    # mysql.js:338-352
    warehouse.insert_data("w", [{"id": 1, "c": "short"}])
    warehouse.insert_data("w", [{"id": 2, "c": "y" * 300}])
    assert warehouse.show_columns("w")["c"]["type"] == "text"
    assert len(rows_by_id(warehouse, "w")[2]["c"]) == 300


def test_int_to_float_promotion(warehouse):
    warehouse.insert_data("f", [{"id": 1, "n": 2}])
    warehouse.insert_data("f", [{"id": 2, "n": 2.5}])
    assert warehouse.show_columns("f")["n"]["type"] == "float"
    assert rows_by_id(warehouse, "f")[1]["n"] == 2.0


def test_get_max_and_table_size(warehouse, spark, tmp_path):
    import uuid

    from pyspark.sql import functions as F

    from empujar_spark.catalog import Warehouse

    def agg_max(wh, table, col):
        return wh.read(table).agg(F.max(col).alias("max")).first()["max"]

    assert warehouse.get_max("missing", "x") is None
    plus2 = dt.timezone(dt.timedelta(hours=2))
    warehouse.insert_data("m", [
        {"id": 1, "ts": dt.datetime(2020, 1, 1), "aware": dt.datetime(2021, 6, 1, 12, tzinfo=plus2),
         "n": -(2**62), "nul": None},
        {"id": 2, "ts": dt.datetime(2021, 6, 1), "aware": None, "n": 2**62 + 1, "nul": None},
    ])
    assert warehouse.get_max("m", "ts") == dt.datetime(2021, 6, 1)
    assert warehouse.get_max("m", "n") == 2**62 + 1
    assert warehouse.get_max("m", "nope") is None
    assert warehouse.table_size("m") == 2
    # a long column that is NULL throughout, then one a later batch adds
    warehouse.insert_data("m", spark.createDataFrame([(3, None)], "id long, nul_long long"))
    warehouse.insert_data("m", [{"id": 4, "late": 7}])
    for col in ["id", "ts", "aware", "n", "nul", "nul_long", "late"]:
        assert warehouse.get_max("m", col) == agg_max(warehouse, "m", col), col
    assert warehouse.get_max("m", "nul_long") is None
    assert warehouse.get_max("m", "late") == 7
    # the footer path runs no Spark job
    sc = spark.sparkContext
    group = f"get-max-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "get_max from footers")
    try:
        got = [warehouse.get_max("m", c) for c in ["id", "ts", "aware", "n", "nul_long"]]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert got[:2] == [4, dt.datetime(2021, 6, 1)]
    # a table emptied by delete_rows
    warehouse.delete_rows("m", "id > 0")
    for col in ["id", "ts", "late"]:
        assert warehouse.get_max("m", col) is None
        assert agg_max(warehouse, "m", col) is None
    # a hive partition column has no column chunks
    wh = Warehouse(spark, str(tmp_path / "pm"), primary_key="id",
                   partition_cols={"p": ["day"]})
    wh.insert_data("p", [{"id": i, "day": i % 3, "ts": dt.datetime(2020, 1, 1 + i)}
                         for i in range(6)])
    for col in ["day", "ts"]:
        assert wh.get_max("p", col) == agg_max(wh, "p", col), col
    assert wh.get_max("p", "day") == 2


@pytest.mark.parametrize("tz", [None, "America/New_York"])
def test_row_dicts_build_the_list_path_values(warehouse, spark, tz):
    """Row dicts become an Arrow-backed local relation holding the values
    createDataFrame(tuples, schema) would, for every lattice kind; naive
    timestamps read as process-local time under any TZ."""
    import time

    from empujar_spark import types as lattice

    plus2 = dt.timezone(dt.timedelta(hours=2))
    rows = [
        {"long": 2**62 + 1, "double": 1.5, "boolean": True, "varchar": "héllo ✓",
         "text": "ü" * 300, "binary": b"\x00\xff", "nested": [[1.0, 2.0], [3.0]],
         "ts_array": [dt.datetime(2021, 6, 1, 12)], "unknown": None,
         "naive": dt.datetime(2021, 6, 1, 12, 30, 15, 999), "aware": dt.datetime(2021, 6, 1, 12, tzinfo=plus2)},
        {"long": -(2**62), "double": float("nan"), "boolean": False, "varchar": "日本",
         "text": None, "binary": bytearray(b"ab"), "nested": [[]],
         "ts_array": [None, dt.datetime(2021, 1, 15, 23, 30)], "unknown": None,
         "naive": dt.date(2021, 1, 15), "aware": dt.datetime(2021, 12, 1, 1, tzinfo=dt.timezone.utc)},
        {k: None for k in ["long", "double", "boolean", "varchar", "text", "binary",
                           "nested", "ts_array", "unknown", "naive", "aware"]},
    ]
    old_tz = os.environ.get("TZ")
    try:
        if tz:
            os.environ["TZ"] = tz
            time.tzset()
        df, incoming = warehouse._normalize_input(rows)
        assert df.isLocal()
        listed = spark.createDataFrame(lattice.normalize_rows(rows, incoming), df.schema)
        # repr: NaN never equals itself
        assert repr(df.collect()) == repr(listed.collect())
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_get_all_chunks_and_limit(warehouse):
    warehouse.insert_data("g", [{"id": i} for i in range(10)])
    batches = list(warehouse.get_all("g", chunk_size=4))
    assert [len(b) for b in batches] == [4, 4, 2]
    assert warehouse.get_all("g", limit=3).count() == 3  # getAllLimit (book.js:74)


def test_query_and_views(warehouse):
    warehouse.insert_data("q1", [{"id": 1, "v": 10}, {"id": 2, "v": 20}])
    assert warehouse.query("SELECT sum(v) AS s FROM q1").first()["s"] == 30


def test_merge_tables_full_when_dest_missing(warehouse):
    # mysql.js:560-570
    warehouse.insert_data("src", [{"id": 1, "v": "a"}])
    assert warehouse.merge_tables("src", "dest") == "full"
    assert rows_by_id(warehouse, "dest")[1]["v"] == "a"


def test_merge_tables_full_when_source_has_more_columns(warehouse):
    warehouse.insert_data("s2", [{"id": 1, "v": "a", "extra": 1}])
    warehouse.insert_data("d2", [{"id": 9, "v": "old"}])
    assert warehouse.merge_tables("s2", "d2") == "full"
    data = rows_by_id(warehouse, "d2")
    assert set(data) == {1}  # full merge = rebuild (DROP+CREATE LIKE+INSERT)


def test_merge_tables_incremental_upsert(warehouse):
    warehouse.insert_data("s3", [{"id": 1, "v": "new"}, {"id": 3, "v": "three"}])
    warehouse.insert_data("d3", [{"id": 1, "v": "old"}, {"id": 2, "v": "two"}])
    assert warehouse.merge_tables("s3", "d3") == "incremental"
    data = rows_by_id(warehouse, "d3")
    assert data[1]["v"] == "new" and data[2]["v"] == "two" and data[3]["v"] == "three"


def test_merge_missing_source_raises(warehouse):
    with pytest.raises(TableNotFound):
        warehouse.merge_tables("nope", "dest")


def test_dedup_keep_latest(warehouse):
    # redshift.js:399-413: keep max(updated_at) per id
    warehouse.insert_data(
        "dup",
        [
            {"id": 1, "v": "old", "updated_at": dt.datetime(2020, 1, 1)},
            {"id": 1, "v": "new", "updated_at": dt.datetime(2021, 1, 1)},
            {"id": 2, "v": "only", "updated_at": dt.datetime(2020, 1, 1)},
        ],
        merge_on_duplicates=False,
    )
    out = warehouse.dedup_keep_latest(warehouse.read("dup"), "id")
    data = {r["id"]: r["v"] for r in out.collect()}
    assert data == {1: "new", 2: "only"}


def test_dedup_keep_latest_tiebreak_is_partition_independent(warehouse):
    """VERDICT r15 item 5: when the order column ties (or is absent),
    the survivor must be a pure function of the DATA — the previous
    monotonically_increasing_id fallback renumbered with partition
    layout, so two runs over differently-partitioned input could keep
    different rows."""
    ts = dt.datetime(2020, 6, 1)
    rows = [{"id": i % 5, "v": f"v{i}", "updated_at": ts} for i in range(40)]
    warehouse.insert_data("tied", rows, merge_on_duplicates=False)
    df = warehouse.read("tied")
    baseline = None
    for layout in (
        df,
        df.repartition(1),
        df.repartition(7, "v"),
        df.orderBy("v").coalesce(3),
        df.orderBy(df.v.desc()).repartition(13),
    ):
        out = sorted(
            (r["id"], r["v"])
            for r in warehouse.dedup_keep_latest(layout, "id").collect()
        )
        assert len(out) == 5
        if baseline is None:
            baseline = out
        else:
            assert out == baseline, "survivor depends on partition layout"


def test_copy_table_schema(warehouse):
    # mysql.js:601-605
    warehouse.insert_data("orig", [{"id": 1, "v": "a"}])
    warehouse.copy_table_schema("orig", "clone")
    assert warehouse.table_size("clone") == 0
    assert warehouse.show_columns("clone") == warehouse.show_columns("orig")


def test_add_and_alter_column(warehouse):
    warehouse.insert_data("ac", [{"id": 1, "v": "a"}])
    warehouse.add_column("ac", "n", [1, 2])
    assert warehouse.show_columns("ac")["n"]["type"] == "bigint"
    warehouse.alter_column("ac", "n", "text")
    assert warehouse.show_columns("ac")["n"]["type"] == "text"


def test_dataframe_input_roundtrip(warehouse, spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    warehouse.insert_data("dfin", df)
    assert warehouse.table_size("dfin") == 2
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"])
    warehouse.insert_data("dfin", df2)
    data = rows_by_id(warehouse, "dfin")
    assert data[2]["v"] == "B" and len(data) == 3


def test_dump_and_get_variable(warehouse, tmp_path, spark):
    warehouse.insert_data("d", [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])
    out = str(tmp_path / "dump")
    warehouse.dump("d", out, fmt="csv", compression="gzip", single_file=True)
    import glob
    files = glob.glob(out + "/*.csv.gz")
    assert len(files) == 1
    back = spark.read.csv(out, header=True, inferSchema=True)
    assert back.count() == 2
    assert warehouse.get_variable("spark.sql.session.timeZone") == "UTC"
    assert warehouse.get_variable("nope.nope", "dflt") == "dflt"


def test_partitioned_table_layout_and_pruning(spark, tmp_path):
    from empujar_spark.catalog import Warehouse
    import os

    wh = Warehouse(spark, str(tmp_path / "pwh"), primary_key="event_id",
                   partition_cols={"ev": ["event_type"], "ev2": ["cid"]})
    rows = [{"event_id": i, "event_type": ["click", "view"][i % 2], "value": float(i)}
            for i in range(20)]
    wh.insert_data("ev", rows)
    # hive layout on disk
    subdirs = os.listdir(wh._data_dir("ev"))
    assert any(d.startswith("event_type=") for d in subdirs)
    # full read intact (partition col restored)
    assert wh.table_size("ev") == 20
    assert wh.read("ev").filter("event_type = 'click'").count() == 10
    # pruning: the filter lands in PartitionFilters (directory selection,
    # not data reading) — inputFiles() ignores pruning, so check the plan
    df = wh.read("ev").filter("event_type = 'click'")
    full = df._jdf.queryExecution().toString()
    pf_lines = [l for l in full.splitlines() if "PartitionFilters" in l]
    assert pf_lines and "event_type" in pf_lines[0]
    # upsert still works on a partitioned table
    wh.insert_data("ev", [{"event_id": 0, "event_type": "click", "value": 99.0}])
    assert wh.table_size("ev") == 20
    got = wh.read("ev").filter("event_id = 0").first()
    assert got["value"] == 99.0
    # an integer partition column: the directory values alone would type
    # it int, the committed meta types the scan bigint, and the filter
    # still selects directories
    rows2 = [(i, i % 3, float(i)) for i in range(12)]
    wh.insert_data(
        "ev2", spark.createDataFrame(rows2, "event_id long, cid long, value double")
    )
    ev2 = wh.read("ev2")
    assert ev2.schema["cid"].dataType.simpleString() == "bigint"
    assert sorted(map(tuple, ev2.collect())) == rows2
    plan = ev2.filter("cid = 2")._jdf.queryExecution().toString()
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines and "cid" in pf_lines[0]


def test_bucketed_join_no_shuffle(spark, tmp_path):
    from empujar_spark.catalog import Warehouse
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "bwh"))
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    wh.save_bucketed("orders", orders, key="o_orderkey", buckets=8)
    wh.save_bucketed(
        "lineitem",
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        key="o_orderkey",
        buckets=8,
    )
    o = wh.read_bucketed("orders")
    li = wh.read_bucketed("lineitem")
    joined = (
        o.join(li, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    # force sort-merge so a broadcast doesn't mask the co-location
    with_conf = spark.conf
    old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
    with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # join itself must be shuffle-free: buckets line up 1:1.
        # (the groupBy on a DIFFERENT key may still exchange — split plan
        # at the join and inspect below it)
        join_part = plan[plan.index("SortMergeJoin"):]
        assert "Exchange hashpartitioning" not in join_part
        expected = (
            orders.join(
                lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
                "o_orderkey",
            )
            .groupBy("o_orderpriority")
            .count()
            .collect()
        )
        got = {r["o_orderpriority"]: r["n"] for r in joined.collect()}
        assert got == {r["o_orderpriority"]: r["count"] for r in expected}
    finally:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_groupby_no_shuffle(spark, tmp_path):
    from empujar_spark.catalog import Warehouse
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "bwh2"))
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    wh.save_bucketed("orders", orders, key="o_custkey", buckets=8)
    agg = (
        wh.read_bucketed("orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("s"))
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert agg.count() == orders.select("o_custkey").distinct().count()


def test_compact_and_vacuum(spark, tmp_path):
    import os
    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "cwh"), primary_key="o_orderkey")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    # several incremental loads -> several file sets
    for lo, hi in [(0, 500), (500, 1000), (1000, 1500)]:
        batch = orders.filter(
            (orders.o_orderkey % 1500 >= lo) & (orders.o_orderkey % 1500 < hi)
        )
        wh.insert_data("orders", batch, merge_key="o_orderkey")
    before = wh.table_size("orders")
    data_dir = wh._data_dir("orders")
    n_before = sum(f.endswith(".parquet") for f in os.listdir(data_dir))
    n_target = wh.compact("orders")
    # compaction committed a NEW immutable version — re-resolve
    data_dir = wh._data_dir("orders")
    assert wh.table_size("orders") == before  # lossless
    n_after = sum(f.endswith(".parquet") for f in os.listdir(data_dir))
    assert n_after <= max(n_target, 1) + 1
    assert n_after <= n_before
    # the compacted file count is a stored layout: a later upsert stays
    # at it instead of re-accreting one file set per merge
    wh.insert_data("orders", orders.limit(50), merge_key="o_orderkey")
    data_dir = wh._data_dir("orders")
    assert sum(f.endswith(".parquet") for f in os.listdir(data_dir)) <= n_after
    assert wh.table_size("orders") == before

    # vacuum removes an orphan version left by a crashed write plus the
    # reader-isolation grace versions, never the live data
    orphan = wh._version_dir("orders", wh._current_version("orders") + 7)
    os.makedirs(orphan)
    removed = wh.vacuum()
    assert os.path.relpath(orphan, wh.path) in removed
    assert not os.path.isdir(orphan)
    assert os.path.isdir(data_dir)  # live version untouched
    # only the current version dir remains after vacuum
    assert wh._list_versions("orders") == [wh._current_version("orders")]
    assert wh.table_size("orders") == before


def test_merge_scd2_history(spark, tmp_path):
    import datetime as dt
    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "scd"), primary_key="cust_id")
    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 2, 1)
    t2 = dt.datetime(2024, 3, 1)

    wh.merge_scd2("dim_customer", [
        {"cust_id": 1, "updated_at": t0, "tier": "bronze", "city": "lyon"},
        {"cust_id": 2, "updated_at": t0, "tier": "gold", "city": "oslo"},
    ])
    rows = {(r.cust_id, r.tier): r for r in wh.read("dim_customer").collect()}
    assert len(rows) == 2
    assert all(r.scd_is_current == 1 and r.scd_valid_to is None for r in rows.values())

    # customer 1 changes tier; customer 2 re-arrives unchanged (no new version)
    wh.merge_scd2("dim_customer", [
        {"cust_id": 1, "updated_at": t1, "tier": "silver", "city": "lyon"},
        {"cust_id": 2, "updated_at": t1, "tier": "gold", "city": "oslo"},
    ])
    got = wh.read("dim_customer").collect()
    c1 = sorted([r for r in got if r.cust_id == 1], key=lambda r: r.scd_valid_from)
    c2 = [r for r in got if r.cust_id == 2]
    assert [r.tier for r in c1] == ["bronze", "silver"]
    assert c1[0].scd_is_current == 0 and c1[0].scd_valid_to == t1
    assert c1[1].scd_is_current == 1 and c1[1].scd_valid_to is None
    assert len(c2) == 1 and c2[0].scd_is_current == 1  # no-change suppressed

    # another change: history accumulates, exactly one current per key
    wh.merge_scd2("dim_customer", [
        {"cust_id": 1, "updated_at": t2, "tier": "gold", "city": "paris"},
    ])
    c1 = sorted(
        [r for r in wh.read("dim_customer").collect() if r.cust_id == 1],
        key=lambda r: r.scd_valid_from,
    )
    assert [r.tier for r in c1] == ["bronze", "silver", "gold"]
    assert [r.scd_is_current for r in c1] == [0, 0, 1]
    assert c1[1].scd_valid_to == t2
    cur = [r for r in wh.read("dim_customer").collect() if r.scd_is_current == 1]
    assert sorted(r.cust_id for r in cur) == [1, 2]


def test_refresh_rollup_incremental_equals_full(spark, tmp_path):
    from empujar_spark.catalog import Warehouse
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "rwh"))
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    split = "1998-01-01"
    n1 = wh.refresh_rollup(
        "orders_rollup",
        orders.filter(F.col("o_orderdate") < split),
        group_cols=["o_orderpriority"],
        sum_cols=["o_totalprice"],
        watermark_col="o_orderdate",
    )
    n2 = wh.refresh_rollup(
        "orders_rollup",
        orders,  # full feed again — watermark filters to only the new rows
        group_cols=["o_orderpriority"],
        sum_cols=["o_totalprice"],
        watermark_col="o_orderdate",
    )
    assert n1 > 0 and n2 > 0 and n1 + n2 == orders.count()
    got = {
        r.o_orderpriority: (r.n_rows, r.sum_o_totalprice)
        for r in wh.read("orders_rollup").collect()
    }
    exp = {
        r.o_orderpriority: (r.n, r.s)
        for r in orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,6)") * 1_000_000).cast("bigint")
            ).alias("s"),
        )
        .collect()
    }
    assert got == exp  # exact, not approximately
    # third refresh with no new rows is a no-op
    assert wh.refresh_rollup(
        "orders_rollup", orders, ["o_orderpriority"], ["o_totalprice"], "o_orderdate"
    ) == 0


def test_query_multi_statement_list(spark, tmp_path):
    """mysql.js:124-156 array contract: statements run sequentially,
    abort-on-first-error, later statements see earlier statements'
    effects (test/connections/mysql.js:98-127 shape)."""
    import pytest as _pytest

    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh-multi"), primary_key="id")
    wh.insert_data("users", [{"id": 1, "counter": 10}, {"id": 2, "counter": 20}])
    results = wh.query([
        "SELECT count(*) AS n FROM users",
        "SELECT max(counter) AS m FROM users",
    ])
    assert [r.first()[0] for r in results] == [2, 20]
    # abort-on-first-error: the bad statement raises, the rest never run
    with _pytest.raises(Exception):
        wh.query(["SELECT * FROM users", "SELECT * FROM no_such_table",
                  "SELECT 1"])


def test_insert_data_dedup_keep_first_and_last(spark, tmp_path):
    """snowflake.js:617-636 keeps the FIRST row per merge key within a
    batch; MySQL ON DUPLICATE keeps the LAST. Both semantics exposed."""
    from empujar_spark.catalog import Warehouse

    batch = [
        {"id": 1, "v": "a"},
        {"id": 1, "v": "b"},
        {"id": 2, "v": "c"},
    ]
    wh_last = Warehouse(spark, str(tmp_path / "wh-last"), primary_key="id")
    wh_last.insert_data("t", batch, merge_key="id")  # default keep='last'
    assert {r["id"]: r["v"] for r in wh_last.read("t").collect()} == {1: "b", 2: "c"}

    wh_first = Warehouse(spark, str(tmp_path / "wh-first"), primary_key="id")
    wh_first.insert_data("t", batch, merge_key="id", dedup_keep="first")
    assert {r["id"]: r["v"] for r in wh_first.read("t").collect()} == {1: "a", 2: "c"}

    # and on the merge-into-existing path too
    wh_first.insert_data(
        "t",
        [{"id": 2, "v": "x"}, {"id": 2, "v": "y"}, {"id": 3, "v": "z"}],
        merge_key="id",
        dedup_keep="first",
    )
    assert {r["id"]: r["v"] for r in wh_first.read("t").collect()} == {
        1: "a", 2: "x", 3: "z",
    }
    # a batch of unique keys plans no dedup window, yet bad dedup
    # arguments are still rejected
    with pytest.raises(ValueError):
        wh_first.insert_data("t", [{"id": 9, "v": "q"}], dedup_keep="middle")
    with pytest.raises(ValueError):
        wh_first.insert_data("t", [{"id": 9, "v": "q"}], dedup_order_col="nope")


def test_dump_logs_progress_cadence(spark, tmp_path):
    """mysql.js:31-33, 651-659: dump logs the output size on a timer while
    the export runs."""
    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh-dump"), primary_key="id")
    wh.insert_data("t", [{"id": i, "v": f"row-{i}"} for i in range(1000)])
    seen = []
    wh.dump(
        "t", str(tmp_path / "out.csv"),
        progress_interval_s=0.05, progress_log=seen.append,
    )
    assert any("out.csv" in m for m in seen)  # at least one cadence tick


def test_snapshot_time_travel_and_restore(spark, tmp_path):
    """Zero-copy snapshots: isolation from later upserts AND from
    compaction (hardlinked parquet is immutable); restore rolls back;
    vacuum leaves snapshots alone."""
    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path), primary_key="id")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    wh.insert_data("t", df1, merge_key="id")
    wh.snapshot("t", "before")
    assert wh.list_snapshots("t") == ["before"]

    df2 = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"])
    wh.insert_data("t", df2, merge_key="id")
    assert {tuple(r) for r in wh.read("t").collect()} == {
        (1, "a"), (2, "B"), (3, "c")}
    assert {tuple(r) for r in wh.read_snapshot("t", "before").collect()} == {
        (1, "a"), (2, "b")}

    wh.compact("t")
    wh.vacuum()
    assert {tuple(r) for r in wh.read_snapshot("t", "before").collect()} == {
        (1, "a"), (2, "b")}

    wh.restore_snapshot("t", "before")
    assert {tuple(r) for r in wh.read("t").collect()} == {(1, "a"), (2, "b")}
    assert wh.list_snapshots("t") == ["before"]

    import pytest as _pt
    with _pt.raises(ValueError):
        wh.snapshot("t", "before")
    wh.drop_snapshot("t", "before")
    assert wh.list_snapshots("t") == []


def test_dedup_batch_order_col_on_shuffled_input(spark, tmp_path):
    """first/last-wins must be defined by an explicit order column for
    DataFrame inputs whose physical row order is a shuffle artifact —
    monotonically_increasing_id() alone encodes partition layout, not
    logical order (snowflake.js:617-636 contract, Spark-era extension)."""
    from pyspark.sql import functions as F

    from empujar_spark.catalog import Warehouse

    rows = [(i % 10, seq, f"v{i % 10}-{seq}") for seq in range(6)
            for i in range(10)]
    df = (spark.createDataFrame(rows, ["id", "updated_at", "v"])
          # adversarial physical order: shuffle + per-partition desc sort
          .repartition(7, "v")
          .sortWithinPartitions(F.col("updated_at").desc()))

    for parts in (1, 7):
        out = Warehouse._dedup_batch(
            df.repartition(parts), "id", keep="last", order_col="updated_at"
        ).collect()
        assert len(out) == 10
        assert all(r["updated_at"] == 5 for r in out), parts
        first = Warehouse._dedup_batch(
            df.repartition(parts), "id", keep="first", order_col="updated_at"
        ).collect()
        assert all(r["updated_at"] == 0 for r in first), parts

    # end-to-end: insert_data plumbs dedup_order_col through the upsert
    wh = Warehouse(spark, str(tmp_path / "wh-ord"), primary_key="id")
    wh.insert_data("t", df, merge_key="id", dedup_order_col="updated_at")
    got = {r["id"]: r["updated_at"] for r in wh.read("t").collect()}
    assert got == {i: 5 for i in range(10)}


def _footer_range(path, col):
    """(min, max) of ``col`` over every row group of one parquet file."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = next(i for i in range(md.num_columns)
               if md.row_group(0).column(i).path_in_schema == col)
    stats = [md.row_group(rg).column(idx).statistics
             for rg in range(md.num_row_groups)]
    return min(st.min for st in stats), max(st.max for st in stats)


def test_cluster_layout_files_carry_narrow_ranges(spark, tmp_path):
    """A ``cluster_by`` table layout must yield files whose footer min/max
    stats are narrow and non-overlapping enough that a selective range
    predicate skips most of the table — the property the clustered_prune
    plan relies on at scale — and must keep doing so after a later
    insert, because the layout is a stored table property."""
    import datetime
    import glob

    from pyspark.sql import functions as F

    from empujar_spark.catalog import Warehouse

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_shipdate", "l_extendedprice"
    )
    wh = Warehouse(spark, str(tmp_path / "wh-clust"))
    wh.replace_table(
        "lineitem", li, layout={"cluster_by": ["l_shipdate"], "files": 16}
    )
    # the warehouse writes UTC-adjusted INT64 timestamps: tz-aware stats
    lo = datetime.datetime(1998, 1, 1, tzinfo=datetime.timezone.utc)
    hi = datetime.datetime(1998, 4, 1, tzinfo=datetime.timezone.utc)
    batch = li.filter(F.col("l_shipdate") >= F.lit(lo)).limit(300)
    for step in ("replace", "insert"):
        if step == "insert":
            wh.insert_data("lineitem", batch)
        files = glob.glob(f"{wh._data_dir('lineitem')}/*.parquet")
        assert len(files) >= 8, step
        overlapping = 0
        for f in files:
            fmin, fmax = _footer_range(f, "l_shipdate")
            if fmin < hi and fmax >= lo:
                overlapping += 1
        # ~7 years of dates in 16 range-files → the 3-month window should
        # touch only a couple of them
        assert overlapping <= max(2, len(files) // 4), (step, overlapping, len(files))

    # and the table reads back exactly the original rows plus the batch
    assert wh.table_size("lineitem") == li.count() + batch.count()


def test_zorder_layout_files_narrow_in_both_dims(spark, tmp_path):
    """A ``zorder_by`` table layout must keep every file's footer min/max
    narrow in BOTH cluster columns — the property that lets a range
    predicate on either dimension (including the non-leading one, where
    lexicographic sort stats are useless) skip most files — also after a
    later insert. Bound: the mean per-file extent must cover well under
    half of each column's global range (a random layout covers ~all of
    it; an ideal 16-file z-layout ~25%)."""
    import glob

    from empujar_spark.catalog import Warehouse

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    wh = Warehouse(spark, str(tmp_path / "wh-zord"))
    wh.replace_table(
        "lineitem", li,
        layout={"zorder_by": ["l_partkey", "l_suppkey"], "files": 16},
    )
    batch = li.limit(300)
    for step in ("replace", "insert"):
        if step == "insert":
            wh.insert_data("lineitem", batch)
        files = glob.glob(f"{wh._data_dir('lineitem')}/*.parquet")
        assert len(files) >= 8, step
        for col in ["l_partkey", "l_suppkey"]:
            ranges = [_footer_range(f, col) for f in files]
            span = max(h for _, h in ranges) - min(lo for lo, _ in ranges)
            mean_extent = sum(h - lo for lo, h in ranges) / len(ranges)
            assert mean_extent < 0.5 * span, (step, col, mean_extent, span)

    assert wh.table_size("lineitem") == li.count() + batch.count()


def test_layout_is_validated_and_resettable(spark, tmp_path):
    """A malformed layout is rejected before it is stored (it would fail
    every later commit); ``layout=None`` keeps the stored layout and
    ``{}`` resets it to the default write."""
    from pyspark.sql import functions as F

    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh-lay"))
    df = spark.range(100).select(F.col("id").alias("k"))
    for bad in ({"cluster_by": ["k"]}, {"zorder_by": ["k"], "files": 2},
                {"cluster_by": ["k"], "files": 2, "bits": 8}):
        with pytest.raises(ValueError):
            wh.replace_table("t", df, layout=bad)
    wh.replace_table("t", df, layout={"cluster_by": "k", "files": 2})
    assert wh._load_meta("t")["layout"] == {"cluster_by": ["k"], "files": 2}
    wh.replace_table("t", df)
    assert wh._load_meta("t")["layout"] == {"cluster_by": ["k"], "files": 2}
    wh.replace_table("t", df, layout={})
    assert "layout" not in wh._load_meta("t")
    assert wh.table_size("t") == 100


def test_rollup_null_group_key_merges_not_duplicates(spark, tmp_path):
    """A NULL group key is one group (SQL GROUP BY semantics): repeated
    refreshes must merge into the same NULL-group row, not append a new
    one each time (plain-equality full_outer would never pair them)."""
    import datetime as dt

    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path), primary_key="id")
    T0 = dt.datetime(2024, 1, 1)
    src1 = spark.createDataFrame(
        [(1, None, 10.0, T0), (2, "a", 5.0, T0)],
        "id int, g string, v double, ts timestamp",
    )
    wh.refresh_rollup("r", src1, ["g"], ["v"], "ts")
    src2 = spark.createDataFrame(
        [(3, None, 7.0, T0 + dt.timedelta(hours=1))],
        "id int, g string, v double, ts timestamp",
    )
    wh.refresh_rollup("r", src2, ["g"], ["v"], "ts")
    rows = wh.read("r").collect()
    null_rows = [r for r in rows if r.g is None]
    assert len(null_rows) == 1, f"NULL group duplicated: {rows}"
    assert null_rows[0].n_rows == 2
    assert null_rows[0].sum_v == 17_000_000  # scale-6 integer partials


def test_meta_saved_after_data_write(spark, tmp_path, monkeypatch):
    """Crash-safety ordering: if the staged data write dies, the meta on
    disk must still describe the OLD physical files — a promoted type in
    _schema.json over un-promoted parquet bricks the table."""
    import pytest as _pytest

    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path), primary_key="id")
    wh.insert_data("t", spark.createDataFrame([(1, 2)], "id int, x long"))
    before = wh.column_types("t")["x"].kind

    def boom(*a, **k):
        raise RuntimeError("simulated crash during staged write")

    monkeypatch.setattr(wh, "_write", boom)
    with _pytest.raises(RuntimeError):
        # float batch promotes x long→double in the reconciled meta
        wh.insert_data("t", spark.createDataFrame([(2, 0.5)], "id int, x double"))
    monkeypatch.undo()
    # meta unchanged on disk → table still reads under the true schema
    assert wh.column_types("t")["x"].kind == before
    assert wh.read("t").count() == 1


def test_scd2_rejects_late_rows_and_resolves_ties_deterministically(spark, tmp_path):
    """A replayed CDC batch older than the open version must not create
    intervals overlapping closed history, and an update tied with the
    open version's timestamp supersedes it (one version at t, not a
    partition-layout-dependent winner)."""
    import datetime as dt

    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path), primary_key="id")
    T = lambda h: dt.datetime(2024, 1, 1, h)
    wh.merge_scd2(
        "dim",
        spark.createDataFrame([(1, "v1", T(1))], "id int, attr string, updated_at timestamp"),
    )
    wh.merge_scd2(
        "dim",
        spark.createDataFrame([(1, "v2", T(5))], "id int, attr string, updated_at timestamp"),
    )
    assert wh.scd2_rejected_late == 0  # on-time merges reject nothing
    # late replay: older than the open version (T5) — must be a no-op,
    # and the rejected count is surfaced so operators can tell replay
    # noise from a genuinely out-of-order new fact
    wh.merge_scd2(
        "dim",
        spark.createDataFrame([(1, "stale", T(3))], "id int, attr string, updated_at timestamp"),
    )
    assert wh.scd2_rejected_late == 1
    assert wh.scd2_rejected_late_by_table["dim"] == 1
    rows = sorted(
        wh.read("dim").collect(), key=lambda r: r.scd_valid_from
    )
    assert [r.attr for r in rows] == ["v1", "v2"]
    # intervals tile with no overlap: v1 closes exactly where v2 opens
    assert rows[0].scd_valid_to == rows[1].scd_valid_from

    # tie at the open version's own timestamp: the update's attrs win,
    # still exactly one version at T5
    wh.merge_scd2(
        "dim",
        spark.createDataFrame([(1, "v2b", T(5))], "id int, attr string, updated_at timestamp"),
    )
    rows = sorted(wh.read("dim").collect(), key=lambda r: r.scd_valid_from)
    assert [r.attr for r in rows] == ["v1", "v2b"]
    assert rows[1].scd_is_current == 1


def test_read_probe_retries_whole_window_on_race(spark, tmp_path, monkeypatch):
    """A concurrent commit can prune the version read() resolved before
    read() opens that version's ``_meta.json`` or lists its files. Both
    raise, and read() must re-resolve the pointer once under the commit
    lock instead of surfacing the race."""
    import builtins
    import os as _os
    import shutil as _shutil

    import empujar_spark.catalog as cat

    wh = cat.Warehouse(spark, str(tmp_path), primary_key="id")
    wh.insert_data("t", spark.createDataFrame([(1, "a")], "id int, v string"))

    # the meta open of the resolved version raises once
    meta_path = _os.path.join(wh._data_dir("t"), "_meta.json")
    real_open = builtins.open
    calls = {"n": 0}

    def flaky_open(path, *a, **kw):
        if isinstance(path, str) and path == meta_path:
            calls["n"] += 1
            if calls["n"] == 1:
                raise FileNotFoundError(path)
        return real_open(path, *a, **kw)

    monkeypatch.setattr(cat, "open", flaky_open, raising=False)
    assert wh.read("t").count() == 1
    assert calls["n"] >= 2  # re-resolved, not skipped
    monkeypatch.undo()

    # the listing: between the meta open and the scan, a commit moves
    # the pointer on and prunes the resolved version
    real_meta = wh._version_meta
    pruned = []

    def commit_and_prune_once(data_dir):
        meta = real_meta(data_dir)
        if not pruned:
            v = wh._current_version("t")
            _shutil.copytree(data_dir, wh._version_dir("t", v + 1))
            wh._set_current_version("t", v + 1)
            _shutil.rmtree(data_dir)
            pruned.append(v)
        return meta

    monkeypatch.setattr(wh, "_version_meta", commit_and_prune_once)
    assert wh.read("t").count() == 1
    assert pruned and wh.table_versions("t") == [pruned[0] + 1]


def test_read_swap_race_tight_loop(spark, tmp_path):
    """Swap concurrently with read() in a tight loop: a writer thread
    re-runs the staged upsert (two renames under the swap lock) while
    readers hammer read().count(); no call may surface
    FileNotFoundError or an empty-DF misread of a populated table."""
    import threading

    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path), primary_key="id")
    base = spark.createDataFrame([(i, "v") for i in range(50)], "id int, v string")
    wh.insert_data("t", base, merge_key="id")

    errors = []
    stop = threading.Event()

    def writer():
        try:
            for _ in range(6):
                wh.insert_data("t", base, merge_key="id")
        except Exception as e:  # pragma: no cover - failure surface
            errors.append(e)
        finally:
            stop.set()

    def reader():
        try:
            while not stop.is_set():
                n = wh.read("t").count()
                # the table is never empty after the initial load: a
                # 0-row read means the probe raced the swap into the
                # "absent dir" branch
                assert n == 50, f"misread {n} rows mid-swap"
        except Exception as e:  # pragma: no cover - failure surface
            errors.append(e)

    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=reader) for _ in range(3)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors


def test_version_time_travel(spark, tmp_path):
    """Rolling automatic history: each commit retains keep_old_versions
    predecessors; read_version returns each committed state exactly, the
    current version matches read(), pruned versions raise with the
    retention hint, and an old version conforms to the CURRENT schema
    (columns added later surface as NULL)."""
    import pytest as _pytest

    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path), primary_key="id", keep_old_versions=2)
    wh.insert_data("t", [{"id": 1, "v": "a"}])
    v1 = wh.table_versions("t")[-1]
    wh.insert_data("t", [{"id": 2, "v": "b", "extra": 7}])  # adds a column
    v2 = wh.table_versions("t")[-1]
    assert wh.table_versions("t") == [v1, v2]

    old = {r["id"]: r.asDict() for r in wh.read_version("t", v1).collect()}
    assert set(old) == {1}
    assert old[1]["extra"] is None  # later column conforms to NULL
    assert {r["id"] for r in wh.read_version("t", v2).collect()} == {1, 2}
    # current-version read_version is exactly read()
    assert sorted(map(tuple, wh.read_version("t", v2).collect())) == sorted(
        map(tuple, wh.read("t").collect())
    )

    # age v1 out: two more commits push it past keep_old_versions=2
    wh.insert_data("t", [{"id": 3, "v": "c"}])
    wh.insert_data("t", [{"id": 4, "v": "d"}])
    assert v1 not in wh.table_versions("t")
    with _pytest.raises(ValueError, match="keep_old_versions"):
        wh.read_version("t", v1)
    with _pytest.raises(ValueError, match="not on disk"):
        wh.read_version("t", 999)


class TestDeleteRows:
    def test_delete_counts_and_survivors(self, warehouse, spark):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(i, i % 3) for i in range(30)], "id long, grp long"
        )
        warehouse.insert_data("t", df)
        n = warehouse.delete_rows("t", F.col("grp") == 1)
        assert n == 10
        left = warehouse.read("t")
        assert left.count() == 20
        assert left.filter(F.col("grp") == 1).count() == 0
        # deleting nothing writes nothing (no new version)
        v = warehouse.table_versions("t")
        assert warehouse.delete_rows("t", F.col("grp") == 99) == 0
        assert warehouse.table_versions("t") == v

    def test_null_condition_rows_survive(self, warehouse, spark):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(i, i % 3) for i in range(30)], "id long, grp long"
        )
        warehouse.insert_data("t", df)
        # condition is NULL for grp != 2: SQL DELETE keeps those rows
        n = warehouse.delete_rows("t", F.when(F.col("grp") == 2, True))
        assert n == 10
        assert warehouse.read("t").count() == 20

    def test_physical_erasure_needs_vacuum(self, warehouse, spark):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(i, i % 3) for i in range(30)], "id long, grp long"
        )
        warehouse.insert_data("t", df)
        warehouse.delete_rows("t", F.col("grp") == 1)
        # before vacuum: an older retained version still holds the rows
        vs = warehouse.table_versions("t")
        assert len(vs) > 1
        old = warehouse.read_version("t", vs[0])
        assert old.filter(F.col("grp") == 1).count() == 10
        warehouse.vacuum()
        # after vacuum: only the current version remains, bytes gone
        vs2 = warehouse.table_versions("t")
        assert len(vs2) == 1
        assert (
            warehouse.read_version("t", vs2[0])
            .filter(F.col("grp") == 1)
            .count()
            == 0
        )


class TestUpdateRows:
    def test_update_semantics(self, warehouse, spark):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(30)],
            "id long, grp long, val double",
        )
        warehouse.insert_data("t", df)
        # assignments see PRE-update values: swap-like update is safe
        n = warehouse.update_rows(
            "t", F.col("grp") == 1,
            {"val": F.col("val") + 100, "grp": F.lit(9)},
        )
        assert n == 10
        out = warehouse.read("t")
        assert out.filter(F.col("grp") == 9).count() == 10
        assert out.filter(F.col("grp") == 1).count() == 0
        got = {r.id: r.val for r in out.collect()}
        for i in range(30):
            assert got[i] == (float(i) + 100 if i % 3 == 1 else float(i))

    def test_update_rejects_unknown_column_and_noop(self, warehouse, spark):
        import pytest as _pytest
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(1, 2)], "id long, grp long")
        warehouse.insert_data("t", df)
        with _pytest.raises(KeyError):
            warehouse.update_rows("t", F.lit(True), {"nope": F.lit(1)})
        v = warehouse.table_versions("t")
        assert warehouse.update_rows("t", F.col("grp") == 99, {"grp": F.lit(0)}) == 0
        assert warehouse.table_versions("t") == v

    def test_update_preserves_column_type(self, warehouse, spark):
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(1, 5)], "id long, grp int")
        warehouse.insert_data("t", df)
        before = dict(warehouse.read("t").dtypes)
        warehouse.update_rows("t", F.lit(True), {"grp": F.lit(7.9)})
        after = warehouse.read("t")
        assert dict(after.dtypes) == before  # no silent retype
        assert after.head().grp == 7  # cast to the declared type


class TestApplyCdc:
    def test_iud_batch_with_seq(self, warehouse, spark):
        from pyspark.sql import functions as F

        base = spark.createDataFrame(
            [(1, "a", 1), (2, "b", 1), (3, "c", 1)],
            "id long, v string, seq long",
        )
        warehouse.insert_data("t", base.drop("seq"))
        # one batch: update 1 twice (last wins), delete 2, insert 4,
        # insert-then-delete 5 (net: absent)
        batch = spark.createDataFrame(
            [
                (1, "a1", 10, "U"), (1, "a2", 11, "U"),
                (2, None, 10, "D"),
                (4, "d", 10, "U"),
                (5, "e", 10, "U"), (5, None, 11, "D"),
            ],
            "id long, v string, seq long, op string",
        )
        res = warehouse.apply_cdc("t", batch, key="id", seq_col="seq")
        assert res == {"upserted": 2, "deleted": 1}
        got = {(r.id, r.v) for r in warehouse.read("t").select("id", "v").collect()}
        assert got == {(1, "a2"), (3, "c"), (4, "d")}

    def test_duplicate_keys_without_seq_rejected(self, warehouse, spark):
        import pytest as _pytest

        warehouse.insert_data(
            "t", spark.createDataFrame([(1, "a")], "id long, v string")
        )
        batch = spark.createDataFrame(
            [(1, "x", "U"), (1, "y", "U")], "id long, v string, op string"
        )
        with _pytest.raises(ValueError):
            warehouse.apply_cdc("t", batch, key="id")

    def test_delete_keys_distributed(self, warehouse, spark):
        from pyspark.sql import functions as F

        warehouse.insert_data(
            "t",
            spark.createDataFrame([(i, i % 4) for i in range(40)],
                                  "id long, grp long"),
        )
        dels = spark.createDataFrame([(i,) for i in range(0, 40, 2)], "id long")
        n = warehouse.delete_keys("t", dels, key="id")
        assert n == 20
        assert warehouse.read("t").filter(F.col("id") % 2 == 0).count() == 0


def test_apply_cdc_rejects_null_or_unknown_ops(warehouse, spark):
    import pytest as _pytest

    warehouse.insert_data(
        "t", spark.createDataFrame([(1, "a")], "id long, v string")
    )
    for bad_op in [None, "X"]:
        batch = spark.createDataFrame(
            [(2, "b", bad_op)], "id long, v string, op string"
        )
        with _pytest.raises(ValueError, match="NULL or values outside"):
            warehouse.apply_cdc("t", batch, key="id")


def test_nested_array_rows_roundtrip(warehouse, spark):
    # row-based insert of nested vectors (e.g. per-row codebooks) must
    # store array<array<double>>, not Python-repr strings — regression
    # for the infer_value_type nested-element fix
    rows = [
        {"id": 1, "mat": [[1.0, 2.0], [3.0, 4.0]]},
        {"id": 2, "mat": [[5.0]]},
    ]
    warehouse.insert_data("m", rows, merge_key="id")
    out = warehouse.read("m")
    assert dict(out.dtypes)["mat"] == "array<array<double>>"
    got = {r.id: r.mat for r in out.collect()}
    assert got == {1: [[1.0, 2.0], [3.0, 4.0]], 2: [[5.0]]}
    # reconcile against a DataFrame-created nested column: no retype
    df = spark.createDataFrame(
        [(3, [[6.0, 7.0]])], "id long, mat array<array<double>>"
    )
    warehouse.insert_data("m", df, merge_key="id")
    out2 = warehouse.read("m")
    assert dict(out2.dtypes)["mat"] == "array<array<double>>"
    assert out2.count() == 3


def test_cdc_extract_apply_roundtrip(warehouse, spark):
    from pyspark.sql import functions as F

    from empujar_spark.plans.corpus import CORPUS, load

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    a = ev.filter(F.col("event_id") % 11 != 0)
    b = ev.filter(F.col("event_id") % 7 != 0).withColumn(
        "event_type",
        F.when(F.col("event_id") % 13 == 0, "reclassified").otherwise(
            F.col("event_type")
        ),
    )
    warehouse.insert_data("t", a, merge_key="event_id")
    feed = CORPUS["cdc_extract"].fn(spark, sf)
    warehouse.apply_cdc("t", feed, key="event_id")
    got = {tuple(r) for r in warehouse.read("t").select(
        "event_id", "event_type", "value").collect()}
    want = {tuple(r) for r in b.collect()}
    assert got == want  # replaying the extracted feed reproduces B


def test_failed_write_cleans_reserved_version(spark, tmp_path):
    """A write whose parquet action throws must tear down the reserved
    data-v{N} dir: no orphan in table_versions(), no retention slot
    consumed, reads and subsequent writes unaffected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path), primary_key="id")
    wh.insert_data("t", [{"id": 1, "v": "a"}])
    v1 = wh.table_versions("t")[-1]

    meta = wh._load_meta("t")
    bad = spark.createDataFrame([(2,)], "id long").withColumn(
        "v", F.raise_error(F.lit("boom")).cast("string")
    )
    with _pytest.raises(Exception):
        wh._write("t", bad, meta)

    assert wh.table_versions("t") == [v1]
    assert wh._list_versions("t") == [v1]  # no orphan dir on disk
    assert [r.id for r in wh.read("t").collect()] == [1]
    wh.insert_data("t", [{"id": 2, "v": "b"}])
    assert {r.id for r in wh.read("t").collect()} == {1, 2}


def test_version_reservation_retries_on_foreign_claim(spark, tmp_path, monkeypatch):
    """makedirs is the atomic cross-process claim: if another process won
    the computed version number, the writer must retry with the next free
    N instead of failing the write (last-committer-wins preserved)."""
    import os as _os

    import empujar_spark.catalog as cat
    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path), primary_key="id")
    wh.insert_data("t", [{"id": 1, "v": "a"}])

    real_makedirs = _os.makedirs
    collided = []

    def claimed_once(path, *a, **kw):
        if "data-v" in str(path) and not kw.get("exist_ok") and not collided:
            collided.append(path)
            raise FileExistsError(path)  # the other process beat us to N
        return real_makedirs(path, *a, **kw)

    monkeypatch.setattr(cat.os, "makedirs", claimed_once)
    wh.insert_data("t", [{"id": 2, "v": "b"}])
    assert collided, "the simulated foreign claim was never hit"
    assert {r.id for r in wh.read("t").collect()} == {1, 2}


def test_orphan_version_dir_hidden_from_history(spark, tmp_path):
    """A version dir left by a KILLED process (no _SUCCESS marker — the
    in-process failure path can't rmtree across a kill -9) must not
    appear in table_versions(), must not be readable as history, and
    must not break later writes; vacuum clears it."""
    import os as _os

    import pytest as _pytest

    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path), primary_key="id")
    wh.insert_data("t", [{"id": 1, "v": "a"}])
    wh.insert_data("t", [{"id": 2, "v": "b"}])
    good = wh.table_versions("t")

    # simulate the dead writer's leftover: an empty claimed dir below cur
    orphan = wh._version_dir("t", max(good) + 5)
    _os.makedirs(orphan)
    wh.insert_data("t", [{"id": 3, "v": "c"}])  # pointer moves past it
    assert max(good) + 5 not in wh.table_versions("t")
    with _pytest.raises(ValueError):
        wh.read_version("t", max(good) + 5)
    assert {r.id for r in wh.read("t").collect()} == {1, 2, 3}
    wh.vacuum()
    assert not _os.path.isdir(orphan)


def test_replace_table_persists_promoted_schema(spark, tmp_path):
    """Round 12 bug fix: replace_table reconciled the schema (promote
    long->double, add column) and wrote the data conformed to it, but
    never SAVED the reconciled meta — so read() try_cast back to the
    stale narrow types, silently truncating promoted values (5.5 read
    as 5) and dropping the added column."""
    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"), primary_key="id")
    wh.insert_data("t", spark.createDataFrame([(1, 5)], "id long, v long"))
    wh.replace_table(
        "t",
        spark.createDataFrame([(1, 5.5, "x")], "id long, v double, extra string"),
    )
    types = wh.column_types("t")
    assert types["v"].kind == "double", types
    assert "extra" in types
    rows = wh.read("t").collect()
    assert rows[0]["v"] == 5.5
    assert rows[0]["extra"] == "x"


def test_write_records_footer_row_count_estimate(spark, tmp_path):
    """Every committed write records a footer-only row count in the
    table meta; read() rides it on the frame as the planner hint
    pruned_join's auto mode consumes (VERDICT r11 #5)."""
    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"), primary_key="id")
    wh.insert_data("t", spark.range(37).selectExpr("id", "id * 2 AS v"))
    assert wh._load_meta("t").get("n_rows") == 37
    assert wh.read("t")._empujar_n_rows == 37
    # stays current across an upsert
    wh.insert_data("t", spark.range(37, 50).selectExpr("id", "id * 2 AS v"))
    assert wh._load_meta("t").get("n_rows") == 50
    assert wh.read("t")._empujar_n_rows == 50


def test_footer_row_count_partitioned_and_merge_return(spark, tmp_path):
    """r16: meta n_rows comes from driver-side pyarrow footer reads (no
    Spark job). It must stay exact for hive-partitioned layouts (rows
    live under event_type=... subdirs) and insert_data's return value
    must still count the DEDUPED incoming batch on both paths."""
    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"), primary_key="id",
                   partition_cols={"ev": ["et"]})
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)],
        "id long, et string, v double",
    )
    n = wh.insert_data("ev", df)
    assert n == 3
    assert wh._load_meta("ev").get("n_rows") == 3
    # merge path: batch repeats key 3 (in-batch dedup -> 2 written),
    # return value counts the deduped batch, meta counts the table
    batch = spark.createDataFrame(
        [(3, "a", 30.0), (3, "a", 31.0), (4, "c", 4.0)],
        "id long, et string, v double",
    )
    n2 = wh.insert_data("ev", batch)
    assert n2 == 2, n2
    assert wh._load_meta("ev").get("n_rows") == 4
    assert wh.table_size("ev") == 4


def test_failed_first_write_leaves_no_table(spark, tmp_path):
    """A table's first commit is atomic: when the write creating it
    fails, no table appears (no meta without data), and a later write
    creates it with that write's schema only."""
    import os

    from pyspark.sql import functions as F

    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path), primary_key="id")
    bad = spark.createDataFrame([(1, 2)], "id long, x long").withColumn(
        "v", F.raise_error(F.lit("boom")).cast("string")
    )
    with pytest.raises(Exception):
        wh.insert_data("t", bad)
    assert not wh.table_exists("t")
    assert "t" not in wh.show_tables()
    assert "t" not in os.listdir(tmp_path)

    wh.insert_data("t", spark.createDataFrame([(1, "a")], "id long, w string"))
    assert list(wh.column_types("t")) == ["id", "w"]
    assert [tuple(r) for r in wh.read("t").collect()] == [(1, "a")]


def test_read_after_commit_runs_no_spark_job(spark, tmp_path):
    """read() scans under the meta committed with the version, so
    building the DataFrame right after a commit runs no Spark job (no
    footer schema inference)."""
    import uuid

    from empujar_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path), primary_key="id")
    wh.insert_data("t", spark.createDataFrame([(1, "a")], "id long, v string"))
    sc = spark.sparkContext
    group = f"read-after-commit-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "read after commit")
    try:
        df = wh.read("t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.count() == 1


def _jobs_of(spark, fn):
    """``fn()`` and the number of Spark jobs it issued."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(list(sc.statusTracker().getJobIdsForGroup(group)))


def test_driver_held_upsert_runs_two_jobs(warehouse, spark):
    """A driver-held batch is planned from its keys on the driver: a
    2,000-row upsert into an existing table issues at most two Spark jobs
    (the key broadcast and the rewrite), returns its distinct-key count
    and adds at most one file."""
    warehouse.insert_data("t", [{"id": i, "v": f"a{i}"} for i in range(3000)])
    rows = [{"id": i, "v": f"b{i}"} for i in range(2000, 4000)]
    pdf = spark.createDataFrame(
        pd.DataFrame({"id": range(3000, 5000), "v": [f"c{i}" for i in range(3000, 5000)]})
    )
    assert pdf.isLocal()
    for batch in (rows, pdf):
        before = n_files(warehouse, "t")
        n, jobs = _jobs_of(spark, lambda: warehouse.insert_data("t", batch))
        assert n == 2000
        assert jobs <= 2
        assert n_files(warehouse, "t") <= before + 1
    data = rows_by_id(warehouse, "t")
    assert len(data) == 5000
    assert [data[i]["v"] for i in (1999, 2000, 2999, 3000, 4999)] == [
        "a1999", "b2000", "b2999", "c3000", "c4999"]


def test_driver_held_create_runs_one_job(spark, tmp_path):
    """A create is planned from its keys like an upsert: a 2,000-row
    driver-held batch of unique keys skips the dedup window, so it issues
    one Spark job, the write, and leaves one file."""
    from empujar_spark.catalog import Warehouse

    rows = [{"id": i, "v": f"a{i}"} for i in range(2000)]
    pdf = spark.createDataFrame(pd.DataFrame(rows))
    assert pdf.isLocal()
    for name, batch in [("rows", rows), ("pandas", pdf)]:
        wh = Warehouse(spark, str(tmp_path / name), primary_key="id")
        n, jobs = _jobs_of(spark, lambda: wh.insert_data("t", batch))
        assert (n, jobs, n_files(wh, "t")) == (2000, 1, 1), name
        assert len(rows_by_id(wh, "t")) == 2000


def test_driver_held_upsert_files_follow_batch_size(warehouse, spark, monkeypatch):
    """A driver-held batch of unique keys is written as one file per
    ``_LOCAL_BATCH_ROWS_PER_FILE`` rows, so a large batch is not one task;
    a batch that repeats a key is sized by AQE after its dedup shuffle."""
    from empujar_spark import catalog

    monkeypatch.setattr(catalog, "_LOCAL_BATCH_ROWS_PER_FILE", 500)
    warehouse.insert_data("t", [{"id": -1, "v": "x"}])
    assert n_files(warehouse, "t") == 1
    assert warehouse.insert_data("t", [{"id": i, "v": "a"} for i in range(2000)]) == 2000
    grown = n_files(warehouse, "t")
    assert grown == 1 + min(4, spark.sparkContext.defaultParallelism)
    repeated = [{"id": i % 1000, "v": "b"} for i in range(2000)]
    assert warehouse.insert_data("t", repeated) == 1000
    assert n_files(warehouse, "t") <= grown + 1
    assert len(rows_by_id(warehouse, "t")) == 2001


_UPSERT_CASES = {
    # name: (stored rows, batch rows, insert_data kwargs, expected return,
    #        whether row position decides the outcome,
    #        (a column, its sorted values after the upsert))
    "keep-first": (
        [{"id": 1, "v": "old"}, {"id": 2, "v": "old"}],
        [{"id": 1, "v": "a"}, {"id": 1, "v": "b"}, {"id": 3, "v": "c"}, {"id": 3, "v": "d"}],
        {"dedup_keep": "first"}, 2, True, ("v", ["a", "c", "old"])),
    "keep-last": (
        [{"id": 1, "v": "old"}, {"id": 2, "v": "old"}],
        [{"id": 1, "v": "a"}, {"id": 1, "v": "b"}, {"id": 3, "v": "c"}, {"id": 3, "v": "d"}],
        {"dedup_keep": "last"}, 2, True, ("v", ["b", "d", "old"])),
    "order-col": (
        [{"id": 1, "v": "old", "ts": 0}],
        [{"id": 1, "v": "a", "ts": 2}, {"id": 1, "v": "b", "ts": 1},
         {"id": 2, "v": "c", "ts": 1}, {"id": 2, "v": "d", "ts": 3}],
        {"dedup_order_col": "ts"}, 2, False, ("v", ["a", "d"])),
    # NULL keys group together in the batch but never match a stored NULL
    "null-keys": (
        [{"id": None, "v": "stored", "ts": 0}, {"id": 1, "v": "old", "ts": 0}],
        [{"id": None, "v": "n1", "ts": 1}, {"id": None, "v": "n2", "ts": 2},
         {"id": 1, "v": "new", "ts": 1}],
        {"dedup_order_col": "ts"}, 2, False, ("v", ["n2", "new", "stored"])),
    # NaN keys (distinct float objects) group together and match a
    # stored NaN
    "nan-key": (
        [{"k": float("nan"), "v": "old", "ts": 0}, {"k": 1.0, "v": "old", "ts": 0}],
        [{"k": float("nan"), "v": "n1", "ts": 1}, {"k": float("nan"), "v": "n2", "ts": 2},
         {"k": 2.0, "v": "new", "ts": 1}],
        {"merge_key": "k", "dedup_order_col": "ts"}, 2, False, ("v", ["n2", "new", "old"])),
    "composite-key": (
        [{"a": 1, "b": "x", "v": 1}, {"a": 1, "b": "y", "v": 2}],
        [{"a": 1, "b": "x", "v": 10}, {"a": 2, "b": "x", "v": 20}],
        {"merge_key": ["a", "b"]}, 2, False, ("v", [2, 10, 20])),
    "new-column": (
        [{"id": 1, "v": "old"}, {"id": 2, "v": "old"}],
        [{"id": 2, "v": "new", "w": 7}, {"id": 3, "v": "new", "w": 8}],
        {}, 2, False, ("w", [7, 8, None])),
    "int-to-float": (
        [{"id": 1, "n": 2}, {"id": 2, "n": 3}],
        [{"id": 2, "n": 3.5}, {"id": 3, "n": 4.5}],
        {}, 2, False, ("n", [2.0, 3.5, 4.5])),
    "append": (
        [{"id": 1, "v": "old"}],
        [{"id": 1, "v": "a"}, {"id": 1, "v": "b"}, {"id": 2, "v": "c"}],
        {"merge_on_duplicates": False}, 3, False, ("v", ["a", "b", "c", "old"])),
}


# the same batches creating the table: case → the column's sorted values
_CREATE_VALUES = {
    "keep-first": ["a", "c"],
    "keep-last": ["b", "d"],
    "order-col": ["a", "d"],
    "null-keys": ["n2", "new"],
    "nan-key": ["n2", "new"],
    "composite-key": [10, 20],
}


@pytest.mark.parametrize(
    "case", sorted(_UPSERT_CASES) + [f"create-{c}" for c in sorted(_CREATE_VALUES)]
)
def test_driver_held_upsert_equals_distributed(spark, tmp_path, case):
    """The driver-held plan (keys read on the driver, dedup window only
    for repeated keys) gives the table and return value the
    distributed plan gives (persist-and-count on upsert, the dedup
    window on create), for row dicts and for a local relation. The
    distributed batch is the local one through ``repartition(2)``,
    except where row position decides which duplicate survives: a
    shuffle leaves position undefined, so there it is an order-keeping
    RDD scan. A ``create-`` case writes the batch into a new table."""
    import pyarrow as pa

    from empujar_spark.catalog import Warehouse

    create = case.startswith("create-")
    case = case.removeprefix("create-")
    stored, rows, kwargs, expect_n, by_position, (col, values) = _UPSERT_CASES[case]
    if create:
        values = _CREATE_VALUES[case]
    local = spark.createDataFrame(pa.Table.from_pylist(rows))
    if by_position:
        distributed = spark.createDataFrame(rows, local.schema)
    else:
        distributed = local.repartition(2)
    assert local.isLocal() and not distributed.isLocal()
    tables = []
    for name, batch in [("rows", rows), ("local", local), ("distributed", distributed)]:
        wh = Warehouse(spark, str(tmp_path / name), primary_key="id")
        if not create:
            wh.insert_data("t", stored, merge_key=kwargs.get("merge_key"))
        assert wh.insert_data("t", batch, **kwargs) == expect_n, name
        table = wh.read("t").collect()
        assert sorted((r[col] for r in table), key=repr) == sorted(values, key=repr), name
        tables.append(sorted(repr(r) for r in table))  # repr: NaN never equals itself
    assert tables[0] == tables[1] == tables[2]
