"""Connector surfaces: FileStore (S3/FTP analogue), DocumentIndex (ES
analogue), JdbcSource contract, scalar functions."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from empujar_spark.functions import (
    format_datetime,
    rename_reserved,
    sanitize_string,
    utf8_byte_length,
    zero_date_to_null,
)
from empujar_spark.sources import DocumentIndex, FileStore, JdbcSource


# ----------------------------------------------------------------- FileStore
def test_filestore_roundtrip_and_listing(spark, tmp_path):
    fs = FileStore(spark, f"file:{tmp_path}")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    fs.streaming_upload(df, "out/data", fmt="parquet")
    assert fs.object_exists("out/data")
    objs = fs.list_objects("out")
    assert any(o.endswith(".parquet") for o in objs)
    assert any("out/data" in f for f in fs.list_folders("out"))
    back = fs.get("out/data")
    assert back.count() == 2
    files = fs.list_files("out")
    assert files and all(
        f["size"] > 0 for f in files if not f["name"].endswith("_SUCCESS")
    )
    # delete semantics (s3.js:81-94, 110-128)
    assert fs.delete_folder("out/data")
    assert not fs.object_exists("out/data")


def test_filestore_csv_json(spark, tmp_path):
    fs = FileStore(spark, f"file:{tmp_path}")
    df = spark.createDataFrame([(1, "x")], ["id", "v"])
    fs.streaming_upload(df, "c", fmt="csv", header="true")
    assert fs.get("c", fmt="csv", header="true", inferSchema="true").count() == 1
    fs.streaming_upload(df, "j", fmt="json")
    assert fs.get("j", fmt="json").count() == 1


def test_filestore_missing_prefix(spark, tmp_path):
    fs = FileStore(spark, f"file:{tmp_path}")
    assert fs.list_objects("nope") == []
    assert not fs.object_exists("nope/x")


# -------------------------------------------------------------- DocumentIndex
@pytest.fixture()
def es(spark):
    idx = DocumentIndex(spark)
    idx.register(
        "users",
        spark.createDataFrame(
            [
                (0, "evan@example.com", "2020-01-01T00:00:00.000Z"),
                (1, "brian@example.com", "2021-06-01T12:30:00.000Z"),
                (2, "aaron@example.com", "2022-03-05T08:00:00.000Z"),
            ],
            ["id", "email", "when"],
        ),
    )
    return idx


def test_es_show_indices(es):
    assert es.show_indices() == ["users"]


def test_es_get_all_range_query_projection_and_dates(es):
    # test/connections/elasticsearch.js:195-217: bool range ≥ + _source
    out = es.get_all(
        "users",
        {"bool": {"must": [{"range": {"id": {"gte": 1}}}]}},
        fields=["id", "email", "when"],
    )
    rows = out.orderBy("id").collect()
    assert [r["id"] for r in rows] == [1, 2]
    # ISO date revival (es.js:109-114)
    assert rows[0]["when"] == dt.datetime(2021, 6, 1, 12, 30)


def test_es_term_and_match_all_and_empty(es):
    assert es.get_all("users", {"term": {"email": "evan@example.com"}}).count() == 1
    assert es.get_all("users").count() == 3
    assert es.get_all("users", {"bool": {"must": [{"range": {"id": {"gt": 99}}}]}}).count() == 0


def test_es_upsert_create_then_update(spark, es):
    # test/connections/elasticsearch.js:61-142
    es.insert_data("users", [{"id": 0, "email": "evan@new.com"},
                             {"id": 9, "email": "new@user.com"}])
    out = {r["id"]: r["email"] for r in es.get_all("users", fields=["id", "email"]).collect()}
    assert out[0] == "evan@new.com" and out[9] == "new@user.com" and len(out) == 4
    # one batch repeating an id: the later row wins, and the index keeps
    # one row for that id
    es.insert_data("users", [{"id": 1, "email": "first@dup.com"},
                             {"id": 1, "email": "second@dup.com"}])
    rows = es.get_all("users", fields=["id", "email"]).collect()
    assert [r["email"] for r in rows if r["id"] == 1] == ["second@dup.com"]
    assert len(rows) == 4
    # the same batch creating a fresh index keeps one row too
    es.insert_data("fresh", [{"id": 1, "email": "a"}, {"id": 1, "email": "b"}])
    assert [tuple(r) for r in es.get_all("fresh").collect()] == [(1, "b")]


# ------------------------------------------------------------------ JdbcSource
# No live database or driver jar exists in this sandbox (the reference's
# strongest test layer, test/connections/mysql.js:78-489, runs against a
# real MySQL) — so these tests pin the PLAN boundary instead: the exact
# options handed to the JDBC DataSource, the bound validation, and the
# pushdown SQL text, per VERDICT r13 item 6.
def test_jdbc_contract(spark):
    src = JdbcSource(spark, "jdbc:postgresql://example:5432/db", user="u")
    # no driver jar in the container: constructing readers works, loading fails
    with pytest.raises(Exception):
        src.get_all("t").count()


def test_jdbc_get_all_partitioned_read_options(spark):
    """The partitioned-scan options (the scale replacement for the
    reference's serial LIMIT-offset loop, mysql.js:232-256) must land in
    the DataSource option dict exactly: partitionColumn/lowerBound/
    upperBound/numPartitions stringified, connection opts merged."""
    src = JdbcSource(
        spark, "jdbc:mysql://example:3306/db", user="u", password="p",
        driver="com.mysql.cj.jdbc.Driver", fetch_size=5000,
    )
    opts = src.get_all_options(
        "orders", partition_column="o_orderkey",
        lower_bound=1, upper_bound=600_000, num_partitions=16,
    )
    assert opts == {
        "url": "jdbc:mysql://example:3306/db",
        "user": "u",
        "password": "p",
        "driver": "com.mysql.cj.jdbc.Driver",
        "fetchsize": "5000",
        "dbtable": "orders",
        "partitionColumn": "o_orderkey",
        "lowerBound": "1",
        "upperBound": "600000",
        "numPartitions": "16",
    }
    # unpartitioned read: a single-query scan, no bound options at all
    plain = src.get_all_options("orders")
    assert "partitionColumn" not in plain and plain["dbtable"] == "orders"


def test_jdbc_partition_column_requires_bounds(spark):
    """str(None) reaching the datasource would die deep in bound parsing
    — the call site must fail loudly instead."""
    src = JdbcSource(spark, "jdbc:mysql://example:3306/db")
    with pytest.raises(ValueError, match="lower_bound"):
        src.get_all_options("t", partition_column="id")
    with pytest.raises(ValueError, match="lower_bound"):
        src.get_all_options("t", partition_column="id", lower_bound=0)


def test_jdbc_pushdown_sql_text(spark, monkeypatch):
    """get_max / table_size push the aggregate INTO the database (the
    reference's watermark and size probes, mysql.js:193-216 /
    redshift.js:129-135) — assert the exact SQL string handed to the
    query option, captured at the plan boundary."""
    src = JdbcSource(spark, "jdbc:mysql://example:3306/db")
    captured = []

    class _Row:
        def __getitem__(self, k):
            return {"max": 41, "total": 7}[k]

    def fake_query(sql):
        captured.append(sql)

        class _DF:
            def first(self):
                return _Row()

        return _DF()

    monkeypatch.setattr(src, "query", fake_query)
    assert src.get_max("orders", "o_orderdate") == 41
    assert src.table_size("orders") == 7
    assert captured == [
        'SELECT MAX(o_orderdate) AS "max" FROM orders',
        'SELECT count(1) AS "total" FROM orders',
    ]


# ------------------------------------------------------------ scalar functions
def test_scalar_functions(spark):
    df = spark.createDataFrame(
        [("a\x00b", "0000-00-00 00:00:00", dt.datetime(2020, 1, 2, 3, 4, 5, 999999), "é" * 10)],
        ["nul", "zero", "ts", "uni"],
    )
    row = df.select(
        sanitize_string(F.col("nul")).alias("clean"),
        zero_date_to_null(F.col("zero")).alias("z"),
        format_datetime(F.col("ts")).alias("fmt"),
        utf8_byte_length(F.col("uni")).alias("blen"),
    ).first()
    assert row["clean"] == "ab"          # NUL stripped (redshift.js:85-88)
    assert row["z"] is None              # zero-date → NULL (redshift.js:98-104)
    assert row["fmt"] == "2020-01-02 03:04:05"  # second resolution
    assert row["blen"] == 20             # é = 2 UTF-8 bytes

    # byte-budget truncation (redshift.js:93-96): 3-byte chars, budget 7
    long_df = spark.createDataFrame([("€" * 10,)], ["s"])
    out = long_df.select(sanitize_string(F.col("s"), max_bytes=7).alias("t")).first()
    assert out["t"] == "€€"              # 7 bytes fits 2×3B + partial dropped


def test_rename_reserved(spark):
    df = spark.createDataFrame([(1, "x", "y")], ["id", "tag", "system"])
    out = rename_reserved(df)
    assert out.columns == ["id", "tag_", "system_"]


def test_es_date_revival_decided_at_register_not_per_read(spark):
    """Date revival is inferred ONCE at register() over ALL rows — a null
    or non-ISO FIRST row no longer masks a date column, and a mixed
    (non-date) column is never revived."""
    idx = DocumentIndex(spark)
    idx.register(
        "docs",
        spark.createDataFrame(
            [
                (0, None, "not-a-date"),
                (1, "2021-06-01T12:30:00.000Z", "2021-06-01T12:30:00.000Z"),
            ],
            ["id", "when", "mixed"],
        ),
    )
    rows = {r["id"]: r for r in idx.get_all("docs").collect()}
    assert rows[1]["when"] == dt.datetime(2021, 6, 1, 12, 30)  # revived
    assert rows[0]["when"] is None
    assert rows[1]["mixed"] == "2021-06-01T12:30:00.000Z"      # untouched
