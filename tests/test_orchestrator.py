"""Orchestrator tests mirroring test/lib/book.js and test/lib/chapter.js:
ordering, chapter selection, loaders-before-pages, dynamic page addition,
bounded parallelism timing, fail-fast, pid lock."""

import time

import pytest

from empujar_spark.book import Book, _parse_chapter_filter
from empujar_spark.errors import PageError, PidLockError, flatten, hash_merge


def test_simplest_run_order():
    # test/lib/book.js:14-27, 104-145: chapters run by priority order
    book = Book(name="t", log_state_events=False)
    order = []
    for pri, nm in [(200, "b"), (100, "a"), (300, "c")]:
        ch = book.add_chapter(pri, nm)
        ch.add_page("p", lambda nm=nm: order.append(nm))
    book.run()
    assert order == ["a", "b", "c"]


def test_chapter_selection_list_and_range():
    # lib/book.js:25-38, 245-248
    assert _parse_chapter_filter("1,4") == {1, 4}
    assert _parse_chapter_filter("100-102") == {100, 101, 102}
    book = Book(name="t", chapter_filter="100-300", log_state_events=False)
    order = []
    for pri in (50, 100, 300, 500):
        book.add_chapter(pri, str(pri)).add_page("p", lambda p=pri: order.append(p))
    book.run()
    assert order == [100, 300]


def test_loaders_before_pages_and_dynamic_pages():
    # test/lib/chapter.js:7-24; lib/chapter.js:82-85
    book = Book(name="t", log_state_events=False)
    ch = book.add_chapter(1, "ch", threads=4)
    order = []
    ch.add_loader("l", lambda: (order.append("loader"),
                                ch.add_page("dyn", lambda: order.append("dyn"))))
    ch.add_page("static", lambda: order.append("static"))
    book.run()
    assert order[0] == "loader"
    assert set(order[1:]) == {"static", "dyn"}


def test_bounded_parallelism_timing():
    # test/lib/chapter.js:26-70: 8×0.2s pages, threads=8 ⇒ ~1 slot;
    # threads=4 ⇒ ~2 slots
    def run_with(threads):
        book = Book(name="t", log_state_events=False)
        ch = book.add_chapter(1, "ch", threads=threads)
        for i in range(8):
            ch.add_page(f"p{i}", lambda: time.sleep(0.2))
        t0 = time.monotonic()
        book.run()
        return time.monotonic() - t0

    assert run_with(8) < 0.45
    assert 0.35 <= run_with(4) < 0.75


def test_fail_fast_with_context():
    # lib/book.js:279-288: first page error stops the book, context flattened
    book = Book(name="t", log_state_events=False)
    ran = []
    ch1 = book.add_chapter(1, "one")
    ch1.add_page("bad", lambda: 1 / 0)
    ch2 = book.add_chapter(2, "two")
    ch2.add_page("never", lambda: ran.append("x"))
    with pytest.raises(PageError) as exc:
        book.run()
    assert exc.value.context["chapter"] == "one"
    assert exc.value.context["page"] == "bad"
    assert ran == []
    states = [e["state"] for e in book.state_events]
    assert "book:error" in states and states[-1] == "book:end"


def test_pid_lock(tmp_path):
    # lib/book.js:79-106 + test/lib/book.js:29-43
    b1 = Book(name="locked", pid_dir=str(tmp_path), log_state_events=False)
    b1.ensure_pid()
    b2 = Book(name="locked", pid_dir=str(tmp_path), log_state_events=False)
    with pytest.raises(PidLockError):
        b2.ensure_pid()
    b1.remove_pid()
    b2.ensure_pid()  # released → acquirable
    b2.remove_pid()


def test_state_events_schema():
    # lib/book.js:234-241: {state, time, name, duration, data}
    book = Book(name="t", log_state_events=False)
    book.add_chapter(1, "c").add_page("p", lambda: None)
    book.run()
    ev = book.state_events[0]
    assert set(ev) == {"state", "time", "name", "duration", "data"}
    assert ev["state"] == "book:start"


def test_utils():
    # lib/utils.js:19-43, 133-156
    assert hash_merge({"a": 1}, {"a": 2, "b": 3}) == {"a": 1, "b": 3}
    assert flatten({"a": {"b": {"c": 1}}, "d": 2}) == {"a.b.c": 1, "d": 2}


def test_audit_flush(warehouse):
    # books/etl/book.js:13-15: state events land in the `empujar` table
    book = Book(name="t", log_state_events=False)
    book.add_chapter(1, "c").add_page("p", lambda: None)
    book.run()
    book.flush_audit(warehouse)
    df = warehouse.read("empujar")
    states = [r["state"] for r in df.collect()]
    assert "book:start" in states and "book:end" in states


def test_config_driven_connect(spark, tmp_path):
    # lib/book.js:113-192: glob config/connections/*, build via registry
    import json, os
    from empujar_spark.book import register_connection_type, build_connection

    cfg = tmp_path / "config" / "connections"
    os.makedirs(cfg)
    (cfg / "dest.json").write_text(json.dumps(
        {"name": "dest", "type": "warehouse",
         "options": {"path": str(tmp_path / "wh"), "primary_key": "id"}}))
    (cfg / "store.json").write_text(json.dumps(
        {"name": "store", "type": "files", "options": {"base": f"file:{tmp_path}"}}))
    book = Book(spark=spark, name="t", log_state_events=False)
    book.connect(str(tmp_path / "config"))
    assert set(book.connections) == {"dest", "store"}
    book.dest.insert_data("t", [{"id": 1}])
    assert book.dest.table_size("t") == 1

    # custom type overrides builtin resolution (local connections/TYPE.js)
    register_connection_type("warehouse", lambda spark, **o: "custom!")
    try:
        assert build_connection(spark, "warehouse", {}) == "custom!"
    finally:
        from empujar_spark import book as book_mod
        book_mod._CUSTOM_CONNECTION_TYPES.clear()


def test_load_chapters_discovers_and_invokes(tmp_path):
    """lib/book.js:194-204: glob chapter files, import each, call every
    exported loader with the book. Underscore files and functions imported
    from elsewhere are not loaders."""
    ch_dir = tmp_path / "chapters" / "nested"
    ch_dir.mkdir(parents=True)
    (ch_dir / "one.py").write_text(
        "from os.path import join  # imported — must NOT be called\n"
        "def chapter_loader(book):\n"
        "    book.add_chapter(100, 'from-one').add_page('p', lambda: None)\n"
        "def second_loader(book):\n"
        "    book.add_chapter(200, 'also-one').add_page('p', lambda: None)\n"
        "def _private(book):\n"
        "    raise AssertionError('underscore functions are not loaders')\n"
    )
    (ch_dir / "_skipped.py").write_text(
        "def chapter_loader(book):\n"
        "    raise AssertionError('underscore files are not loaded')\n"
    )
    book = Book(name="t", log_state_events=False)
    invoked = book.load_chapters(str(tmp_path / "chapters" / "**" / "*.py"))
    assert [c.name for c in book.chapters] == ["from-one", "also-one"]
    assert len(invoked) == 2 and all("one.py" in i for i in invoked)
    book.run()  # the discovered book is runnable


def test_load_chapters_default_pattern_is_cwd(tmp_path, monkeypatch):
    """Default glob is <cwd>/chapters/**/*.py (lib/book.js:65)."""
    ch_dir = tmp_path / "chapters"
    ch_dir.mkdir()
    (ch_dir / "c.py").write_text(
        "def chapter_loader(book):\n"
        "    book.add_chapter(1, 'cwd-chapter')\n"
    )
    monkeypatch.chdir(tmp_path)
    book = Book(name="t", log_state_events=False)
    book.load_chapters()
    assert [c.name for c in book.chapters] == ["cwd-chapter"]


def test_etl_book_assembled_from_chapter_directory():
    """The ETL book's chapters come from its chapters/ directory via
    load_chapters — the reference's book.js:26 flow — not from code."""
    import empujar_spark.books.etl as etl

    book = Book(name="probe", log_state_events=False)
    book.spark = None
    book.source_dir = "/nonexistent"
    book.destination = object()
    book.add_connection("destination", book.destination)
    invoked = book.load_chapters(etl.CHAPTER_FILES)
    names = [c.name for c in book.chapters]
    assert names == [
        "extract+load", "transform-addColumns",
        "transform-customers", "transform-parts",
    ]
    assert len(invoked) == 4


def test_book_defaults_object():
    """lib/book.js:59-75: cwd-derived defaults hash, overlaid by options."""
    d = Book.defaults()
    assert d["name"] == __import__("os").path.basename(__import__("os").getcwd())
    assert d["chapter_files"].endswith("chapters/**/*.py")
    assert d["fail_on_connection_error"] is True
    assert d["get_all_limit"] is None

    book = Book(name="x", options={"log_level": "debug", "get_all_limit": 7})
    assert book.options["name"] == "x"          # explicit kwarg wins
    assert book.options["log_level"] == "debug"
    assert book.get_all_limit == 7              # options feed behavior


def test_connect_skips_unknown_type_when_tolerant(tmp_path):
    """lib/book.js:188-190: unknown connection type logs + skips when
    failOnConnectionError is false, raises when true (default)."""
    import json as _json

    conn_dir = tmp_path / "config" / "connections"
    conn_dir.mkdir(parents=True)
    (conn_dir / "bad.json").write_text(
        _json.dumps({"name": "bad", "type": "no-such-type", "options": {}})
    )
    strict = Book(name="t", log_state_events=False)
    with pytest.raises(KeyError):
        strict.connect(str(tmp_path / "config"))

    tolerant = Book(
        name="t", log_state_events=False,
        options={"fail_on_connection_error": False},
    )
    tolerant.connect(str(tmp_path / "config"))  # no raise
    assert "bad" not in tolerant.connections


def test_chapter_fail_fast_cancels_queued_pages(spark):
    """The first page failure must CANCEL the queued backlog (reference
    fail-fast, lib/chapter.js:116-118) — with threads=1, pages after the
    failing one must never start."""
    import pytest as _pytest

    from empujar_spark.book import Book
    from empujar_spark.errors import PageError

    book = Book(spark=spark, name="failfast")
    ch = book.add_chapter(100, "c", threads=1)
    ran = []

    def boom():
        ran.append("p1")
        raise RuntimeError("p1 dies")

    ch.add_page("p1", boom)
    for i in (2, 3, 4):
        ch.add_page(f"p{i}", lambda i=i: ran.append(f"p{i}"))
    with _pytest.raises(PageError):
        ch.run()
    assert ran == ["p1"], f"queued pages ran after the failure: {ran}"


def test_pid_lock_holds_on_permission_error(monkeypatch):
    """EPERM from kill(pid, 0) means the process EXISTS under another
    user — the single-instance lock must hold, not be overwritten."""
    from empujar_spark import book as B

    def eperm(pid, sig):
        raise PermissionError("not permitted")

    monkeypatch.setattr(B.os, "kill", eperm)
    assert B._pid_running(12345) is True


def test_book_connect_missing_type_skips_cleanly(spark, tmp_path):
    """A connection config without 'type' must log-and-skip under
    fail_on_connection_error=False (not crash in its own error handler)
    and raise a clear error otherwise."""
    import json

    import pytest as _pytest

    from empujar_spark.book import Book
    from empujar_spark.errors import UnknownConnectionType

    cdir = tmp_path / "config" / "connections"
    cdir.mkdir(parents=True)
    (cdir / "bad.json").write_text(json.dumps({"name": "bad", "options": {}}))

    strict = Book(spark=spark, name="b1")
    with _pytest.raises(UnknownConnectionType):
        strict.connect(str(tmp_path / "config"))

    lenient = Book(
        spark=spark, name="b2",
        options={"fail_on_connection_error": False},
    )
    lenient.connect(str(tmp_path / "config"))  # must not raise
    assert "bad" not in lenient.connections


def test_jdbc_partition_column_requires_bounds(spark):
    import pytest as _pytest

    from empujar_spark.sources.jdbc import JdbcSource

    src = JdbcSource(spark, url="jdbc:h2:mem:x", driver="org.h2.Driver")
    with _pytest.raises(ValueError, match="lower_bound"):
        src.get_all("orders", partition_column="id")


def test_pages_tag_their_spark_jobs_with_a_job_group(spark):
    """Each page runs under the job group ``book/chapter/page``, so its
    Spark jobs can be attributed to it even when pages overlap."""
    import uuid

    from empujar_spark.book import Book

    book = Book(spark=spark, name=f"jobs-{uuid.uuid4().hex[:8]}",
                log_state_events=False)
    ch = book.add_chapter(100, "c", threads=2)
    for page, n in (("p1", 10), ("p2", 20)):
        ch.add_page(page, lambda n=n: spark.range(n).count())
    book.run()
    tracker = spark.sparkContext.statusTracker()
    jobs = {
        page: set(tracker.getJobIdsForGroup(f"{book.name}/c/{page}"))
        for page in ("p1", "p2")
    }
    assert jobs["p1"] and jobs["p2"]
    assert not jobs["p1"] & jobs["p2"]
