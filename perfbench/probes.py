"""Counters read from outside the program: process-tree memory from
``/proc``, warehouse storage from the file system, and the host facts
recorded with every run."""

from __future__ import annotations

import os
import platform
import threading
import time

import pyarrow.parquet as pq


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return []


def tree_pids(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    JVM, its Python workers), summed per sample every ``period`` s."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        kb = sum(_rss_kb(p) for p in tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except FileNotFoundError:  # pruned by a concurrent commit
                continue
            files += n.endswith(".parquet")
    return total, files


def _versions(table_dir: str) -> list[int]:
    out = []
    for e in os.listdir(table_dir):
        if e.startswith("data-v") and e[6:].isdigit():
            out.append(int(e[6:]))
        elif e == "data":
            out.append(0)
    return out


class StorageWatch:
    """Warehouse storage seen from the file system. Each commit lands in a
    fresh ``<table>/data-v{N}`` dir; ``scan`` bills every version dir not
    seen before to bytes and files written, and reports on-disk bytes
    (everything under the warehouse) against live bytes (the version each
    table's ``_current`` pointer names). A commit prunes versions older
    than the two before it, so ``scan`` must run at least every other
    commit of a table: after each write, or at each page end in a book."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.seen: set[tuple[str, int]] = set()
        self.bytes_written = 0
        self.files_written = 0
        self._lock = threading.Lock()

    def on_state(self, event: dict) -> None:
        """``Book.on_state`` callback: scan when a page ends."""
        if event["state"] == "page:end":
            self.scan()

    def scan(self) -> dict:
        with self._lock:
            return self._scan()

    def _scan(self) -> dict:
        on_disk = live = versions = 0
        for table in sorted(os.listdir(self.root)) if os.path.isdir(self.root) else []:
            td = os.path.join(self.root, table)
            if not os.path.isdir(td):
                continue
            try:
                with open(os.path.join(td, "_current")) as fh:
                    cur = int(fh.read().strip())
            except (OSError, ValueError):
                cur = 0
            for v in _versions(td):
                d = os.path.join(td, "data" if v == 0 else f"data-v{v}")
                b, f = _dir_bytes(d)
                versions += 1
                if v == cur:
                    live += b
                if (table, v) not in self.seen and v <= cur:
                    self.seen.add((table, v))
                    self.bytes_written += b
                    self.files_written += f
            on_disk += _dir_bytes(td)[0]
        return {
            "bytes_on_disk": on_disk,
            "live_bytes": live,
            "versions_on_disk": versions,
            "bytes_written": self.bytes_written,
            "files_written": self.files_written,
        }

    def bytes_per_row(self, table: str) -> float:
        """Stored bytes per row of the live version of ``table``, rows
        counted from the parquet footers."""
        td = os.path.join(self.root, table)
        with open(os.path.join(td, "_current")) as fh:
            d = os.path.join(td, f"data-v{int(fh.read().strip())}")
        b, _ = _dir_bytes(d)
        rows = sum(
            pq.ParquetFile(os.path.join(root, n)).metadata.num_rows
            for root, _dirs, names in os.walk(d)
            for n in names
            if n.endswith(".parquet")
        )
        return b / max(1, rows)


def host_facts(heap: str) -> dict:
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    t = time.perf_counter()
    n = 0
    for i in range(2_000_000):
        n += i
    return {
        # a fixed pure-Python loop: tells a slow box from a slow program
        "cpu_calib_s": time.perf_counter() - t,
        "cpus": len(os.sched_getaffinity(0)),
        "mem_gib": round(mem_kb / 2**20, 1),
        "heap": heap,
        "kernel": platform.release(),
        "loadavg": load,
        "python": platform.python_version(),
    }
