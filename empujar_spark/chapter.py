"""Chapter: the parallel execution unit of the orchestration DAG.

Reference semantics (lib/chapter.js):
- ``add_loader`` / ``add_page`` register callables (lib/chapter.js:20-34).
- ``run``: loaders first, all in parallel (lib/chapter.js:77); loaders may
  add pages dynamically (lib/chapter.js:82-85) — the page list is built
  AFTER loaders complete; then pages run with bounded parallelism
  ``threads`` (async.parallelLimit, lib/chapter.js:124).
- state events for chapter/page start/end with durations
  (lib/chapter.js:46-51, 60-68, 90-95, 105-113); first page error aborts
  the chapter (fail-fast, lib/chapter.js:116-118).

Spark mapping: pages execute in a ThreadPoolExecutor — the Spark scheduler
is thread-safe, so concurrent pages submit concurrent Spark actions (the
cluster is the real parallelism boundary). A job group
``book/chapter/page`` per page attributes each Spark job to its page.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor, as_completed
from typing import Callable

from empujar_spark.errors import PageError


class Chapter:
    def __init__(self, book, priority: int, name: str, threads: int = 1) -> None:
        self.book = book
        self.priority = priority
        self.name = name
        self.threads = max(1, int(threads))
        self.loaders: list[tuple[str, Callable]] = []
        self.pages: list[tuple[str, Callable]] = []

    def add_loader(self, name: str, func: Callable) -> None:
        """Pre-parallel unit; may call ``add_page`` (lib/chapter.js:28-34)."""
        self.loaders.append((name, func))

    def add_page(self, name: str, func: Callable) -> None:
        self.pages.append((name, func))

    # internal: run one unit with state events + timing
    def _run_unit(self, kind: str, name: str, func: Callable) -> None:
        self.book.log_state(f"{kind}:start", name=f"{self.name}/{name}")
        started = time.monotonic()
        try:
            func()
        except Exception as exc:  # fail-fast with context (lib/chapter.js:116-118)
            raise PageError(
                str(exc), {"chapter": self.name, kind.rstrip("s"): name}
            ) from exc
        finally:
            self.book.log_state(
                f"{kind}:end",
                name=f"{self.name}/{name}",
                duration=time.monotonic() - started,
            )

    def run(self) -> None:
        self.book.log_state("chapter:start", name=self.name)
        started = time.monotonic()
        try:
            # loaders: unbounded parallel (async.parallel, lib/chapter.js:77)
            if self.loaders:
                self._run_parallel(
                    len(self.loaders),
                    [(n, ("loader", n, f)) for n, f in self.loaders],
                    unit=self._run_unit,
                )
            # pages list is snapshotted AFTER loaders ran (lib/chapter.js:82-85)
            pages = list(self.pages)
            if pages:
                self._run_parallel(
                    self.threads,
                    [(n, (n, f)) for n, f in pages],
                    unit=self._run_in_pool,
                )
        finally:
            self.book.log_state(
                "chapter:end",
                name=self.name,
                duration=time.monotonic() - started,
            )

    def _run_parallel(self, workers: int, jobs, unit) -> None:
        """Run units on a bounded pool with REAL fail-fast (the reference
        contract, lib/chapter.js:116-118): after the first failure no
        further unit does work. Exiting the with-block would otherwise
        shutdown(wait=True) and run the whole backlog to completion
        (Spark jobs, side effects and all) before the error surfaced.
        Two mechanisms because each alone races: Future.cancel() stops
        still-queued units, and the abort flag no-ops units a worker
        dequeued in the instant between the failure and the cancel sweep
        (a worker grabs the next queue item as soon as its current unit
        returns — cancel() alone loses that race). In-flight units finish
        (thread semantics)."""
        import threading

        abort = threading.Event()

        def guarded(*args):
            if abort.is_set():
                return
            try:
                unit(*args)
            except BaseException:
                abort.set()
                raise

        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = [pool.submit(guarded, *args) for _, args in jobs]
            try:
                for fut in as_completed(futures):
                    fut.result()  # raises first failure
            except BaseException:
                abort.set()
                for f in futures:
                    f.cancel()
                raise

    def _run_in_pool(self, name: str, func: Callable) -> None:
        spark = getattr(self.book, "spark", None)
        if spark is not None:
            sc = spark.sparkContext
            # the job group attributes the page's jobs to it
            # (statusTracker().getJobIdsForGroup) even when pages overlap
            group = f"{self.book.name}/{self.name}/{name}"
            sc.setJobGroup(group, group)
        try:
            self._run_unit("page", name, func)
        finally:
            if spark is not None:
                for prop in (
                    "spark.jobGroup.id",
                    "spark.job.description",
                    "spark.job.interruptOnCancel",
                ):
                    sc.setLocalProperty(prop, None)
