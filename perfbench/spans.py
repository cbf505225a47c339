"""Benchmark-side tracing: spans around calls into the program's public
functions, plus chapter and page spans from ``Book.on_state``.

Nothing here edits the program. ``Tracer.wrap`` swaps a public function
(module attribute or class method) for a timing wrapper for the life of the
traced run and puts the original back in ``restore``. Spans stay in memory
and are written out once, by ``dump``, when the run ends.

A span is ``(id, name, start, end, parent, run, thread)``; when a
``JobCounter`` is given it also carries the Spark job and task counts of
its interval. Those counts are only meaningful where spans do not overlap
(one thread issuing Spark actions); in the books, which run pages in
parallel, the caller attributes jobs and tasks per run instead.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from collections import defaultdict


class JobCounter:
    """Spark job and task totals from the status tracker. Job ids are
    dense, so ``numTotalJobs`` is a cursor; tasks are summed over the
    stages of each finished job (skipped stages run none)."""

    def __init__(self, sc) -> None:
        self._dag = sc._jsc.sc().dagScheduler()
        self._st = sc.statusTracker()

    def cursor(self) -> int:
        return int(self._dag.numTotalJobs())

    def tasks(self, lo: int, hi: int) -> int:
        n, seen = 0, set()
        for j in range(lo, hi):
            info = self._st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                if s in seen:
                    continue
                seen.add(s)
                si = self._st.getStageInfo(s)
                if si is not None:
                    n += si.numCompletedTasks + si.numFailedTasks
        return n


class Tracer:
    def __init__(self, jobs: JobCounter | None = None) -> None:
        self.spans: list[dict] = []
        self.run = 0
        self.jobs = jobs
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._open: dict[str, dict] = {}  # chapter/page spans by event name
        self._chapter: dict | None = None
        self.priorities: dict[str, int] = {}
        self.counts: dict[str, int] = defaultdict(int)
        self.paused = False  # oracle work runs through the wrappers unrecorded

    # ------------------------------------------------------------- spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def start(self, name: str, push: bool = True) -> dict:
        """Open a span under the innermost open span of this thread, else
        under this thread's page, else under the running chapter.
        ``push=False`` opens one that later calls do not nest under."""
        st = self._stack()
        parent = st[-1] if st else self._chapter_or_page()
        with self._lock:
            span = {
                "id": len(self.spans), "name": name, "start": time.perf_counter(),
                "end": None, "parent": parent["id"] if parent else None,
                "run": self.run, "thread": threading.get_ident(),
            }
            self.spans.append(span)
        if self.jobs is not None:
            span["_j0"] = self.jobs.cursor()
        if push:
            st.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        if self.jobs is not None:
            j1 = self.jobs.cursor()
            span["jobs"] = j1 - span["_j0"]
            span["tasks"] = self.jobs.tasks(span.pop("_j0"), j1)
        st = self._stack()
        if st and st[-1] is span:
            st.pop()

    def _chapter_or_page(self) -> dict | None:
        page = getattr(self._local, "page", None)
        return page if page is not None else self._chapter

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``count(args, kwargs)``, if given, adds to ``counts[name]``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if tracer.paused:
                return orig(*args, **kwargs)
            if count is not None:
                with tracer._lock:
                    tracer.counts[name] += count(args, kwargs)
            span = tracer.start(name)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.end(span)

        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ----------------------------------------------- Book.on_state events
    def on_state(self, event: dict) -> None:
        """Chapter and page spans. Chapters run one at a time on the
        book's thread; page events fire on the page's worker thread."""
        state, name = event["state"], event["name"]
        kind, _, edge = state.partition(":")
        if kind == "chapter":
            if edge == "start":
                self._chapter = self.start("chapter." + name, push=False)
                self._chapter["priority"] = self.priorities.get(name)
            elif self._chapter is not None:
                self._chapter["end"] = time.perf_counter()
                self._chapter = None
        elif kind in ("page", "loader"):
            if edge == "start":
                span = self.start(f"{kind}." + name, push=False)
                self._local.page = span
                self._open[name] = span
            else:
                span = self._open.pop(name, None)
                if span is not None:
                    span["end"] = time.perf_counter()
                self._local.page = None

    # ---------------------------------------------------------- analysis
    def closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover (children
        may overlap each other, e.g. parallel pages, so their union)."""
        spans = self.closed()
        kids: dict[int, list] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], ())):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def by_name(self) -> dict[str, dict]:
        """Per span name: calls, self_s and, where counted, the jobs and
        tasks of the span minus those of its children."""
        selft = self.self_times()
        spans = self.closed()
        child_jobs: dict[int, list[int]] = defaultdict(lambda: [0, 0])
        for s in spans:
            if s["parent"] is not None and "jobs" in s:
                child_jobs[s["parent"]][0] += s["jobs"]
                child_jobs[s["parent"]][1] += s["tasks"]
        agg: dict[str, dict] = defaultdict(
            lambda: {"calls": 0, "self_s": 0.0, "jobs": 0, "tasks": 0}
        )
        for s in spans:
            a = agg[s["name"]]
            a["calls"] += 1
            a["self_s"] += selft[s["id"]]
            if "jobs" in s:
                cj, ct = child_jobs.get(s["id"], (0, 0))
                a["jobs"] += s["jobs"] - cj
                a["tasks"] += s["tasks"] - ct
        return dict(agg)

    def chapter_stats(self) -> dict[str, float]:
        """Scheduler view of the books: chapter wall, page busy and queue
        wait, concurrency, stragglers and same-priority serialization."""
        spans = self.closed()
        chapters = [s for s in spans if s["name"].startswith("chapter.")]
        pages: dict[int, list] = defaultdict(list)
        for s in spans:
            if s["name"].startswith("page.") and s["parent"] is not None:
                pages[s["parent"]].append(s)
        wall = sum(c["end"] - c["start"] for c in chapters)
        busy = wait = straggle = 0.0
        for c in chapters:
            ps = pages.get(c["id"], [])
            if not ps:
                continue
            first = min(p["start"] for p in ps)
            durs = sorted((p["end"] - p["start"] for p in ps), reverse=True)
            busy += sum(durs)
            wait += sum(p["start"] - first for p in ps)
            if len(durs) > 1:
                straggle += durs[0] - durs[1]
        serial = 0.0
        groups: dict[tuple, list[float]] = defaultdict(list)
        for c in chapters:
            if c.get("priority") is not None:
                groups[(c["run"], c["parent"], c["priority"])].append(c["end"] - c["start"])
        for durs in groups.values():
            if len(durs) > 1:
                serial += sum(durs) - max(durs)
        return {
            "chapter.wall_s": wall,
            "chapter.page_busy_s": busy,
            "chapter.page_wait_s": wait,
            "chapter.concurrency": busy / wall if wall else 0.0,
            "chapter.straggler_s": straggle,
            "book.same_priority_serial_s": serial,
        }

    def page_seconds(self) -> dict[str, float]:
        """Page wall time summed per chapter, keyed by the chapter's name
        mapped to metric-name characters."""
        out: dict[str, float] = defaultdict(float)
        for s in self.closed():
            if s["name"].startswith("page."):
                chapter = s["name"][len("page."):].split("/", 1)[0]
                out[metric_name(chapter)] += s["end"] - s["start"]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.closed():
                fh.write(json.dumps({k: v for k, v in s.items() if not k.startswith("_")}) + "\n")


def metric_name(s: str) -> str:
    """Map a chapter or page name to metric-name characters,
    e.g. ``extract+load`` -> ``extract_load``."""
    return re.sub(r"[^A-Za-z0-9_.-]+", "_", s)
