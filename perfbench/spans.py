"""Outside-in tracing of one crawl.

Nothing under ``crawl4ai_spark/`` changes for this. The tracer wraps the
public calls of each layer on the objects the benchmark itself creates
(the engine, its warehouse, tables, fetcher and seen filter) and, for
the few module functions the round driver calls by name, swaps the
names in ``crawl4ai_spark.engine.frontier`` for the length of the traced
crawl. Each wrapper records a span and tags the Spark jobs launched
inside it with a job group, so the event log (enabled for traced runs
only) attributes jobs, tasks and shuffle bytes to the call that
launched them.

Span hierarchy: crawl -> frontier.init | round -> wrapped call (->
nested wrapped call). A round runs from the previous
``Warehouse.commit_round`` (or the return of seed init) to its own
``commit_round``; whatever follows the last commit is ``crawl.tail``.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

GROUP_PREFIX = "pb:"
_MISSING = object()


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self._round_span: int | None = None
        self._state_write: int | None = None

    # -- spans -------------------------------------------------------------
    def _open(self, name: str, parent: int | None = None) -> int:
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": len(self.spans), "name": name,
                           "parent": parent, "start": time.time(),
                           "end": None})
        sid = len(self.spans) - 1
        self._stack.append(sid)
        self._set_group(name)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        self._stack.remove(sid)
        if self._stack:
            self._set_group(self.spans[self._stack[-1]]["name"])

    def _set_group(self, name: str) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", GROUP_PREFIX + name)
        self.sc.setLocalProperty("spark.job.description", GROUP_PREFIX + name)

    @contextmanager
    def span(self, name: str):
        sid = self._open(name)
        try:
            yield sid
        finally:
            self._close(sid)

    def _next_round(self) -> None:
        if self._round_span is not None:
            self._close(self._round_span)
        self._round_span = self._open("round", parent=self._crawl_id)

    @contextmanager
    def crawl(self):
        """The traced crawl. Seed init opens the first round when it
        returns, and each commit opens the next."""
        with self.span("crawl") as crawl_id:
            self._crawl_id = crawl_id
            self._round_span = None
            try:
                yield
            finally:
                # the loop's exit after the last commit is not a round
                if self._round_span is not None:
                    self.spans[self._round_span]["name"] = "crawl.tail"
                    self._close(self._round_span)
                    self._round_span = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # -- wrapping ----------------------------------------------------------
    def wrap(self, obj, attr: str, name: str) -> None:
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._set(obj, attr, traced)

    def _set(self, obj, attr, value) -> None:
        self._restore.append((obj, attr, vars(obj).get(attr, _MISSING)))
        setattr(obj, attr, value)

    def unwrap_all(self) -> None:
        for obj, attr, old in reversed(self._restore):
            if old is _MISSING:
                delattr(obj, attr)
            else:
                setattr(obj, attr, old)
        self._restore.clear()

    def instrument(self, eng) -> None:
        """Wrap every layer boundary of one CrawlEngine."""
        import crawl4ai_spark.engine.frontier as frontier_mod

        def wrap_init(attr):
            fn = getattr(eng, attr)

            @functools.wraps(fn)
            def traced(*a, **kw):
                with self.span("frontier.init"):
                    out = fn(*a, **kw)
                if self._stack[-1] == self._crawl_id:  # outermost init
                    self._next_round()
                return out

            self._set(eng, attr, traced)

        wrap_init("init_from_seeds")
        wrap_init("init_from_seed_df")
        self.wrap(frontier_mod, "select_fetch_batch", "politeness.plan")
        self.wrap(frontier_mod, "update_host_state", "politeness.plan")
        self.wrap(frontier_mod, "extract_pages", "extract.plan")
        self.wrap(eng.fetcher, "fetch", "fetch.plan")
        self.wrap(eng.bloom, "build", "seen.build")
        self.wrap(eng.bloom, "add_hashes", "seen.sync")
        self.wrap(eng.bloom, "probe", "seen.probe")
        tables = {eng.t_frontier, eng.t_seen, eng.t_pages, eng.t_host,
                  eng.t_metrics, eng.t_bloom}
        for t in tables:
            self.wrap(t, "read", "tables.read")
            self.wrap(t, "overwrite", "tables.overwrite")
            for attr in ("adopt_dirs", "append_rows", "drop_dirs"):
                self.wrap(t, attr, "tables.commit")
        self.wrap(eng.t_pages, "append", "tables.pages_write")

        wh = eng.wh
        state_dir, tag_dirs = wh.state_dir, wh.existing_tag_dirs
        commit_round = wh.commit_round

        # job 2 (discovery + tagged state write) has no call of its own;
        # it runs between the return of state_dir and the listing of
        # the tag dirs it produced
        def traced_state_dir(*a, **kw):
            out = state_dir(*a, **kw)
            self._state_write = self._open("tables.state_write")
            return out

        def traced_tag_dirs(*a, **kw):
            if self._state_write is not None:
                self._close(self._state_write)
                self._state_write = None
            return tag_dirs(*a, **kw)

        def traced_commit(*a, **kw):
            with self.span("tables.commit"):
                commit_round(*a, **kw)
            self._next_round()

        self._set(wh, "state_dir", traced_state_dir)
        self._set(wh, "existing_tag_dirs", traced_tag_dirs)
        self._set(wh, "commit_round", traced_commit)

    # -- results -----------------------------------------------------------
    def inclusive_s(self, *names: str) -> float:
        """Time inside the named calls, counting a call nested in another
        of the same names once."""
        by_id = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if s["name"] not in names:
                continue
            p = s["parent"]
            while p is not None and by_id[p]["name"] not in names:
                p = by_id[p]["parent"]
            if p is None:
                total += s["end"] - s["start"]
        return total

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus its children's."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def rounds(self) -> list[dict]:
        return [s for s in self.spans if s["name"] == "round"]

    def top_level_s(self) -> float:
        """Time of the crawl span's children that are seed init or a
        round: what the crawl's own loop accounts for."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == self._crawl_id
                   and s["name"] in ("frontier.init", "round"))

    def crawl_span(self) -> dict:
        return next(s for s in self.spans if s["name"] == "crawl")

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(),
                       **extra}, f, indent=1)


class EventLog:
    """The parts of a Spark event log the per-layer metrics need: jobs
    with their group and interval, and per-job task time, shuffle bytes
    and Python-worker traffic."""

    PY_METRICS = ("data sent to Python workers",
                  "data returned from Python workers")

    def __init__(self, log_dir: str):
        files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, "
                               f"found {len(files)}")
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    self.jobs[jid] = {
                        "group": props.get("spark.jobGroup.id") or "",
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None, "task_s": 0.0, "shuffle_bytes": 0,
                        "python_bytes": 0,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = \
                        ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = self.jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["task_s"] += m["Executor Run Time"] / 1000.0
                    job["shuffle_bytes"] += \
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    for acc in ev["Task Info"].get("Accumulables", ()):
                        if acc.get("Name") in self.PY_METRICS:
                            job["python_bytes"] += int(acc.get("Update", 0))

    def select(self, *groups: str) -> list[dict]:
        """Jobs tagged with one of the given span names; no names = all
        jobs of the traced crawl."""
        if not groups:
            return [j for j in self.jobs.values()
                    if j["group"].startswith(GROUP_PREFIX)]
        want = {GROUP_PREFIX + g for g in groups}
        return [j for j in self.jobs.values() if j["group"] in want]


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
