"""MemoryAdaptiveDispatcher twin (engine/dispatcher.py).

Pins, against hand-computed cases and an independent heap-based
reference model of async_dispatcher.py:148-470:
  - monitor hysteresis: enter at >=90, exit at <=85, the (85, 90) band
    carries the previous mode; CRITICAL overrides at >=95; the run
    clock resets on any dip below 90 (even inside PRESSURE mode) and
    trips MemoryError past wait_timeout.
  - scheduler: greedy slot fill under max_session_permit gated on the
    PREVIOUS interval's pressure state, priority order (starvation
    jump past fairness_timeout, else retry_count, URL tie-break),
    critical-at-start requeue with retry+1, abort cancels in-flight.
  - the crawl-loop gate (CrawlConfig.memory_adaptive): intake pauses
    under pressure and resumes with identical final results; a
    sustained run raises MemoryError.
"""

from __future__ import annotations

import heapq

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.corpus.fakeshop import fakeshop_spark_df
from crawl4ai_spark.engine.dispatcher import (
    MemoryGate,
    dispatch_memory_adaptive,
    memory_pressure_states,
)
from crawl4ai_spark.engine.fetch import CorpusFetcher
from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
from crawl4ai_spark.engine.tables import Warehouse


def _timeline(spark, mems_by_job):
    rows = [(j, t, float(m))
            for j, mems in mems_by_job.items()
            for t, m in enumerate(mems)]
    return spark.createDataFrame(
        rows, "job_id int, tick int, mem_percent double")


def test_pressure_states_hysteresis(spark):
    # 91 enters, 96 is critical, 88/87 hold the mode, 84 releases,
    # 92 re-enters, 89 holds, 50 stays (above nothing — below both)
    tl = _timeline(spark, {0: [50, 91, 96, 88, 87, 84, 92, 89, 50]})
    rows = {r.tick: r for r in memory_pressure_states(
        tl, wait_timeout_ticks=6).collect()}
    assert [rows[t].pressure_mode for t in range(9)] == [
        False, True, True, True, True, False, True, True, False]
    assert [rows[t].status for t in range(9)] == [
        "NORMAL", "PRESSURE", "CRITICAL", "PRESSURE", "PRESSURE",
        "NORMAL", "PRESSURE", "PRESSURE", "NORMAL"]
    # run clock: 91@1 starts a run, 96@2 is one tick in; 88 resets it
    # even though the MODE stays PRESSURE; 92@6 starts a fresh run
    assert [rows[t].run_ticks for t in range(9)] == [
        0, 0, 1, 0, 0, 0, 0, 0, 0]
    assert not any(rows[t].abort for t in range(9))


def test_pressure_states_abort_clock(spark):
    # a run's first tick never aborts (the monitor sets the clock on
    # entry and compares on later passes): timeout 2 trips at tick 3
    tl = _timeline(spark, {0: [50, 91, 91, 91, 91, 50, 91, 91]})
    rows = {r.tick: r for r in memory_pressure_states(
        tl, wait_timeout_ticks=2).collect()}
    assert [rows[t].abort for t in range(8)] == [
        False, False, False, True, True, False, False, False]
    assert rows[7].aborted  # sticky


# -- independent reference model ---------------------------------------------
# A literal transcription of the reference loop with an actual heap
# (asyncio.PriorityQueue semantics), structured nothing like the
# engine's per-task fold.

def _ref_model(tasks, mems, permit, fairness, timeout,
               thr=90.0, crit=95.0, rec=85.0):
    pressure, run_start = False, None
    state = {t["task_id"]: dict(t, retry=0, enq=t["enqueue_tick"],
                                fdisp=None, start=None, end=None,
                                aborted=False) for t in tasks}
    prev_pressure = False
    for tick, mem in enumerate(mems):
        # monitor pass
        if mem >= thr:
            if run_start is None:
                run_start = tick
            elif timeout is not None and tick - run_start >= timeout:
                for s in state.values():
                    if s["end"] is None or s["end"] >= tick:
                        s["aborted"], s["end"] = True, None
                break
            pressure = True
        else:
            run_start = None
            if mem <= rec:
                pressure = False
        # scheduler pass (gated on the monitor state it last saw)
        if not prev_pressure:
            active = sum(1 for s in state.values()
                         if s["start"] is not None and s["end"] >= tick)
            heap = [((-(tick - s["enq"]) if tick - s["enq"] > fairness
                      else float(s["retry"])), s["url"], s["task_id"])
                    for s in state.values()
                    if s["start"] is None and not s["aborted"]
                    and s["enq"] <= tick]
            heapq.heapify(heap)
            for _ in range(max(0, permit - active)):
                if not heap:
                    break
                _, _, tid = heapq.heappop(heap)
                s = state[tid]
                if s["fdisp"] is None:
                    s["fdisp"] = tick
                if mem >= crit:
                    s["retry"] += 1
                    s["enq"] = tick
                else:
                    s["start"] = tick
                    s["end"] = tick + s["service_ticks"] - 1
        prev_pressure = pressure
    last = len(mems) - 1
    out = {}
    for tid, s in state.items():
        status = ("aborted" if s["aborted"]
                  else "pending" if s["start"] is None
                  else "completed" if s["end"] <= last else "in_flight")
        out[tid] = (status, s["fdisp"], s["start"],
                    s["end"] if status == "completed" else None, s["retry"])
    return out


@pytest.mark.parametrize("mems", [
    [50.0] * 14,                                      # pure queueing
    [50, 50, 96, 91, 91, 84, 50, 50, 50, 50, 50, 50, 50, 50],  # spike
    [50, 91, 88, 87, 86, 84, 50, 92, 92, 92, 92, 50, 50, 50],  # band+run
    [50, 92] + [92] * 8 + [50] * 4,                   # abort mid-queue
])
def test_fold_matches_reference_model(spark, mems):
    permit, fairness, timeout = 3, 4, 6
    tasks = [dict(job_id=0, task_id=i, url=f"https://h{i % 5}.com/p/{i}",
                  enqueue_tick=i % 3, service_ticks=1 + (i * 7) % 3)
             for i in range(25)]
    td = spark.createDataFrame(
        [(t["job_id"], t["task_id"], t["url"], t["enqueue_tick"],
          t["service_ticks"]) for t in tasks],
        "job_id int, task_id long, url string, enqueue_tick int, "
        "service_ticks int")
    tl = _timeline(spark, {0: mems})
    got = {r.task_id: (r.status, r.first_dispatch_tick, r.start_tick,
                       r.end_tick, r.retry_count)
           for r in dispatch_memory_adaptive(
               td, tl, max_session_permit=permit,
               fairness_timeout_ticks=fairness,
               wait_timeout_ticks=timeout).collect()}
    want = _ref_model(tasks, [float(m) for m in mems],
                      permit, fairness, timeout)
    assert got == want


def test_critical_requeue_then_completes(spark):
    # tick 1 jumps 50 -> 96: slots were filled under the calm state the
    # scheduler last saw, the started tasks hit the critical check and
    # requeue with retry+1; they complete after recovery
    td = spark.createDataFrame(
        [(0, i, f"https://h.com/{i}", 1, 1) for i in range(2)],
        "job_id int, task_id long, url string, enqueue_tick int, "
        "service_ticks int")
    tl = _timeline(spark, {0: [50, 96, 91, 84, 50, 50]})
    rows = {r.task_id: r for r in dispatch_memory_adaptive(
        td, tl, max_session_permit=4, fairness_timeout_ticks=10,
        wait_timeout_ticks=None).collect()}
    for r in rows.values():
        assert r.retry_count == 1 and r.status == "completed"
        assert r.first_dispatch_tick == 1 and r.start_tick == 4


# -- crawl-loop gate ----------------------------------------------------------

def _engine(spark, tmp_path, subdir, **cfg_kw):
    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3,
                               n_subcats=2, n_products=2)
    return CrawlEngine(
        spark, Warehouse(str(tmp_path / subdir)), CorpusFetcher(corpus),
        CrawlConfig(max_depth=3, max_rounds=12, **cfg_kw),
    )


SEED = "http://shop0.fakeshop.test/index.html"


def test_memory_gate_pauses_and_resumes(spark, tmp_path):
    # pressure on rounds 1-2 pauses intake (those rounds fetch 0
    # pages); the crawl then resumes and the final page set equals the
    # ungated run's
    mems = iter([50.0, 93.0, 91.0] + [50.0] * 20)
    gated = _engine(
        spark, tmp_path, "gated",
        memory_adaptive={"provider": lambda _s: next(mems)})
    gated.run([SEED])
    plain = _engine(spark, tmp_path, "plain")
    plain.run([SEED])
    g = gated.t_pages.read(spark).select("url_norm", "round")
    p = plain.t_pages.read(spark).select("url_norm")
    assert {s["status"] for s in gated.memory_gate.events[1:3]} == {"PRESSURE"}
    assert g.where(F.col("round").isin(1, 2)).count() == 0
    assert (sorted(r.url_norm for r in g.collect())
            == sorted(r.url_norm for r in p.collect()))


def test_memory_gate_aborts_on_sustained_run(spark, tmp_path):
    eng = _engine(
        spark, tmp_path, "abort",
        memory_adaptive={"provider": lambda _s: 92.0,
                         "wait_timeout_rounds": 2})
    with pytest.raises(MemoryError):
        eng.run([SEED])
    assert eng.memory_gate.events[-1]["status"] == "ABORT"


# -- reference equality (the campaign pattern) --------------------------------

def test_priority_score_matches_reference():
    """AST-lift _get_priority_score out of the reference dispatcher
    (async_dispatcher.py:217-226; the module imports psutil, absent
    here) and equality-check the twin's priority ordering term over a
    wait/retry grid."""
    import ast as _ast
    import os
    import types

    ref = "/root/reference/crawl4ai/async_dispatcher.py"
    if not os.path.exists(ref):
        pytest.skip("reference repo not available")
    tree = _ast.parse(open(ref).read())
    cls = next(n for n in tree.body if isinstance(n, _ast.ClassDef)
               and n.name == "MemoryAdaptiveDispatcher")
    fn = next(n for n in cls.body if isinstance(n, _ast.FunctionDef)
              and n.name == "_get_priority_score")
    ns: dict = {}
    exec(compile(_ast.Module(body=[fn], type_ignores=[]),
                 ref, "exec"), ns)
    self_ = types.SimpleNamespace(fairness_timeout=600.0)
    for wait in [0.0, 1.0, 599.0, 600.0, 600.5, 601.0, 10_000.0]:
        for retry in [0, 1, 2, 5]:
            want = ns["_get_priority_score"](self_, wait, retry)
            got = (-wait if wait > 600.0 else float(retry))
            assert got == want, (wait, retry, got, want)
