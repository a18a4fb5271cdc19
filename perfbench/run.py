"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload deep_crawl --seed 1 --seconds 5 --trace 0

Runs one workload (perfbench/workloads.py) on ``local[nproc]`` in a
single process, from the root of a checkout of this repository:

1. set-up (``setup_s``): Spark session, the seeded corpus built and
   cached, the seed table materialised, then one full untimed pass of
   the workload, so the timed pass starts past the JVM warm-up curve;
2. timed section: crawl passes, each in a fresh warehouse, until
   ``--seconds`` have elapsed (at least one);
3. every pass's ``pages`` table is checked against the pure-Python
   oracle (perfbench/oracle.py).

With ``--trace 0`` the result carries the end-to-end metrics (medians
over the timed passes). With ``--trace 1`` the run enables Spark's
event log and runs three passes after the warm-up: untraced, traced
with every layer wrapped from outside (perfbench/spans.py), untraced
again; it reports per-layer metrics (perfbench/layers.py), and spans
and per-layer self time go to
``.perfbench/trace/<workload>-seed<seed>.json``.

The last line of standard output is the result: ``{"correct",
"attempted", "failed", "metrics"}``. The line before it (prefixed
``perfbench-record``) holds the pinned session settings, the host-state
record, the workload record and every sample. Scratch files live under
``.perfbench/work/<pid>`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"

sys.path.insert(0, HERE)

import procstat  # noqa: E402
from oracle import check_pages, url_of  # noqa: E402
from workloads import N_DOCS, WORKLOADS, docs_frame, page_texts  # noqa: E402

END_TO_END = {
    "setup_s": "s", "crawl_s": "s", "pages_per_s": "1/s",
    "round_s_p50": "s", "cpu_s_per_kpage": "s", "peak_rss_mb": "MB",
    "warehouse_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_conf(work: str, trace: bool) -> dict:
    """Every session setting the numbers depend on, pinned."""
    nproc = len(os.sched_getaffinity(0))
    conf = {
        "spark.master": f"local[{nproc}]",
        "spark.sql.shuffle.partitions": str(nproc),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # keep the JVM's scratch files inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.work = work
        self.texts = page_texts(args.seed)
        self.checks: list[dict] = []
        self.timings: dict[str, float] = {}
        self.root_out = os.path.join(ROOT, ".perfbench")
        self.trace_check = None

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        from crawl4ai_spark.corpus.webgen import build_corpus
        from crawl4ai_spark.session import build_session

        t0 = time.monotonic()
        self.conf = session_conf(self.work, self.args.trace == 1)
        master = self.conf["spark.master"]
        self.spark = build_session(
            app_name="perfbench", master=master,
            shuffle_partitions=int(self.conf["spark.sql.shuffle.partitions"]),
            extra_conf={k: v for k, v in self.conf.items()
                        if k != "spark.master"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.monotonic()
        self.timings["session.build_s"] = t1 - t0

        docs = docs_frame(self.spark, self.texts)
        self.corpus = build_corpus(docs, n_docs=N_DOCS).cache()
        self.corpus.count()
        self.seed_df = None
        if self.w.seed_table:
            self.seed_df = self.spark.createDataFrame(
                [(url_of(i),) for i in self.w.seeds], "url string").persist()
            self.seed_df.count()
        self.timings["corpus.build_s"] = time.monotonic() - t1

    def engine(self, tag: str):
        from crawl4ai_spark.engine.fetch import CorpusFetcher
        from crawl4ai_spark.engine.frontier import CrawlEngine
        from crawl4ai_spark.engine.tables import Warehouse

        wh = Warehouse(tempfile.mkdtemp(prefix=f"wh-{tag}-",
                                        dir=self.work))
        # marks[0]: seed init returned; marks[1:]: each round's commit
        marks: list[float] = []
        commit_round = wh.commit_round

        def timed_commit(entry):
            commit_round(entry)
            marks.append(time.monotonic())

        wh.commit_round = timed_commit
        eng = CrawlEngine(self.spark, wh, CorpusFetcher(self.corpus),
                          self.w.crawl_config())
        # init_from_seeds delegates to init_from_seed_df, so both seed
        # forms end here
        init = eng.init_from_seed_df

        def timed_init(*a, **kw):
            init(*a, **kw)
            marks.append(time.monotonic())

        eng.init_from_seed_df = timed_init
        return eng, marks

    def crawl(self, eng) -> dict:
        if self.seed_df is not None:
            return eng.run(seed_df=self.seed_df)
        return eng.run([url_of(s) for s in self.w.seeds])

    def check(self, eng) -> dict:
        c = check_pages(eng.wh.root, list(self.w.seeds), N_DOCS,
                        self.w.max_depth, self.w.host_budget,
                        lambda i: self.texts[i])
        self.checks.append(c)
        return c

    def one_pass(self, tag: str, tracer=None) -> dict:
        """One crawl in a fresh warehouse, measured and checked."""
        eng, marks = self.engine(tag)
        if tracer is not None:
            tracer.instrument(eng)
        with procstat.TreeSampler(os.getpid()) as tree:
            t0 = time.monotonic()
            if tracer is not None:
                with tracer.crawl():
                    stats = self.crawl(eng)
            else:
                stats = self.crawl(eng)
            crawl_s = time.monotonic() - t0
        if tracer is not None:
            tracer.unwrap_all()
        # a round runs from the end of seed init (round 0) or the
        # previous commit to its own commit
        rounds = [b - a for a, b in zip(marks, marks[1:])]
        pages = stats["pages_crawled"]
        sample = {
            "pass": tag, "crawl_s": crawl_s, "pages": pages,
            "init_s": marks[0] - t0,
            "rounds": stats["rounds"], "round_s": rounds,
            "pages_per_s": pages / crawl_s,
            "cpu_s": tree.cpu_s, "cpu_s_per_kpage": tree.cpu_s / (pages / 1000),
            "peak_rss_mb": tree.peak_rss_bytes / 1e6,
            "warehouse_mb": dir_bytes(eng.wh.root) / 1e6,
            "check": self.check(eng),
        }
        sample["engine"] = eng
        return sample

    # -- runs --------------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        args = self.args
        host0 = procstat.host_state()
        self.setup()
        self.one_pass("warmup").pop("engine")
        setup_s = procstat.process_age_s(os.getpid())

        steal0 = procstat.steal_s()
        t0 = time.monotonic()
        timed = []
        while not timed or time.monotonic() - t0 < args.seconds:
            s = self.one_pass(f"timed{len(timed)}")
            s.pop("engine")
            timed.append(s)
            if args.trace:
                break  # one untraced pass is the overhead baseline
        timed_s = time.monotonic() - t0
        host = {
            "nproc": host0["nproc"],
            "loadavg_start": host0["loadavg"],
            "loadavg_end": list(os.getloadavg()),
            "steal_s_timed": procstat.steal_s() - steal0,
            "timed_section_s": timed_s,
        }

        def med(key):
            return statistics.median(s[key] for s in timed)

        end_to_end = {
            "setup_s": setup_s,
            "crawl_s": med("crawl_s"),
            "pages_per_s": med("pages_per_s"),
            "round_s_p50": statistics.median(
                r for s in timed for r in s["round_s"]),
            "cpu_s_per_kpage": med("cpu_s_per_kpage"),
            "peak_rss_mb": med("peak_rss_mb"),
            "warehouse_mb": med("warehouse_mb"),
        }
        if args.trace:
            from layers import traced_metrics

            metrics = traced_metrics(self, timed[0])
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in end_to_end.items()}
        attempted = sum(c["attempted"] for c in self.checks)
        failed = sum(c["failed"] for c in self.checks)
        record = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "workload_record": self.w.record(),
            "session": self.conf, "host": host,
            "setup": {**self.timings, "setup_s": setup_s},
            "end_to_end": end_to_end,
            "rounds": timed[0]["rounds"], "pages": timed[0]["pages"],
            "failed_frac": failed / attempted,
            "checks": self.checks, "trace_check": self.trace_check,
            "samples": timed,
        }
        result = {"correct": failed == 0,
                  "attempted": attempted,
                  "failed": failed, "metrics": metrics}
        return record, result

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers have
        exited."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        tree = procstat.process_tree(os.getpid())[1:]
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # the JVM's Python workers are re-parented when it exits
        deadline = time.monotonic() + 30
        while any(map(procstat.alive, tree)):
            if time.monotonic() > deadline:
                for p in filter(procstat.alive, tree):
                    os.kill(p, signal.SIGKILL)
            time.sleep(0.2)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", "work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file of this process, the JVM and the Python workers
    # stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = os.environ["TMPDIR"]
    sys.path.insert(0, ROOT)
    bench = Bench(args, work)
    try:
        import crawl4ai_spark  # noqa: F401  (fails fast outside a checkout)

        record, result = bench.run()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench-record " + json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
