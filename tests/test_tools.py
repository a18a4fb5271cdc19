"""The kept measurement entry points still load, and the one mass-round
definition still runs: bench.py's crawl_mass_round and the spark-submit
scaling job (tools/cluster_scaling.py) both call bench_crawl_mass, so a
drift between them shows up here. A static check keeps every
CrawlConfig field read by the package, so a knob whose last reader is
deleted fails here instead of lingering."""

from __future__ import annotations

import ast
import glob
import os
import re
import subprocess

from test_http_fetch import SF

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_entry_points_compile():
    paths = glob.glob(os.path.join(ROOT, "tools", "*.py"))
    paths.append(os.path.join(ROOT, "bench.py"))
    for path in paths:
        with open(path) as f:
            compile(f.read(), path, "exec")
    subprocess.run(["bash", "-n", os.path.join(ROOT, "tools", "cluster_scaling.sh")],
                   check=True)


def test_every_crawl_config_field_is_read():
    pkg = os.path.join(ROOT, "crawl4ai_spark")
    with open(os.path.join(pkg, "engine", "frontier.py")) as f:
        tree = ast.parse(f.read())
    cls = next(n for n in tree.body
               if isinstance(n, ast.ClassDef) and n.name == "CrawlConfig")
    fields = {n.target.id for n in cls.body if isinstance(n, ast.AnnAssign)}
    reads = set()
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path) as f:
            # cfg.<field> also matches self.cfg.<field>
            reads.update(re.findall(r"\bcfg\.(\w+)", f.read()))
    assert fields, "no CrawlConfig fields parsed"
    assert not fields - reads, f"CrawlConfig fields never read: {sorted(fields - reads)}"


def test_mass_round_processes_whole_frontier(spark):
    from bench import bench_crawl_mass

    wall, urls = bench_crawl_mass(spark, SF, replicas=1)
    assert wall > 0
    assert urls == spark.read.parquet(f"{SF}/documents.parquet").count()
