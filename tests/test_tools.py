"""The kept measurement entry points still load, and the one mass-round
definition still runs: bench.py's crawl_mass_round and the spark-submit
scaling job (tools/cluster_scaling.py) both call bench_crawl_mass, so a
drift between them shows up here."""

from __future__ import annotations

import glob
import os
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


def test_mass_round_processes_whole_frontier(spark):
    from bench import bench_crawl_mass

    wall, urls = bench_crawl_mass(spark, SF, replicas=1)
    assert wall > 0
    assert urls == spark.read.parquet(f"{SF}/documents.parquet").count()
