"""session: dirs that outlive their call are removed at exit, and the
driver skips PySpark's per-call call-site capture."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.errors import AnalysisException

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_temp_dir_is_removed_at_exit(tmp_path):
    code = ("from crawl4ai_spark.session import temp_dir\n"
            "d = temp_dir('c4as_t_')\n"
            "open(d + '/f', 'w').close()\n"
            "print(d)\n")
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": REPO, "TMPDIR": str(tmp_path)},
        check=True, timeout=120)
    d = out.stdout.strip()
    assert os.path.dirname(d) == str(tmp_path)
    assert not os.path.exists(d)
    assert os.listdir(tmp_path) == []


def test_no_call_site_capture(spark):
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    from pyspark.errors.utils import is_debugging_enabled

    spark.range(1).select("id")
    assert is_debugging_enabled() is False
    # the analysis error and its message stay
    with pytest.raises(AnalysisException, match="no_such_col"):
        spark.range(1).select("no_such_col")
