"""session.temp_dir: dirs that outlive their call are removed at exit."""

from __future__ import annotations

import os
import subprocess
import sys

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
