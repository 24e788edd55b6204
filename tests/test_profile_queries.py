"""tools/profile_queries.py end to end: plans, the span table and the
per-pass counters of one small leaf, in a subprocess of its own."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="sf0.001 fixture tables absent")
def test_profile_queries_smoke(tmp_path):
    env = {"SPARK_GRAFT_DRIVER_MEM": "1g", **os.environ}
    cmd = [sys.executable, os.path.join(REPO, "tools", "profile_queries.py"), "--sf", SF_DIR,
           "--passes", "2", "--plans", str(tmp_path), "min_len_filter"]
    out = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "== Physical Plan ==" in (tmp_path / "min_len_filter.txt").read_text()
    table = out.stdout.split("\n\n")[0].splitlines()
    jobs = table[0].split().index("jobs")
    for i in (1, 2):
        (row,) = [line.split() for line in table if line.startswith(f"min_len_filter#{i} ")]
        assert int(row[jobs]) >= 1, row
    counters = [line.split()[0] for line in out.stdout.split("\n\n")[1].splitlines()[1:]]
    assert counters == ["min_len_filter#1", "min_len_filter#2"]
