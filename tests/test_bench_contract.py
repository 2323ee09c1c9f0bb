"""``python bench.py`` prints the headline benchmark record: one JSON
line on stdout whatever else the run logs, with a fixed set of keys."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEADLINE_KEYS = {
    "metric",
    "value",
    "unit",
    "queries",
    "rep_times",
    "sf",
    "master",
    "effective_conf",
    "points_per_sec",
    "comp_bytes_per_sec",
    "counters",
    "plan_fingerprints",
}


def test_bench_prints_one_headline_json_line(tmp_path):
    # run from another directory with the inherited PYTHONPATH: the
    # Python workers find the package only through the zip bench.py ships
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": SF_DIR,
        "SPARK_GRAFT_BENCH_REPS": "1",
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    env.pop("SPARK_GRAFT_BENCH_MASTER", None)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert len(lines) == 1, out.stdout
    got = json.loads(lines[0])
    assert set(got) == HEADLINE_KEYS
    assert got["master"] == "local[2]"
    assert set(got["queries"]) == set(got["plan_fingerprints"])
