"""A warm PySpark worker does not re-read unchanged zip archives
(``fforma_spark.zipcache``): ``importlib.invalidate_caches()``, which
PySpark calls before every task, makes no directory read of an archive
whose file is unchanged, and a module added to a changed archive still
imports. Outside a PySpark worker, and on CPython >= 3.13, nothing is
replaced."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ARCHIVE_CHECK = """
import importlib, json, os, sys, zipfile, zipimport

zpath = sys.argv[1]
with zipfile.ZipFile(zpath, "w") as z:
    z.writestr("zmod_a.py", "A = 1\\n")
sys.path.insert(0, zpath)
import zmod_a  # noqa: F401  (puts a zipimporter for the zip in the cache)

reads = []
_read = zipimport._read_directory
def counting(path):
    reads.append(path)
    return _read(path)
zipimport._read_directory = counting

def reads_across_invalidate():
    del reads[:]
    importlib.invalidate_caches()
    return reads.count(zpath)

out = {"before": reads_across_invalidate()}
if sys.argv[2] == "worker":
    import pyspark.worker  # noqa: F401
if sys.argv[3] == "py313":
    sys.version_info = (3, 13, 0, "final", 0)
sys.path.insert(0, sys.argv[4])
import fforma_spark  # noqa: F401  (installs the check where it applies)
out["installed"] = (
    zipimport.zipimporter.invalidate_caches.__module__ == "fforma_spark.zipcache"
)
out["unchanged"] = reads_across_invalidate()
with zipfile.ZipFile(zpath + ".tmp", "w") as z:
    z.writestr("zmod_a.py", "A = 1\\n")
    z.writestr("zmod_b.py", "B = 2\\n")
os.replace(zpath + ".tmp", zpath)
out["changed"] = reads_across_invalidate()
import zmod_b
out["b"] = zmod_b.B
out["again"] = reads_across_invalidate()
print(json.dumps(out))
"""


def _archive_check(tmp_path, worker: bool, py313: bool = False) -> dict:
    out = subprocess.run(
        [
            sys.executable, "-c", _ARCHIVE_CHECK, str(tmp_path / "z.zip"),
            "worker" if worker else "driver", "py313" if py313 else "-", REPO,
        ],
        capture_output=True, text=True, timeout=120, check=True,
    )
    return json.loads(out.stdout.splitlines()[-1])


def test_worker_skips_unchanged_archive_and_rereads_changed(tmp_path):
    got = _archive_check(tmp_path, worker=True)
    # the count is live: before the check every invalidate reads the zip
    assert got["before"] == 1
    assert got["installed"]
    assert got["unchanged"] == 0
    assert got["changed"] == 1 and got["b"] == 2
    assert got["again"] == 0


def test_nothing_replaced_outside_a_worker_or_on_py313(tmp_path):
    for worker, py313 in ((False, False), (True, True)):
        got = _archive_check(tmp_path, worker=worker, py313=py313)
        assert not got["installed"], (worker, py313)
        assert got["unchanged"] == 1 and got["b"] == 2, (worker, py313)


_SPARK_CHECK = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from fforma_spark.session import get_spark, ship_package, warm_python_workers

spark = get_spark("zipcache_check", master="local[2]")
ship_package(spark)
warm_python_workers(spark)

def probe(it):
    # defined here, so it reaches the worker by value and imports
    # nothing from the package itself
    import os, zipimport
    import pandas as pd
    for _ in it:
        pass
    installed = (
        zipimport.zipimporter.invalidate_caches.__module__
        == "fforma_spark.zipcache"
    )
    counted = getattr(zipimport, "_probe_reads", None)
    if counted is None:
        zipimport._probe_reads = counted = []
        read = zipimport._read_directory
        def counting(path):
            counted.append(path)
            return read(path)
        zipimport._read_directory = counting
        reads = -1
    else:
        reads = len(counted)
        del counted[:]
    yield pd.DataFrame(
        {"pid": [os.getpid()], "installed": [installed], "reads": [reads]}
    )

def run():
    df = spark.range(0, 2, 1, 2).mapInPandas(
        probe, "pid long, installed boolean, reads long"
    )
    return [r.asDict() for r in df.collect()]

first = run()

def job(it):
    import fforma_spark  # noqa: F401
    yield from it

spark.range(0, 2, 1, 2).mapInPandas(job, "id long").count()
second = run()
print(json.dumps({"first": first, "second": second}))
spark.stop()
"""


def test_warm_workers_make_no_archive_reads_between_jobs(tmp_path):
    """With the package shipped as a zip (``ship_package``), the pooled
    workers have the check straight after ``warm_python_workers``, and
    the tasks of later jobs make no directory read of the unchanged
    archives: the probe counts reads from its first task in a worker
    to its next one there, across a job whose UDF imports the package."""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", _SPARK_CHECK, REPO],
        cwd=tmp_path, capture_output=True, text=True, timeout=600, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.splitlines()[-1])
    assert all(r["installed"] for r in got["first"] + got["second"]), got
    seen = {r["pid"] for r in got["first"]}
    reused = [r for r in got["second"] if r["pid"] in seen]
    assert reused, got
    assert all(r["reads"] == 0 for r in reused), got
