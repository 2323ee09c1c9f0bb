"""Session factory: master resolution must honor a spark-submit
--master (cluster deployment contract, SCALE.md §1) and only fall back
to local[$SPARK_GRAFT_CPUS] for plain python processes."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from fforma_spark.session import _default_shuffle_partitions


def test_default_shuffle_partitions_resolution():
    assert _default_shuffle_partitions("local[8]", 32) == 8
    assert _default_shuffle_partitions("local[*]", 32) == 32
    assert _default_shuffle_partitions("yarn", 16) == 16
    assert _default_shuffle_partitions("spark://host:7077", 32) == 32
    assert _default_shuffle_partitions("k8s://https://host", 12) == 12
    # local[N,maxFailures] / local[*,F] retry forms must parse too
    assert _default_shuffle_partitions("local[8,3]", 32) == 8
    assert _default_shuffle_partitions("local[*,2]", 32) == 32


def test_get_spark_does_not_force_master_under_submit():
    """With the py4j gateway env present (how spark-submit launches
    python), get_spark must NOT inject a local master — the submitted
    one wins. Verified without a JVM: the builder's options map must
    lack spark.master in submit mode and carry local[N] otherwise."""
    code = """
import os, sys
os.environ["SPARK_GRAFT_CPUS"] = "7"
mode = sys.argv[1]
if mode == "submit":
    os.environ["PYSPARK_GATEWAY_PORT"] = "59999"
    os.environ["PYSPARK_GATEWAY_SECRET"] = "x"
else:
    os.environ.pop("PYSPARK_GATEWAY_PORT", None)

# intercept at the builder: record option writes, stop before JVM
from pyspark.sql import SparkSession
captured = {}
class FakeBuilder:
    def master(self, m): captured["master"] = m; return self
    def appName(self, a): return self
    def config(self, k, v=None): captured[k] = v; return self
    def getOrCreate(self): raise SystemExit(0)
import fforma_spark.session as S
S.SparkSession = type("S", (), {"builder": FakeBuilder()})
try:
    S.get_spark("probe")
except SystemExit:
    pass
print("MASTER=" + captured.get("master", "ABSENT"))
"""
    for mode, want in (("submit", "MASTER=ABSENT"), ("plain", "MASTER=local[7]")):
        out = subprocess.run(
            [sys.executable, "-c", code, mode],
            capture_output=True,
            text=True,
            check=True,
        )
        assert want in out.stdout, (mode, out.stdout, out.stderr)


def test_host_sized_defaults_and_overrides(monkeypatch):
    """Without SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM the session
    takes nproc task slots and a heap sized from MemAvailable (1g to
    16g); set, the variables win. Checked at the builder, no JVM."""
    import os

    import fforma_spark.session as S

    captured = {}

    class FakeBuilder:
        def master(self, m):
            captured["master"] = m
            return self

        def appName(self, a):
            return self

        def config(self, k, v=None):
            captured[k] = v
            return self

        def getOrCreate(self):
            raise RuntimeError("builder only")

    fake_session = type("S", (), {"builder": FakeBuilder()})
    monkeypatch.setattr(S, "SparkSession", fake_session)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.delenv(var, raising=False)

    def build():
        captured.clear()
        with pytest.raises(RuntimeError, match="builder only"):
            S.get_spark("probe")
        return captured["master"], captured["spark.driver.memory"]

    master, mem = build()
    assert master == f"local[{len(os.sched_getaffinity(0))}]"
    assert mem == S.default_driver_mem()
    assert mem.endswith("g") and 1 <= int(mem[:-1]) <= 16
    assert captured["spark.driver.extraJavaOptions"].startswith(f"-Xms{mem} ")

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert build() == ("local[3]", "2g")


def test_shuffle_guard_never_clobbers_user_runtime_value(spark):
    """r4 ADVICE fix: the auto-default marker stores the value it set,
    so a user's later explicit runtime value (spark.conf.set or
    get_spark(shuffle_partitions=...)) survives subsequent
    get_spark(None) calls; only the stock default or our own last
    auto-set value is overwritten."""
    from fforma_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    marker = "spark.fforma.autoShufflePartitions"
    saved_val = spark.conf.get(key)
    saved_marker = spark.conf.get(marker, "")
    try:
        # user sets an explicit value directly on the runtime conf
        spark.conf.set(key, "13")
        spark.conf.set(marker, "")  # no prior auto-set
        get_spark("fforma_spark_tests")
        assert spark.conf.get(key) == "13"

        # an explicit get_spark(shuffle_partitions=...) also survives
        get_spark("fforma_spark_tests", shuffle_partitions=14)
        assert spark.conf.get(key) == "14"
        get_spark("fforma_spark_tests")
        assert spark.conf.get(key) == "14"

        # this session was CREATED with an explicit shuffle_partitions
        # (context conf), so the auto-resolve branch must never fire —
        # even when the marker claims the current value was auto-set
        spark.conf.set(key, "17")
        spark.conf.set(marker, "17")
        get_spark("fforma_spark_tests")
        assert spark.conf.get(key) == "17"
    finally:
        spark.conf.set(key, saved_val)
        spark.conf.set(marker, saved_marker)


def test_session_builds_columns_without_call_sites():
    """A get_spark session turns off PySpark's per-call call-site
    capture: Column and DataFrame calls leave IPython unimported (the
    capture tries ``import IPython`` on its first call). Turned back on
    through extra_conf, as the get_spark docstring says, the same calls
    import it."""
    pytest.importorskip("IPython")
    code = """
import sys
from fforma_spark.session import NO_CALL_SITES, get_spark
from pyspark.sql import functions as F
[key] = NO_CALL_SITES
conf = {key: sys.argv[1]} if sys.argv[1:] else None
spark = get_spark("probe", master="local[1]", extra_conf=conf)
df = spark.range(6).select((F.col("id") + F.lit(1)).alias("x"))
df = df.filter(F.col("x") > 2).groupBy((F.col("x") % 2).alias("k")).count()
print("CONF=" + spark.conf.get(key))
print("ROWS=%d" % df.count())
print("IPYTHON=%s" % ("IPython" in sys.modules))
spark.stop()
"""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    for argv, want in (
        ([], {"CONF=false", "ROWS=2", "IPYTHON=False"}),
        (["true"], {"CONF=true", "ROWS=2", "IPYTHON=True"}),
    ):
        out = subprocess.run(
            [sys.executable, "-c", code, *argv],
            capture_output=True,
            text=True,
            env=env,
            timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert want <= set(out.stdout.split()), (argv, out.stdout)


def test_session_codegen_cache_holds_warm_working_set():
    """A get_spark session keeps compiled codegen classes across passes
    whose working set exceeds Spark's stock 100-entry cache: a union of
    150 distinct projections compiles its classes on the first collect
    and none on the second. With the stock cache LRU evicts each class
    before its next use, and every collect compiles them all again."""
    code = """
import functools
from fforma_spark.session import CODEGEN_CACHE, codegen_compiles, get_spark
spark = get_spark("probe", master="local[1]")
[(key, size)] = CODEGEN_CACHE.items()
parts = [
    spark.range(2).selectExpr(f"id * {i + 2} + {i} AS x") for i in range(150)
]
df = functools.reduce(lambda a, b: a.unionAll(b), parts)
for r in range(2):
    before = codegen_compiles(spark)
    rows = len(df.collect())
    print("PASS%d=%d,%d" % (r, rows, codegen_compiles(spark) - before))
print("CONF=" + str(spark.conf.get(key) == size))
spark.stop()
"""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = dict(
        ln.split("=", 1) for ln in out.stdout.split() if "=" in ln
    )
    assert got["CONF"] == "True", out.stdout
    rows, first = map(int, got["PASS0"].split(","))
    assert rows == 300 and first >= 150, out.stdout
    assert got["PASS1"] == "300,0", out.stdout


@pytest.mark.parametrize(
    "job, argv",
    [
        ("jobs/fforma_pipeline.py", ["--output", "unused"]),
        ("jobs/build_tiers.py", ["--output", "unused"]),
    ],
)
def test_jobs_build_sessions_without_call_sites(job, argv):
    """The spark-submit jobs build their own session; it carries the
    same conf as get_spark: NO_CALL_SITES and the rest of
    SESSION_CONF. Checked at the builder, no JVM."""
    code = """
import json, runpy, sys
import pyspark.sql
captured = {}
class FakeBuilder:
    def appName(self, a): return self
    def master(self, m): return self
    def config(self, key=None, value=None, conf=None, *, map=None):
        captured.update(map or {key: value}); return self
    def getOrCreate(self): raise SystemExit(0)
pyspark.sql.SparkSession = type("S", (), {"builder": FakeBuilder()})
sys.argv = sys.argv[1:]
try:
    runpy.run_path(sys.argv[0], run_name="__main__")
except SystemExit:
    pass
print("CONF=" + json.dumps(captured))
"""
    from fforma_spark.session import NO_CALL_SITES, SESSION_CONF

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code, job, *argv],
        capture_output=True,
        text=True,
        cwd=repo,
        env={**os.environ, "PYTHONPATH": repo},
        timeout=120,
    )
    line = next(
        (ln for ln in out.stdout.splitlines() if ln.startswith("CONF=")), None
    )
    assert line is not None, out.stderr[-2000:]
    captured = json.loads(line[len("CONF="):])
    assert NO_CALL_SITES.items() <= captured.items(), captured
    assert SESSION_CONF.items() <= captured.items(), captured
