"""Round-3 two-cluster-size scaling bench (north_rule evidence).

Runs each phase at local[8] and local[32] over IDENTICAL stored
parquet inputs (fresh JVM per leg via spark-submit --py-files, the
production invocation) and records throughput at both levels plus
scaling efficiency (t8/t32)/4 into BENCH_SCALING_r3.json.

Phases:
  tiers   — jobs/build_tiers.py on the stored 1M-doc / ~205M-point
            sequences table (--compress --features): the round-2
            headline, re-measured on this round's code.
  dedup1m — jobs/dedup_pipeline.py (exact, minhash r=2, n-gram
            inverted index) on a stored 1M-doc documents corpus: the
            near-linear banded ops at full scale.
  dedup50k— jobs/dedup_pipeline.py (minhash r=1, simhash64 Hamming)
            on a stored 50k-doc corpus: the candidate-volume-heavy
            variants, sized so the r=1 blowup is measured, not
            extrapolated.
  ann1m   — jobs/ann_pipeline.py on stored 1M × 64-dim clustered
            embeddings: brute-force oracle + LSH + IVF (seed and
            1-Lloyd) with recall@k.

Usage: python scripts/bench_scaling_r3.py [--skip tiers,...] [--out F]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from fforma_spark.session import default_driver_mem  # noqa: E402

ZIP = "/tmp/fforma_spark_bench.zip"


def _submit_bin() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def _run_leg(job: str, extra: list[str], cpus: int) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    cmd = [
        _submit_bin(),
        "--master",
        f"local[{cpus}]",
        # single-JVM local mode: the driver heap IS the executor heap —
        # the spark-submit default (1g) OOMs the 32-thread leg on whale
        # token arrays. Mirror fforma_spark.session.get_spark's tuned
        # local-mode JVM exactly (fixed pre-touched heap, ParallelGC,
        # no shuffle-block mmap): without it the 32-thread leg loses
        # ~2x to mmap_lock contention and GC region churn, corrupting
        # the scaling-efficiency measurement.
        "--driver-memory",
        mem,
        "--conf",
        "spark.driver.extraJavaOptions="
        f"-Xms{mem} "
        "-XX:+AlwaysPreTouch -XX:+UseParallelGC",
        "--conf",
        "spark.storage.memoryMapThreshold=2g",
        "--py-files",
        ZIP,
        os.path.join(REPO, job),
        *extra,
    ]
    t0 = time.time()
    proc = subprocess.run(
        cmd, capture_output=True, text=True, env=env, cwd=REPO, check=False
    )
    wall = round(time.time() - t0, 3)
    line = None
    for ln in reversed(proc.stdout.strip().splitlines()):
        ln = ln.strip()
        if ln.startswith("{"):
            line = ln
            break
    if proc.returncode != 0 or line is None:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"leg failed: {job} local[{cpus}] rc={proc.returncode}")
    parsed = json.loads(line)
    parsed["_leg_wall_sec"] = wall
    return parsed


def _store(job: str, extra: list[str]) -> None:
    out = _run_leg(job, extra, cpus=32)
    print(json.dumps(out), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_SCALING_r3.json"))
    ap.add_argument("--skip", default="")
    ap.add_argument("--docs1m", type=int, default=1_000_000)
    ap.add_argument("--docs50k", type=int, default=50_000)
    ap.add_argument("--vecs1m", type=int, default=1_000_000)
    ap.add_argument("--seq1m", type=int, default=1_000_000)
    args = ap.parse_args()
    skip = set(args.skip.split(",")) if args.skip else set()

    subprocess.run(
        ["zip", "-qr", ZIP, "fforma_spark"], cwd=REPO, check=True
    )

    stores = {
        "docs1m": f"/tmp/bench_docs_{args.docs1m}",
        "docs50k": f"/tmp/bench_docs_{args.docs50k}",
        "emb1m": f"/tmp/bench_emb_{args.vecs1m}",
        "seq1m": f"/tmp/bench_seq_{args.seq1m}",
    }
    if not os.path.exists(stores["docs1m"]) and "dedup1m" not in skip:
        _store("jobs/dedup_pipeline.py",
               ["--synth", str(args.docs1m), "--store", stores["docs1m"]])
    if not os.path.exists(stores["docs50k"]) and "dedup50k" not in skip:
        _store("jobs/dedup_pipeline.py",
               ["--synth", str(args.docs50k), "--store", stores["docs50k"]])
    if not os.path.exists(stores["emb1m"]) and "ann1m" not in skip:
        _store("jobs/ann_pipeline.py",
               ["--synth", str(args.vecs1m), "--store", stores["emb1m"]])
    if not os.path.exists(stores["seq1m"]) and "tiers" not in skip:
        _store("jobs/build_tiers.py",
               ["--synth", str(args.seq1m), "--store-input", stores["seq1m"]])

    phases = {
        "tiers": (
            "jobs/build_tiers.py",
            ["--input", stores["seq1m"], "--compress", "--features",
             "--output", "/tmp/bench_tiers_r3_{cpus}"],
        ),
        "dedup1m": (
            "jobs/dedup_pipeline.py",
            ["--input", stores["docs1m"], "--ops", "exact,minhash_r2,ngram"],
        ),
        "dedup50k": (
            "jobs/dedup_pipeline.py",
            ["--input", stores["docs50k"], "--ops", "minhash,simhash_hamming"],
        ),
        "ann1m": (
            "jobs/ann_pipeline.py",
            ["--input", stores["emb1m"]],
        ),
    }

    result: dict = {"protocol": "identical stored input per phase, fresh JVM "
                    "per leg (spark-submit --py-files), local[8] then "
                    "local[32], 20 s cooldown between legs", "phases": {}}
    for name, (job, extra) in phases.items():
        if name in skip:
            continue
        detail = {}
        for cpus in (8, 32):
            leg_extra = [a.format(cpus=cpus) for a in extra]
            # tier output dirs are per-level so resume never crosses legs
            if name == "tiers":
                out_dir = f"/tmp/bench_tiers_r3_{cpus}"
                subprocess.run(["rm", "-rf", out_dir], check=False)
            detail[str(cpus)] = _run_leg(job, leg_extra, cpus)
            print(f"{name} local[{cpus}]: {detail[str(cpus)].get('value')}s",
                  flush=True)
            time.sleep(20)
        t8, t32 = detail["8"]["value"], detail["32"]["value"]
        result["phases"][name] = {
            "local8_sec": t8,
            "local32_sec": t32,
            "speedup_8_to_32": round(t8 / t32, 3) if t32 else None,
            "scaling_efficiency": round(t8 / t32 / 4.0, 3) if t32 else None,
            "detail": detail,
        }
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    print(json.dumps({k: {kk: vv for kk, vv in v.items() if kk != "detail"}
                      for k, v in result["phases"].items()}, indent=1))


if __name__ == "__main__":
    main()
