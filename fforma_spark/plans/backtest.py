"""Production rolling-origin ensemble backtest with t−1/t pairing.

Reference flow (fforma/experiments/business/ensemble_forecasts.py:64-158):
for each consecutive cutoff pair (t−1, t), fit ensembling weights on
the VALIDATION errors at t−1 (forecasts made at t−1 scored against
[t−1, t−1+h)) and apply them to the TEST forecasts made at t; one
artifact per cutoff, skip-if-exists resume (:85-87).

Two surfaces here:

* :func:`ensemble_backtest` — the whole multi-cutoff flow as ONE
  Catalyst plan (cutoffs are a broadcast dim table, never a driver
  loop), with closed-form base models (naive / seasonal-naive / drift /
  average) and softmin weights, so the DuckDB oracle can verify every
  number end-to-end.
* :func:`materialize_backtest` — the checkpoint-manifested production
  job: one manifest per test cutoff under ``base_dir`` (same
  fingerprint/resume contract as the tier ladder,
  fforma_spark/plans/checkpoint.py), so a killed 91-cutoff run resumes
  at the first unfinished cutoff.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, functions as F

from fforma_spark.util import sql_round6, stable_round6

MODELS = ("naive", "snaive", "rwd", "avg")


def cutoff_keys(panel: DataFrame, cutoffs: list[int], h: int) -> DataFrame:
    """(doc_id, cutoff) for every doc with a full horizon after the
    cutoff: per-doc max(pos) crossed with a broadcast cutoffs dim."""
    cuts = panel.sparkSession.createDataFrame(
        [(c,) for c in cutoffs], "cutoff int"
    )
    mx = panel.groupBy("doc_id").agg(F.max("pos").alias("mx"))
    return (
        mx.crossJoin(F.broadcast(cuts))
        .filter(F.col("mx") >= F.col("cutoff") + h - 1)
        .select("doc_id", "cutoff")
    )


def closed_form_stats(train: DataFrame, s: int) -> DataFrame:
    """Per (doc_id, cutoff) of a train split (doc_id, cutoff, pos, val)
    whose positions run 0..cutoff−1: the scalars the closed-form models
    read, only where the split has > s points. ``tail`` holds the last
    s train values, oldest first."""
    back = F.col("cutoff") - F.col("pos")  # 1 at the last train point
    return (
        train.groupBy("doc_id", "cutoff")
        .agg(
            F.count("*").alias("n_train"),
            (
                F.sum(F.col("val").cast("decimal(30,6)")).cast("double")
                / F.count("*")
            ).alias("avg_f"),
            F.max_by("val", "pos").alias("last_v"),
            F.min_by("val", "pos").alias("first_v"),
            F.array(
                *[F.max(F.when(back == s - k, F.col("val"))) for k in range(s)]
            ).alias("tail"),
        )
        .filter(F.col("n_train") > s)
    )


def closed_form_forecasts(stats: DataFrame, h: int) -> DataFrame:
    """(doc_id, cutoff, pos 0..h−1, <model>_f) from
    :func:`closed_form_stats` — the closed forms of
    fforma/base/_models.py:224-419, per cutoff."""
    grid = stats.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(h - 1))).alias("pos")
    )
    return grid.select(
        "doc_id",
        "cutoff",
        "pos",
        F.col("last_v").alias("naive_f"),
        F.col("tail")[F.col("pos") % F.size("tail")].alias("snaive_f"),
        (
            F.col("last_v")
            + (F.col("last_v") - F.col("first_v"))
            / (F.col("n_train") - 1)
            * (F.col("pos") + 1)
        ).alias("rwd_f"),
        "avg_f",
    )


def _truth(panel: DataFrame, stats: DataFrame, h: int) -> DataFrame:
    keys = stats.select("doc_id", "cutoff")
    return (
        panel.join(keys, "doc_id")
        .filter(
            (F.col("pos") >= F.col("cutoff"))
            & (F.col("pos") < F.col("cutoff") + h)
        )
        .select(
            "doc_id",
            "cutoff",
            (F.col("pos") - F.col("cutoff")).alias("pos"),
            F.col("val").alias("y"),
        )
    )


def _errors(fc: DataFrame, truth: DataFrame) -> DataFrame:
    """Per (doc_id, cutoff): sMAPE of every model."""
    j = truth.join(fc, ["doc_id", "cutoff", "pos"])
    aggs = []
    for m in MODELS:
        e = F.abs(F.col("y") - F.col(f"{m}_f"))
        sc = F.abs(F.col("y")) + F.abs(F.col(f"{m}_f"))
        aggs.append(
            (200 * F.avg(F.when(sc != 0, e / sc))).alias(f"{m}_err")
        )
    return j.groupBy("doc_id", "cutoff").agg(*aggs)


def _softmin(err: DataFrame) -> DataFrame:
    """softmax(−err) per (doc_id, cutoff) — MetaLearnerSoftMin
    (fforma/meta_learner/_basics.py:66-103), row-max stabilized."""
    neg = [(-F.coalesce(F.col(f"{m}_err"), F.lit(200.0))) for m in MODELS]
    mx = F.greatest(*neg)
    exps = [F.exp(e - mx) for e in neg]
    tot = exps[0]
    for e in exps[1:]:
        tot = tot + e
    return err.select(
        "doc_id",
        "cutoff",
        *[(e / tot).alias(f"w_{m}") for m, e in zip(MODELS, exps)],
    )


def ensemble_backtest(
    panel: DataFrame, cutoffs: list[int], h: int, s: int
) -> DataFrame:
    """The full t−1/t backtest as one plan. For each consecutive
    cutoff pair, softmin weights fitted on validation errors at the
    EARLIER cutoff ensemble the forecasts at the LATER one. Returns
    one row per test cutoff: (cutoff, n_docs, softmin_smape,
    naive_smape)."""
    spark = panel.sparkSession
    train = panel.join(cutoff_keys(panel, cutoffs, h), "doc_id").filter(
        F.col("pos") < F.col("cutoff")
    )
    stats = closed_form_stats(train, s)
    fc = closed_form_forecasts(stats, h)
    truth = _truth(panel, stats, h)
    err = _errors(fc, truth)
    w = _softmin(err)
    pairs = spark.createDataFrame(
        list(zip(cutoffs[:-1], cutoffs[1:])), "val_cutoff int, test_cutoff int"
    )
    # t−1/t pairing: weights learned at val_cutoff, applied at test_cutoff
    w_paired = (
        w.withColumnRenamed("cutoff", "val_cutoff")
        .join(F.broadcast(pairs), "val_cutoff")
        .select(
            "doc_id",
            F.col("test_cutoff").alias("cutoff"),
            *[f"w_{m}" for m in MODELS],
        )
    )
    test_fc = fc.join(w_paired, ["doc_id", "cutoff"])
    y_hat = F.lit(0.0)
    for m in MODELS:
        y_hat = y_hat + F.col(f"w_{m}") * F.col(f"{m}_f")
    scored = truth.join(
        test_fc.withColumn("y_hat", y_hat).select(
            "doc_id", "cutoff", "pos", "y_hat", "naive_f"
        ),
        ["doc_id", "cutoff", "pos"],
    )
    e_ens = F.abs(F.col("y") - F.col("y_hat"))
    s_ens = F.abs(F.col("y")) + F.abs(F.col("y_hat"))
    e_nv = F.abs(F.col("y") - F.col("naive_f"))
    s_nv = F.abs(F.col("y")) + F.abs(F.col("naive_f"))
    per_doc = scored.groupBy("doc_id", "cutoff").agg(
        (200 * F.avg(F.when(s_ens != 0, e_ens / s_ens))).alias("sm_ens"),
        (200 * F.avg(F.when(s_nv != 0, e_nv / s_nv))).alias("sm_nv"),
    )
    return (
        per_doc.groupBy("cutoff")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            stable_round6(F.avg("sm_ens")).alias("softmin_smape"),
            stable_round6(F.avg("sm_nv")).alias("naive_smape"),
        )
    )


def ensemble_backtest_sql(
    panel_sql: str, cutoffs: list[int], h: int, s: int
) -> str:
    """DuckDB twin of :func:`ensemble_backtest`, expression-identical."""
    cuts = ", ".join(map(str, cutoffs))
    pairs = ", ".join(
        f"({a}, {b})" for a, b in zip(cutoffs[:-1], cutoffs[1:])
    )
    err_cols = []
    for m in MODELS:
        err_cols.append(
            f"200 * avg(CASE WHEN abs(y) + abs({m}_f) <> 0 "
            f"THEN abs(y - {m}_f) / (abs(y) + abs({m}_f)) END) AS {m}_err"
        )
    negs = {m: f"(-coalesce({m}_err, 200.0))" for m in MODELS}
    mx = "GREATEST(" + ", ".join(negs.values()) + ")"
    exps = {m: f"exp({negs[m]} - {mx})" for m in MODELS}
    tot = " + ".join(exps.values())
    w_cols = ", ".join(f"({exps[m]}) / ({tot}) AS w_{m}" for m in MODELS)
    y_hat = " + ".join(f"w_{m} * {m}_f" for m in MODELS)
    return f"""
    WITH panel AS ({panel_sql}),
    cuts AS (SELECT unnest([{cuts}]) AS cutoff),
    mx AS (SELECT doc_id, max(pos) AS mx FROM panel GROUP BY doc_id),
    ok AS (
        SELECT m.doc_id, c.cutoff FROM mx m JOIN cuts c
          ON m.mx >= c.cutoff + {h} - 1
    ),
    stats AS (
        SELECT p.doc_id, o.cutoff,
               count(*) AS n_train,
               CAST(sum(CAST(p.val AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_f,
               arg_max(p.val, p.pos) AS last_v,
               arg_min(p.val, p.pos) AS first_v
        FROM panel p JOIN ok o ON p.doc_id = o.doc_id AND p.pos < o.cutoff
        GROUP BY p.doc_id, o.cutoff
        HAVING count(*) > {s}
    ),
    grid AS (
        SELECT st.*, unnest(generate_series(0, {h} - 1)) AS pos FROM stats st
    ),
    fc AS (
        SELECT g.doc_id, g.cutoff, g.pos,
               g.last_v AS naive_f,
               t.val AS snaive_f,
               g.last_v + (g.last_v - g.first_v) / (g.n_train - 1) * (g.pos + 1) AS rwd_f,
               g.avg_f AS avg_f
        FROM grid g JOIN panel t
          ON t.doc_id = g.doc_id AND t.pos = g.cutoff - {s} + (g.pos % {s})
    ),
    truth AS (
        SELECT p.doc_id, st.cutoff, p.pos - st.cutoff AS pos, p.val AS y
        FROM panel p JOIN (SELECT DISTINCT doc_id, cutoff FROM stats) st
          ON p.doc_id = st.doc_id
         AND p.pos >= st.cutoff AND p.pos < st.cutoff + {h}
    ),
    err AS (
        SELECT t.doc_id, t.cutoff, {", ".join(err_cols)}
        FROM truth t JOIN fc USING (doc_id, cutoff, pos)
        GROUP BY t.doc_id, t.cutoff
    ),
    w AS (
        SELECT doc_id, cutoff, {w_cols} FROM err
    ),
    pairs AS (
        SELECT * FROM (VALUES {pairs}) AS pr(val_cutoff, test_cutoff)
    ),
    w_paired AS (
        SELECT w.doc_id, pr.test_cutoff AS cutoff,
               {", ".join(f"w_{m}" for m in MODELS)}
        FROM w JOIN pairs pr ON w.cutoff = pr.val_cutoff
    ),
    scored AS (
        SELECT t.doc_id, t.cutoff, t.pos, t.y,
               {y_hat} AS y_hat, fc.naive_f
        FROM truth t
        JOIN fc USING (doc_id, cutoff, pos)
        JOIN w_paired USING (doc_id, cutoff)
    ),
    per_doc AS (
        SELECT doc_id, cutoff,
               200 * avg(CASE WHEN abs(y) + abs(y_hat) <> 0
                    THEN abs(y - y_hat) / (abs(y) + abs(y_hat)) END) AS sm_ens,
               200 * avg(CASE WHEN abs(y) + abs(naive_f) <> 0
                    THEN abs(y - naive_f) / (abs(y) + abs(naive_f)) END) AS sm_nv
        FROM scored GROUP BY doc_id, cutoff
    )
    SELECT cutoff,
           CAST(count(*) AS BIGINT) AS n_docs,
           {sql_round6('avg(sm_ens)')} AS softmin_smape,
           {sql_round6('avg(sm_nv)')} AS naive_smape
    FROM per_doc GROUP BY cutoff
    """


# ---------------------------------------------------------------------------
# Checkpoint-manifested production job (one manifest per cutoff)
# ---------------------------------------------------------------------------

MANIFEST = "_manifest.json"


def _cutoff_dir(base_dir: str, cutoff: int) -> str:
    return os.path.join(base_dir, f"cutoff={cutoff}")


def cutoff_is_complete(base_dir: str, cutoff: int, fingerprint: str) -> bool:
    mp = os.path.join(_cutoff_dir(base_dir, cutoff), MANIFEST)
    if not os.path.exists(mp):
        return False
    try:
        with open(mp) as f:
            m = json.load(f)
    except (OSError, json.JSONDecodeError):
        return False
    return m.get("fingerprint") == fingerprint


def materialize_backtest(
    panel: DataFrame,
    base_dir: str,
    cutoffs: list[int],
    h: int,
    s: int,
    fingerprint: str,
) -> dict[int, dict]:
    """Run the paired backtest cutoff-by-cutoff, one parquet + manifest
    per TEST cutoff (reference artifact-per-cutoff resume,
    ensemble_forecasts.py:85-87). A rerun with the same fingerprint
    skips finished cutoffs; a killed run resumes at the first
    unfinished one. Returns {cutoff: manifest}."""
    os.makedirs(base_dir, exist_ok=True)
    results: dict[int, dict] = {}
    for val_c, test_c in zip(cutoffs[:-1], cutoffs[1:]):
        mdir = _cutoff_dir(base_dir, test_c)
        mpath = os.path.join(mdir, MANIFEST)
        if cutoff_is_complete(base_dir, test_c, fingerprint):
            with open(mpath) as f:
                m = json.load(f)
            m["resumed"] = True
            results[test_c] = m
            continue
        t0 = time.time()
        out = ensemble_backtest(panel, [val_c, test_c], h, s)
        path = os.path.join(mdir, "data")
        out.write.mode("overwrite").parquet(path)
        rows = panel.sparkSession.read.parquet(path).count()
        manifest = {
            "fingerprint": fingerprint,
            "val_cutoff": val_c,
            "test_cutoff": test_c,
            "rows": rows,
            "wall_sec": round(time.time() - t0, 3),
            "resumed": False,
            "created_at": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            ),
        }
        with open(mpath, "w") as f:
            json.dump(manifest, f, indent=1)
        results[test_c] = manifest
    return results
