"""Driver-facing query registry: every implemented operator from
SURVEY.md §2 gets a (spark, sf_dir) -> DataFrame callable here plus a
DuckDB oracle SQL string where the semantics are ANSI-SQL-expressible.

Column-name discipline: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver hash-compares by sorted
column name). Aggregated doubles are rounded to 6dp on BOTH sides so
engine-order float variation cannot flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from fforma_spark.operators.gapfill import locf_fill, locf_fill_sql
from fforma_spark.operators.reshape import explode_panel
from fforma_spark.operators.rollup import (
    apply_retention,
    apply_retention_sql,
    rollup_from_tier,
    rollup_tier,
    rollup_tier_sql,
)
from fforma_spark.plans.backtest import (
    MODELS,
    closed_form_forecasts,
    closed_form_stats,
    cutoff_keys,
    ensemble_backtest,
    ensemble_backtest_sql,
)
from fforma_spark.sources.tables import (
    PANEL_FROM_EVENTS_SQL,
    SEQUENCES_FROM_DOCUMENTS_SQL,
    load_table,
    panel_from_events,
    sequences_from_documents,
)

from fforma_spark.util import (  # noqa: E402
    exact_quantile,
    exact_quantile_sql,
    sql_round6,
    stable_round6,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _round6(df: DataFrame, cols: list[str]) -> DataFrame:
    return df.withColumns({c: stable_round6(c) for c in cols})


# ---------------------------------------------------------------------------
# Retention-tier rollups (SURVEY §2.5 tumbling rebucket; north_rule core)
# ---------------------------------------------------------------------------

_T1_BUCKET = 16
_T2_FACTOR = 4


@register("rollup_t1_events", rollup_tier_sql(_T1_BUCKET, PANEL_FROM_EVENTS_SQL))
def rollup_t1_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 continuous aggregate over the events-derived panel.

    Reference analog: ADIDA rebucket-aggregate
    (fforma/base/_models.py:770-779)."""
    panel = panel_from_events(spark, sf_dir)
    return _round6(rollup_tier(panel, _T1_BUCKET, exact_decimals=6), ["vsum", "vmean"])


@register(
    "rollup_t2_cascade",
    rollup_tier_sql(_T1_BUCKET * _T2_FACTOR, PANEL_FROM_EVENTS_SQL),
)
def rollup_t2_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 re-aggregated FROM T1 (partial→final), oracled against a
    direct bucket-64 aggregate of raw — proves cascade correctness."""
    panel = panel_from_events(spark, sf_dir)
    t1 = rollup_tier(panel, _T1_BUCKET, exact_decimals=6)
    return _round6(
        rollup_from_tier(t1, _T2_FACTOR, exact_decimals=6), ["vsum", "vmean"]
    )


_LOCF_TIER_SQL = (
    "SELECT doc_id, bucket, floor((vmean) * 1000000.0 + 0.5) / 1000000.0 AS vmean, cnt FROM ("
    + rollup_tier_sql(_T1_BUCKET, PANEL_FROM_EVENTS_SQL)
    + ") WHERE (bucket % 3 <> 1) OR bucket = 0"
)


@register("locf_gapfill", locf_fill_sql(_LOCF_TIER_SQL, ["vmean", "cnt"]))
def locf_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense grid + LOCF over a deterministically-sparsified T1
    (north_rule gap-fill; reference pad analog _FFNN.py:128-142)."""
    panel = panel_from_events(spark, sf_dir)
    tier = rollup_tier(panel, _T1_BUCKET, exact_decimals=6).withColumn(
        "vmean", stable_round6("vmean")
    )
    sparse = tier.filter((F.col("bucket") % 3 != 1) | (F.col("bucket") == 0)).select(
        "doc_id", "bucket", "vmean", "cnt"
    )
    return locf_fill(sparse, ["vmean", "cnt"]).select(
        "doc_id", "bucket", "vmean", "cnt", "is_gap"
    )


_RETAIN_BUCKETS = 4


@register(
    "retention_t1_events",
    apply_retention_sql(
        rollup_tier_sql(_T1_BUCKET, PANEL_FROM_EVENTS_SQL), _RETAIN_BUCKETS
    ),
)
def retention_t1_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention enforcement on T1: trailing-4-buckets policy per doc
    (the drop-chunks half of the retention engine; see
    operators/rollup.py::apply_retention for the partition-drop scale
    path)."""
    panel = panel_from_events(spark, sf_dir)
    t1 = _round6(
        rollup_tier(panel, _T1_BUCKET, exact_decimals=6), ["vsum", "vmean"]
    )
    return apply_retention(t1, _RETAIN_BUCKETS)


# ---------------------------------------------------------------------------
# Sequence-table scans/stats (SURVEY §2.1/§2.4)
# ---------------------------------------------------------------------------


@register(
    "seq_stats_documents",
    f"""
    SELECT doc_id, n_tok,
           CAST(list_min(tokens) AS INT) AS tok_min,
           CAST(list_max(tokens) AS INT) AS tok_max,
           CAST(list_sum(tokens) AS BIGINT) AS tok_sum,
           len(list_filter(tokens, v -> v > 0)) AS n_demand,
           CAST(list_sum(list_transform(tokens, v -> CASE WHEN v <> 0 THEN 1 ELSE 0 END)) AS BIGINT) AS n_nonzero,
           len(tokens) - len(list_filter(tokens, v -> v > 0)) AS n_zero
    FROM ({SEQUENCES_FROM_DOCUMENTS_SQL}) seqs
    WHERE n_tok > 0
    """,
)
def seq_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence token stats straight off the array column — no
    explode, no shuffle (per-group count/min/max: SURVEY §2.4) — plus
    the sparse-series support ops (demand/probability counts,
    fforma/base/_models.py:74-89,601-620) as array higher-order
    functions, all in one projection."""
    seq = sequences_from_documents(spark, sf_dir)
    demand = F.filter("tokens", lambda v: v > 0)
    nonzero = F.aggregate(
        F.transform("tokens", lambda v: F.when(v != 0, 1).otherwise(0)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return seq.filter(F.col("n_tok") > 0).select(
        "doc_id",
        "n_tok",
        F.array_min("tokens").alias("tok_min"),
        F.array_max("tokens").alias("tok_max"),
        F.aggregate(
            "tokens", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("tok_sum"),
        F.size(demand).alias("n_demand"),
        nonzero.alias("n_nonzero"),
        (F.size("tokens") - F.size(demand)).alias("n_zero"),
    )


# ---------------------------------------------------------------------------
# T0 features (SURVEY §2.6) — closed-form subset, DuckDB-checked
# ---------------------------------------------------------------------------

from fforma_spark.functions.features import (  # noqa: E402
    features_sql,
    features_sql_oracle,
)

_FEATURE_ROUND = ["mean", "variance", "trend_slope", "x_acf1"]


_DOC_PANEL_SQL_EARLY = """
    SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos, CAST(tokens[g.i] AS DOUBLE) AS val
    FROM ({seqs}) seqs,
         UNNEST(generate_series(1, len(tokens))) AS g(i)
""".format(seqs=SEQUENCES_FROM_DOCUMENTS_SQL)


def _features_sql_rounded(panel_sql: str, src: str) -> str:
    return f"""
    SELECT '{src}' AS src, doc_id, series_length,
           floor((mean) * 1000000.0 + 0.5) / 1000000.0 AS mean,
           floor((variance) * 1000000.0 + 0.5) / 1000000.0 AS variance,
           floor((trend_slope) * 1000000.0 + 0.5) / 1000000.0 AS trend_slope,
           floor((x_acf1) * 1000000.0 + 0.5) / 1000000.0 AS x_acf1,
           crossing_points
    FROM ({features_sql_oracle(panel_sql)})
    """


@register(
    "features_sql_events",
    f"""
    {_features_sql_rounded(PANEL_FROM_EVENTS_SQL, 'events')}
    UNION ALL
    {_features_sql_rounded(_DOC_PANEL_SQL_EARLY, 'documents')}
    """,
)
def features_sql_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series closed-form features (trend slope = covar_pop/var_pop
    == np.polyfit deg-1, fforma/base/_models.py:22-30; acf1 mean-
    centered biased-denominator, :136-152; crossing_points over the
    median) over BOTH canonical inputs — the events-derived panel and
    the documents token panel — tagged by src. One oracle row proves
    the Catalyst feature twin on both table shapes."""
    ev = _round6(
        features_sql(panel_from_events(spark, sf_dir)), _FEATURE_ROUND
    ).select(F.lit("events").alias("src"), "*")
    docs = _round6(
        features_sql(explode_panel(sequences_from_documents(spark, sf_dir))),
        _FEATURE_ROUND,
    ).select(F.lit("documents").alias("src"), "*")
    return ev.unionByName(docs)


# ---------------------------------------------------------------------------
# Closed-form forecast models + evaluation + ensemble over events series
# (SURVEY §2.6 Naive/SeasonalNaive/RWD/Average; §2.10 evaluate; §2.9 softmin)
# ---------------------------------------------------------------------------

_H, _S = 8, 7

# whale cap for sequential-kernel mapInPandas stages (same default as
# jobs/build_tiers.py --max-series-len): docs ≤ cap are bit-identical,
# longer docs enter the kernels as their trailing window
_SEQ_KERNEL_CAP = 65536

_SQL_FC = f"""
    WITH panel AS ({PANEL_FROM_EVENTS_SQL}),
    stats AS (
        SELECT doc_id, max(pos) + 1 AS n, max(pos) + 1 - {_H} AS cutoff
        FROM panel GROUP BY doc_id
        HAVING max(pos) + 1 > {_H} + {_S}
    ),
    train AS (
        SELECT p.* FROM panel p JOIN stats s USING (doc_id)
        WHERE p.pos < s.cutoff
    ),
    agg AS (
        SELECT doc_id,
               CAST(sum(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_f,
               arg_max(val, pos) AS last_v,
               arg_min(val, pos) AS first_v,
               count(*) AS n_train
        FROM train GROUP BY doc_id
    ),
    grid AS (
        SELECT s.doc_id, s.cutoff, unnest(generate_series(0, {_H} - 1)) AS pos
        FROM stats s
    )
    SELECT g.doc_id, g.pos,
           floor((a.last_v) * 1000000.0 + 0.5) / 1000000.0 AS naive_forec,
           floor((t.val) * 1000000.0 + 0.5) / 1000000.0 AS snaive_forec,
           floor((a.last_v + (a.last_v - a.first_v) / (a.n_train - 1) * (g.pos + 1)) * 1000000.0 + 0.5) / 1000000.0 AS rwd_forec,
           floor((a.avg_f) * 1000000.0 + 0.5) / 1000000.0 AS avg_forec
    FROM grid g
    JOIN agg a USING (doc_id)
    JOIN train t ON t.doc_id = g.doc_id
               AND t.pos = g.cutoff - {_S} + (g.pos % {_S})
"""


def _events_split(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The holdout lineage every closed-form events query shares, from
    ONE panel_from_events: each doc's cutoff is max(pos)+1−_H from a
    per-doc window, kept where > _S.

    Returns (train, truth, fc): train (doc_id, pos, val, cutoff) before
    the cutoff; truth (doc_id, pos, y) with pos counted from the
    cutoff; fc (doc_id, pos, <model>_forec) — Naive/SeasonalNaive/
    RandomWalkDrift/Average (fforma/base/_models.py:224-440) rounded to
    6dp. Catalyst only, no UDFs."""
    panel = panel_from_events(spark, sf_dir)
    cut = panel.withColumn(
        "cutoff", F.max("pos").over(Window.partitionBy("doc_id")) + 1 - _H
    ).filter(F.col("cutoff") > _S)
    train = cut.filter(F.col("pos") < F.col("cutoff"))
    truth = cut.filter(F.col("pos") >= F.col("cutoff")).select(
        "doc_id",
        (F.col("pos") - F.col("cutoff")).alias("pos"),
        F.col("val").alias("y"),
    )
    fc = closed_form_forecasts(closed_form_stats(train, _S), _H).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        *[stable_round6(f"{m}_f").alias(f"{m}_forec") for m in MODELS],
    )
    return train, truth, fc


@register("forecasts_sql_events", _SQL_FC)
def forecasts_sql_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed-form forecast panel of the events holdout split."""
    return _events_split(spark, sf_dir)[2]


_SQL_EVAL = f"""
    WITH fc AS ({_SQL_FC}),
    panel AS ({PANEL_FROM_EVENTS_SQL}),
    stats AS (
        SELECT doc_id, max(pos) + 1 - {_H} AS cutoff
        FROM panel GROUP BY doc_id HAVING max(pos) + 1 > {_H} + {_S}
    ),
    truth AS (
        SELECT p.doc_id, p.pos - s.cutoff AS pos, p.val AS y
        FROM panel p JOIN stats s USING (doc_id)
        WHERE p.pos >= s.cutoff
    ),
    scale AS (
        SELECT p.doc_id,
               avg(abs(p.val - q.val)) AS mase_scale
        FROM panel p
        JOIN stats s ON p.doc_id = s.doc_id
        JOIN panel q ON q.doc_id = p.doc_id AND q.pos = p.pos - {_S}
        WHERE p.pos < s.cutoff AND q.pos < s.cutoff
        GROUP BY p.doc_id
    )
    SELECT t.doc_id,
           floor((200 * avg(CASE WHEN abs(t.y) + abs(f.naive_forec) <> 0
                 THEN abs(t.y - f.naive_forec) / (abs(t.y) + abs(f.naive_forec)) END)) * 1000000.0 + 0.5) / 1000000.0 AS naive_smape,
           floor((200 * avg(CASE WHEN abs(t.y) + abs(f.snaive_forec) <> 0
                 THEN abs(t.y - f.snaive_forec) / (abs(t.y) + abs(f.snaive_forec)) END)) * 1000000.0 + 0.5) / 1000000.0 AS snaive_smape,
           floor((100 * avg(abs(t.y - f.naive_forec)) / any_value(s.mase_scale)) * 1000000.0 + 0.5) / 1000000.0 AS naive_mase,
           floor((100 * avg(abs(t.y - f.snaive_forec)) / any_value(s.mase_scale)) * 1000000.0 + 0.5) / 1000000.0 AS snaive_mase
    FROM truth t
    JOIN fc f USING (doc_id, pos)
    JOIN scale s ON s.doc_id = t.doc_id
    GROUP BY t.doc_id
"""


def _smape_agg(m: str) -> Column:
    """Per-series sMAPE of ``<m>_forec`` against ``y`` (masked-invalid,
    metrics.py:117-148), as an aggregate over a truth ⋈ fc frame."""
    e = F.abs(F.col("y") - F.col(f"{m}_forec"))
    sc = F.abs(F.col("y")) + F.abs(F.col(f"{m}_forec"))
    return stable_round6(200 * F.avg(F.when(sc != 0, e / sc))).alias(f"{m}_smape")


def _eval_events(
    train: DataFrame, truth: DataFrame, fc: DataFrame
) -> DataFrame:
    """Per-series sMAPE (:func:`_smape_agg`) and MASE (metrics.py:150-180)
    of the closed-form models, Catalyst aggregates only."""
    from fforma_spark.functions.metrics import mase_scale

    scale = mase_scale(train.select("doc_id", "pos", "val"), F.lit(_S))
    joined = truth.join(fc, ["doc_id", "pos"]).join(scale, "doc_id")
    aggs = []
    for m in ["naive", "snaive"]:
        e = F.abs(F.col("y") - F.col(f"{m}_forec"))
        aggs.append(_smape_agg(m))
        aggs.append(
            stable_round6(
                F.try_divide(100 * F.avg(e), F.first("mase_scale"))).alias(f"{m}_mase")
        )
    return joined.groupBy("doc_id").agg(*aggs)


@register("eval_metrics_events", _SQL_EVAL)
def eval_metrics_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _eval_events(*_events_split(spark, sf_dir))


_FC4 = [f"{m}_forec" for m in MODELS]


@register(
    "ensembles_events",
    f"""
    WITH ev AS ({_SQL_EVAL}),
    fc AS ({_SQL_FC}),
    w AS (
        SELECT doc_id,
               exp(-(naive_smape - least(naive_smape, snaive_smape)))
               / (exp(-(naive_smape - least(naive_smape, snaive_smape)))
                  + exp(-(snaive_smape - least(naive_smape, snaive_smape)))) AS w_naive
        FROM ev
    )
    SELECT f.doc_id, f.pos,
           {sql_round6("(naive_forec + snaive_forec + rwd_forec + avg_forec) / 4")}
               AS y_mean,
           {sql_round6(
               "(naive_forec + snaive_forec + rwd_forec + avg_forec"
               " - least(naive_forec, snaive_forec, rwd_forec, avg_forec)"
               " - greatest(naive_forec, snaive_forec, rwd_forec, avg_forec)) / 2"
           )} AS y_median,
           floor((w.w_naive * f.naive_forec + (1 - w.w_naive) * f.snaive_forec) * 1000000.0 + 0.5) / 1000000.0 AS y_softmin
    FROM fc f JOIN w USING (doc_id)
    """,
)
def ensembles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three closed-form MetaLearner ensembles in one panel:
    row-mean and row-median (fforma/meta_learner/_basics.py:12-64; the
    4-column median is (sum-min-max)/2, identical arithmetic on both
    engines) plus softmax(-loss) weights (:66-103) applied as the
    weighted rollup y_hat = Σ w·pred (_XGBoost.py:149-161) — a
    broadcast join of the 1-row-per-series weight table onto the
    prediction panel."""
    from fforma_spark.functions.ensemble import softmin_weights

    _, truth, fc = _events_split(spark, sf_dir)
    # the weights need only the sMAPE: every doc past the cutoff filter
    # has a lag-_S pair, so the MASE scale's self-join would drop none
    joined = truth.join(fc, ["doc_id", "pos"])
    sm = joined.groupBy("doc_id").agg(_smape_agg("naive"), _smape_agg("snaive"))
    w = softmin_weights(sm, ["naive_smape", "snaive_smape"])
    # the sum weighted_rollup forms, term for term
    soft = (
        F.lit(0.0)
        + F.col("w_naive_smape") * F.col("naive_forec")
        + F.col("w_snaive_smape") * F.col("snaive_forec")
    )
    s = sum((F.col(c) for c in _FC4), F.lit(0.0))
    return fc.join(F.broadcast(w), "doc_id").select(
        "doc_id",
        "pos",
        stable_round6(s / 4).alias("y_mean"),
        stable_round6(
            (
                s
                - F.least(*[F.col(c) for c in _FC4])
                - F.greatest(*[F.col(c) for c in _FC4])
            )
            / 2
        ).alias("y_median"),
        stable_round6(soft).alias("y_softmin"),
    )


# ---------------------------------------------------------------------------
# Filters / top-k / outlier masking (SURVEY §2.2, §2.7)
# ---------------------------------------------------------------------------


@register(
    "topk_series_by_volume",
    f"""
    SELECT doc_id, floor((total) * 1000000.0 + 0.5) / 1000000.0 AS total FROM (
        SELECT doc_id,
               CAST(sum(CAST(val AS DECIMAL(30,6))) AS DOUBLE) AS total
        FROM ({PANEL_FROM_EVENTS_SQL}) panel GROUP BY doc_id
    ) ORDER BY total DESC, doc_id LIMIT 10
    """,
)
def topk_series_by_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N series by total volume (fforma/utils/utils.py:53-56
    nlargest) — agg + global top-k (Spark TakeOrderedAndProject, no
    full sort)."""
    panel = panel_from_events(spark, sf_dir)
    return (
        panel.groupBy("doc_id")
        .agg(
            stable_round6(
                F.sum(F.col("val").cast("decimal(30,6)")).cast("double")).alias("total")
        )
        .orderBy(F.desc("total"), "doc_id")
        .limit(10)
    )


@register(
    "outlier_iqr_mask",
    f"""
    WITH panel AS ({PANEL_FROM_EVENTS_SQL}),
    s AS (
        SELECT doc_id, list_sort(list(val)) AS arr, count(*) AS n
        FROM panel GROUP BY doc_id
    ),
    q AS (
        SELECT doc_id, n, arr,
               {exact_quantile_sql('arr', 'n', 0.25)} AS q1,
               {exact_quantile_sql('arr', 'n', 0.75)} AS q3
        FROM s
    )
    SELECT doc_id, n,
           CAST(len(list_filter(arr,
                v -> v < q1 - 1.5 * (q3 - q1)
                  OR v > q3 + 1.5 * (q3 - q1))) AS BIGINT) AS n_outliers,
           {sql_round6('q1')} AS q1, {sql_round6('q3')} AS q3
    FROM q
    """,
)
def outlier_iqr_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR outlier detection per series (fforma/experiments/datasets/
    business.py:16-40): exact quartiles via sort_array + ONE shared
    lerp formula (util.exact_quantile) + fence counts.

    One shuffle total: quartiles AND fence counts both come from the
    per-doc sorted array — no join back to the panel."""
    panel = panel_from_events(spark, sf_dir)
    s = panel.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("val")).alias("arr"),
        F.count("*").alias("n"),
    )
    q = s.select(
        "doc_id",
        "n",
        "arr",
        exact_quantile(F.col("arr"), F.col("n"), 0.25).alias("q1"),
        exact_quantile(F.col("arr"), F.col("n"), 0.75).alias("q3"),
    )
    lim_lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    lim_hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return q.select(
        "doc_id",
        "n",
        F.size(F.filter("arr", lambda v: (v < lim_lo) | (v > lim_hi)))
        .cast("long")
        .alias("n_outliers"),
        stable_round6("q1").alias("q1"),
        stable_round6("q3").alias("q3"),
    )


@register(
    "filters_documents",
    f"""
    SELECT doc_id, source, n_tok,
           n_tok >= 24 AS minlen_ok,
           source LIKE 'src1%' AS prefix_ok
    FROM ({SEQUENCES_FROM_DOCUMENTS_SQL}) seqs
    WHERE n_tok >= 24 OR source LIKE 'src1%'
    """,
)
def filters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-column predicates in one scan: the min-length series
    filter (fforma/utils/utils.py:44-52) on n_tok and the string-prefix
    predicate (str.startswith group filters,
    fforma/experiments/meta_results_r_data.py:132-137) on source — the
    OR of both pushes down to the parquet scan as one compound filter,
    with a flag column per predicate."""
    seq = sequences_from_documents(spark, sf_dir)
    minlen = F.col("n_tok") >= 24
    prefix = F.col("source").startswith("src1")
    return seq.filter(minlen | prefix).select(
        "doc_id",
        "source",
        "n_tok",
        minlen.alias("minlen_ok"),
        prefix.alias("prefix_ok"),
    )


# ---------------------------------------------------------------------------
# Compression tier (SURVEY §2.12; north_rule Gorilla/delta-of-delta)
# ---------------------------------------------------------------------------


from fforma_spark.functions.compress import dod_bytes_sql  # noqa: E402


@register(
    "codec_roundtrip_stats",
    f"""
    SELECT 'dod' AS src, doc_id, TRUE AS ok, raw_bytes, comp_bytes
    FROM ({dod_bytes_sql(SEQUENCES_FROM_DOCUMENTS_SQL)}) d
    UNION ALL
    SELECT 'xor' AS src, doc_id, TRUE AS ok,
           CAST(count(*) AS BIGINT) * 8 AS raw_bytes,
           CAST(NULL AS BIGINT) AS comp_bytes
    FROM ({rollup_tier_sql(_T1_BUCKET, PANEL_FROM_EVENTS_SQL)}) t
    GROUP BY doc_id
    """,
)
def codec_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole compression tier, driver-oracled in one query:

    * src='dod' — per-doc invariant decompress(compress(tokens)) ==
      tokens over the real text-derived int sequences, PLUS the exact
      compressed byte count: the oracle recomputes the codec's
      deterministic block layout in pure SQL (compress.dod_bytes_sql),
      so a codec defect flips `ok` AND any layout drift breaks the
      byte-count hash.
    * src='xor' — Gorilla-XOR float codec round-trip on the T1 vmean
      series per doc (byte counts are bit-pattern-dependent, not
      SQL-expressible — NULL on both engines).

    One compress pass serves both the invariant and the stats (the
    block is compressed once, decompressed once)."""
    from fforma_spark.functions.compress import (
        compress_floats_udf,
        compress_tokens_udf,
        decompress_floats_udf,
        decompress_tokens_udf,
    )
    from fforma_spark.util import ensure_parallelism

    seq = ensure_parallelism(sequences_from_documents(spark, sf_dir))
    cb = seq.select(
        "doc_id",
        "tokens",
        "n_tok",
        compress_tokens_udf()("tokens").alias("block"),
    ).withColumn("_rt", decompress_tokens_udf()("block"))
    dod = cb.select(
        F.lit("dod").alias("src"),
        "doc_id",
        (
            (F.size("tokens") == F.size("_rt"))
            & F.forall(
                F.zip_with("tokens", "_rt", lambda a, b: a.eqNullSafe(b)),
                lambda x: x,
            )
        ).alias("ok"),
        (F.col("n_tok").cast("long") * 4).alias("raw_bytes"),
        F.length("block").cast("long").alias("comp_bytes"),
    )
    t1 = rollup_tier(panel_from_events(spark, sf_dir), _T1_BUCKET)
    series = t1.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("bucket", "vmean"))),
            lambda s: s["vmean"],
        ).alias("vals")
    )
    rt = series.select(
        "doc_id",
        "vals",
        decompress_floats_udf()(compress_floats_udf()("vals")).alias("_rt"),
    )
    xor = rt.select(
        F.lit("xor").alias("src"),
        "doc_id",
        (
            (F.size("vals") == F.size("_rt"))
            & F.forall(
                F.zip_with("vals", "_rt", lambda a, b: a.eqNullSafe(b)),
                lambda x: x,
            )
        ).alias("ok"),
        (F.size("vals").cast("long") * 8).alias("raw_bytes"),
        F.lit(None).cast("long").alias("comp_bytes"),
    )
    return dod.unionByName(xor)


# ---------------------------------------------------------------------------
# Windowed per-series analytics (SURVEY §2.5) — Catalyst windows with
# DuckDB twins
# ---------------------------------------------------------------------------

from pyspark.sql import Window as W  # noqa: E402


from fforma_spark.util import sql_round, stable_round  # noqa: E402


@register(
    "window_ops_events",
    f"""
    SELECT doc_id, pos,
           {sql_round("avg(val) OVER (PARTITION BY doc_id ORDER BY pos "
                      "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)", 4)} AS cma,
           {sql_round("sum(val) OVER (PARTITION BY doc_id ORDER BY pos "
                      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 4)} AS cum,
           {sql_round6("val - lag(val) OVER (PARTITION BY doc_id ORDER BY pos)")}
               AS delta
    FROM ({PANEL_FROM_EVENTS_SQL}) panel
    """,
)
def window_ops_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three per-series frame-window operators in ONE pass over one
    (doc_id, pos) sort — centered rolling mean (classical-decomposition
    MA, fforma/base/_models.py:91-116), running cumulative sum
    (undifferencing, fforma/base/_quantile_models.py:221-223), and
    first difference via lag (rolling-origin shift analog,
    fforma/experiments/business/ensemble_forecasts.py:67). Sharing one
    window spec means Catalyst plans a single sort+shuffle for all
    three. 4dp display rounding on the frame aggregates: float order
    within a frame differs across engines."""
    panel = panel_from_events(spark, sf_dir)
    wf = W.partitionBy("doc_id").orderBy("pos")
    return panel.select(
        "doc_id",
        "pos",
        stable_round(F.avg("val").over(wf.rowsBetween(-2, 2)), 4).alias("cma"),
        stable_round(
            F.sum("val").over(
                wf.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
            4,
        ).alias("cum"),
        stable_round6(F.col("val") - F.lag("val").over(wf)).alias("delta"),
    )


# ---------------------------------------------------------------------------
# Closed-form win counts (SURVEY §2.9) — SQL-expressible
# ---------------------------------------------------------------------------


@register(
    "bestmodel_wins_events",
    f"""
    SELECT best_model, count(*) AS wins FROM (
        SELECT CASE WHEN naive_smape <= snaive_smape THEN 'naive'
                    ELSE 'snaive' END AS best_model
        FROM ({_SQL_EVAL}) ev
    ) b GROUP BY best_model
    """,
)
def bestmodel_wins_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series argmin-loss winner histogram — the loser-pruning
    input (fforma/fforma_python_futuro.py:193-195,
    fforma/meta_learner/_XGBoost.py:106-108)."""
    ev = _eval_events(*_events_split(spark, sf_dir))
    return (
        ev.select(
            F.when(
                F.col("naive_smape") <= F.col("snaive_smape"), F.lit("naive")
            )
            .otherwise(F.lit("snaive"))
            .alias("best_model")
        )
        .groupBy("best_model")
        .agg(F.count("*").alias("wins"))
    )


# ---------------------------------------------------------------------------
# Group-weighted summaries, rollup op, semi-join, broadcast dim join
# (SURVEY §2.4/§2.7/§2.3/§2.10)
# ---------------------------------------------------------------------------


@register(
    "rollup_summary_documents",
    """
    SELECT coalesce(source, 'ALL') AS source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY ROLLUP(source)
    """,
)
def rollup_summary_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group + grand-total summary via the ROLLUP grouping-set op
    (group-weighted summary analog, fforma/experiments/summary/
    base.py:16-40)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.rollup("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )


@register(
    "semi_join_docs_embeddings",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id, n_chars
    FROM documents
    WHERE doc_id IN (SELECT vec_id FROM embeddings WHERE label = 0)
    """,
)
def semi_join_docs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join filter by id set (query('unique_id in @ids'),
    fforma/experiments/base/common.py:40-44) — left_semi, no payload
    duplication."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    ids = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("doc_id")
    )
    return (
        docs.join(ids, "doc_id", "left_semi")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "n_chars")
    )


@register(
    "events_nation_totals",
    """
    SELECT n.n_name AS nation,
           count(*) AS n_events,
           floor((CAST(sum(CAST(e.value AS DECIMAL(30,6))) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def events_nation_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Panel ⋈ metadata broadcast join (fforma/utils/m4_data.py:120):
    fact events joined to broadcast customer/nation dims, exact
    decimal totals."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        ev.join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("nation")
        .agg(
            F.count("*").alias("n_events"),
            stable_round6(
                F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
            ).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Kernel-backed rollups (SURVEY §2.6/§2.9/§2.10) — rows-only via the
# driver (values are pytest-verified bit-for-bit against the numpy
# oracle in tests/test_features.py / test_models_metrics.py; the
# sequential kernels are not ANSI-SQL-expressible)
# ---------------------------------------------------------------------------


@register("features_t0_documents")  # rows-only: mapInPandas kernels
def features_t0_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full tsfeatures-style T0 feature rollup (entropy, trend &
    seasonal strength, lumpiness, stability, hurst, acf10, ...) — ONE
    shuffle-free mapInPandas pass over the wide sequences table."""
    from fforma_spark.functions.features import features_wide

    return features_wide(sequences_from_documents(spark, sf_dir))


@register("base_forecasts_documents")  # rows-only: sequential kernels
def base_forecasts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 13 base-model forecasts per doc (naive..imapa incl. the
    Naive2 OWA benchmark) in one mapInPandas pass."""
    from fforma_spark.functions.models import base_forecasts

    return base_forecasts(sequences_from_documents(spark, sf_dir), default_h=8)


@register("owa_eval_documents")  # rows-only: depends on Naive2 kernel
def owa_eval_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series smape/mase/OWA vs the Naive2 benchmark for every
    model — the meta-learner's contribution-to-error input."""
    from fforma_spark.functions.metrics import evaluate_with_owa, mase_scale
    from fforma_spark.functions.models import (
        FORECAST_COLS,
        base_forecasts,
        holdout_truth,
        train_split,
    )

    seq = sequences_from_documents(spark, sf_dir)
    fc = base_forecasts(seq, default_h=8)
    truth = holdout_truth(seq, default_h=8)
    train_panel = explode_panel(train_split(seq, default_h=8)).select(
        "doc_id", "pos", "val"
    )
    scale = mase_scale(train_panel, F.lit(1))
    out = evaluate_with_owa(truth, fc, FORECAST_COLS, scale)
    return out.select(
        "doc_id",
        *[stable_round6(c).alias(c) for c in out.columns if c != "doc_id"],
    )


# ---------------------------------------------------------------------------
# Kernel-path forecasts ORACLED (closed-form subset): the same
# mapInPandas kernel fabric as base_forecasts_documents, but doc_ids
# are prefix-tagged Q/D so the per-prefix horizon (Q→8, D→14) and
# seasonality (Q→4, D→7) dispatch is non-degenerate, and only the
# 4 SQL-expressible models are selected — giving the driver a DuckDB
# value-hash oracle over the kernel path itself.
# ---------------------------------------------------------------------------

_TAGGED_SEQ_SQL = f"""
    SELECT (CASE WHEN CAST(doc_id AS INT) % 2 = 0 THEN 'Q' ELSE 'D' END
            || doc_id) AS doc_id,
           tokens, n_tok,
           CASE WHEN CAST(doc_id AS INT) % 2 = 0 THEN 8 ELSE 14 END AS h,
           CASE WHEN CAST(doc_id AS INT) % 2 = 0 THEN 4 ELSE 7 END AS s
    FROM ({SEQUENCES_FROM_DOCUMENTS_SQL}) seqs
"""

# train split + per-doc closed-form scalars, shared by both oracles
_TAGGED_TRAIN_SQL = f"""
    SELECT doc_id, h, s,
           list_slice(tokens, 1, n_tok - h) AS train,
           n_tok - h AS n_train,
           tokens, n_tok
    FROM ({_TAGGED_SEQ_SQL}) tg
    WHERE n_tok > h
"""

_TAGGED_FC_SQL = f"""
    WITH t AS ({_TAGGED_TRAIN_SQL}),
    a AS (
        SELECT doc_id, h, s, n_train, train, tokens, n_tok,
               CAST(train[n_train] AS DOUBLE) AS last_v,
               CAST(train[1] AS DOUBLE) AS first_v,
               CAST(list_sum(train) AS DOUBLE) / n_train AS avg_f
        FROM t
    )
    SELECT doc_id, h, s, n_train, train, tokens, n_tok,
           last_v, first_v, avg_f,
           CAST(unnest(generate_series(0, h - 1)) AS BIGINT) AS pos
    FROM a
"""


def _tagged_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = sequences_from_documents(spark, sf_dir)
    return seq.withColumn(
        "doc_id",
        F.concat(
            F.when(F.pmod(F.col("doc_id").cast("int"), F.lit(2)) == 0, "Q")
            .otherwise("D"),
            F.col("doc_id"),
        ),
    )


@register(
    "base_forecasts_closed_form",
    f"""
    SELECT doc_id, pos,
           {sql_round6('last_v')} AS naive_forec,
           {sql_round6('CAST(train[n_train - LEAST(s, n_train) + (pos % LEAST(s, n_train)) + 1] AS DOUBLE)')} AS snaive_forec,
           {sql_round6('CASE WHEN n_train > 1 THEN last_v + (last_v - first_v) / (n_train - 1) * (pos + 1) ELSE last_v END')} AS rw_drift_forec,
           {sql_round6('avg_f')} AS average_forec
    FROM ({_TAGGED_FC_SQL}) fc
    """,
)
def base_forecasts_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed-form subset (naive/snaive/rw_drift/average;
    fforma/base/_models.py:224-419) of the REAL mapInPandas kernel
    output, value-hash-oracled: proves the Arrow kernel fabric (split,
    per-prefix horizon+seasonality dispatch, forecast panel assembly)
    end-to-end against SQL, not just the numpy functions in pytest."""
    from fforma_spark.functions.models import base_forecasts

    fc = base_forecasts(_tagged_sequences(spark, sf_dir), default_h=8)
    return fc.select(
        "doc_id",
        "pos",
        *[
            stable_round6(c).alias(c)
            for c in ("naive_forec", "snaive_forec", "rw_drift_forec",
                      "average_forec")
        ],
    )


# Naive2 in SQL — the OWA benchmark (fforma/base/_models.py:309-358)
# reduced to its closed form: since deseasonalized-naive ⋅ reseasonalize
# only ever reads the LAST deseasonalized value and the tiled seasonal
# indices, naive2(pos) = si[(n-s+pos%s) mod s] · last / si[(n-1) mod s]
# when the 90%-acf seasonality test fires, else plain naive. The si
# list replicates ratio-to-centered-MA indices including the
# reference's even-LENGTH double-MA quirk (kernels.centered_ma).
_NAIVE2_SI_SQL = f"""
    WITH t0 AS ({_TAGGED_TRAIN_SQL}),
    tx AS (
        SELECT doc_id, h, s, n_train AS n,
               list_transform(train, x -> CAST(x AS DOUBLE)) AS xs
        FROM t0
    ),
    base AS (
        SELECT *, xs[n] AS last_v, list_avg(xs) AS m FROM tx
    ),
    dev AS (
        SELECT *, list_transform(xs, x -> x - m) AS d,
               list_sum(list_transform(xs, x -> (x - m) * (x - m))) AS s2
        FROM base
    ),
    ac AS (
        SELECT *,
            list_transform(range(1, s + 1), k ->
                CASE WHEN s2 = 0 THEN NULL
                     WHEN k >= n THEN 0.0
                     ELSE list_sum(list_transform(range(k + 1, n + 1),
                              i -> d[i] * d[i - k])) / s2
                END) AS acfs
        FROM dev
    ),
    flag AS (
        SELECT *,
            (s > 1 AND n >= 2 * s AND abs(acfs[s]) >
             (CASE WHEN 1 + 2 * (acfs[1] + coalesce(list_sum(
                       list_transform(range(2, s), i -> acfs[i] * acfs[i])),
                       0)) > 0
                   THEN 1.645 * sqrt((1 + 2 * (acfs[1] + coalesce(list_sum(
                        list_transform(range(2, s), i -> acfs[i] * acfs[i])),
                        0))) / n)
                   ELSE 0 END)) AS seasonal
        FROM ac
    ),
    ma AS (
        SELECT *,
            list_transform(range(0, n), j ->
                CASE WHEN j - s // 2 >= 0 AND j + (s - 1) // 2 <= n - 1
                     THEN list_avg(list_slice(xs, j - s // 2 + 1,
                                                  j + (s - 1) // 2 + 1))
                END) AS ma0
        FROM flag
    ),
    maf AS (
        SELECT *,
            CASE WHEN n % 2 = 0
                 THEN list_transform(range(0, n), j ->
                        CASE WHEN j < n - 1
                             THEN (ma0[j + 1] + ma0[j + 2]) / 2 END)
                 ELSE ma0 END AS mac
        FROM ma
    ),
    sir AS (
        SELECT *,
            list_transform(range(0, s), p -> list_avg(list_transform(
                range(0, CAST(ceil(CAST(n AS DOUBLE) / s) AS BIGINT)),
                w -> xs[w * s + p + 1] * 100.0 / mac[w * s + p + 1]))) AS si_raw,
            len(list_filter(mac, m -> m = 0)) > 0 AS mac_zero
        FROM maf
    )
    SELECT doc_id, seasonal, n, s, last_v,
           -- known oracle-domain edge: a centered-MA of EXACTLY 0 makes
           -- numpy produce IEEE inf/NaN seasonal indices (x*100/0),
           -- which DuckDB's NULL-on-div-0 cannot replicate — fail LOUD
           -- instead of silently diverging (never fires on the driver
           -- corpora: validated at sf0.001/0.01/0.1)
           list_transform(si_raw, v ->
               CASE WHEN seasonal AND mac_zero
                    THEN CAST(error('naive2 SQL oracle: zero centered-MA on a seasonal series — IEEE inf semantics not replicable in SQL; corpus outside oracle domain') AS DOUBLE)
                    ELSE v * s * 100.0 / list_sum(si_raw) END)
               AS si_n
    FROM sir
"""


@register(
    "eval_closed_form_documents",
    f"""
    WITH fc AS ({_TAGGED_FC_SQL}),
    n2 AS ({_NAIVE2_SI_SQL}),
    r AS (
        SELECT fc.doc_id, pos,
               CAST(tokens[n_tok - h + pos + 1] AS DOUBLE) AS y,
               fc.last_v AS naive_f,
               CAST(train[n_train - LEAST(fc.s, n_train) + (pos % LEAST(fc.s, n_train)) + 1] AS DOUBLE) AS snaive_f,
               CASE WHEN n_train > 1
                    THEN fc.last_v + (fc.last_v - first_v) / (n_train - 1) * (pos + 1)
                    ELSE fc.last_v END AS rw_drift_f,
               avg_f AS average_f,
               CASE WHEN n2.seasonal
                    THEN n2.si_n[((n_train - fc.s + (pos % fc.s)) % fc.s) + 1] * fc.last_v
                         / n2.si_n[((n_train - 1) % fc.s) + 1]
                    ELSE fc.last_v END AS naive2_f,
               list_aggregate(
                   list_transform(generate_series(fc.s + 1, n_train),
                       i -> abs(CAST(train[i] AS DOUBLE)
                                - CAST(train[i - fc.s] AS DOUBLE))),
                   'avg') AS mase_scale
        FROM fc JOIN n2 ON fc.doc_id = n2.doc_id
        WHERE n_train > fc.s  -- Spark's mase_scale inner join drops
                           -- docs with no lag-s in-sample pairs
    ),
    agg AS (
        SELECT doc_id,
               200 * avg(CASE WHEN abs(y) + abs(naive_f) <> 0 THEN abs(y - naive_f) / (abs(y) + abs(naive_f)) END) AS naive_smape,
               CASE WHEN any_value(mase_scale) <> 0 THEN 100 * avg(abs(y - naive_f)) / any_value(mase_scale) END AS naive_mase,
               200 * avg(CASE WHEN abs(y) + abs(snaive_f) <> 0 THEN abs(y - snaive_f) / (abs(y) + abs(snaive_f)) END) AS snaive_smape,
               CASE WHEN any_value(mase_scale) <> 0 THEN 100 * avg(abs(y - snaive_f)) / any_value(mase_scale) END AS snaive_mase,
               200 * avg(CASE WHEN abs(y) + abs(rw_drift_f) <> 0 THEN abs(y - rw_drift_f) / (abs(y) + abs(rw_drift_f)) END) AS rw_drift_smape,
               CASE WHEN any_value(mase_scale) <> 0 THEN 100 * avg(abs(y - rw_drift_f)) / any_value(mase_scale) END AS rw_drift_mase,
               200 * avg(CASE WHEN abs(y) + abs(average_f) <> 0 THEN abs(y - average_f) / (abs(y) + abs(average_f)) END) AS average_smape,
               CASE WHEN any_value(mase_scale) <> 0 THEN 100 * avg(abs(y - average_f)) / any_value(mase_scale) END AS average_mase,
               200 * avg(CASE WHEN abs(y) + abs(naive2_f) <> 0 THEN abs(y - naive2_f) / (abs(y) + abs(naive2_f)) END) AS naive2_smape,
               CASE WHEN any_value(mase_scale) <> 0 THEN 100 * avg(abs(y - naive2_f)) / any_value(mase_scale) END AS naive2_mase
        FROM r GROUP BY doc_id
    )
    SELECT doc_id,
           {sql_round6('naive_smape')} AS naive_smape,
           {sql_round6('naive_mase')} AS naive_mase,
           {sql_round6('snaive_smape')} AS snaive_smape,
           {sql_round6('snaive_mase')} AS snaive_mase,
           {sql_round6('rw_drift_smape')} AS rw_drift_smape,
           {sql_round6('rw_drift_mase')} AS rw_drift_mase,
           {sql_round6('average_smape')} AS average_smape,
           {sql_round6('average_mase')} AS average_mase,
           {sql_round6('naive2_smape')} AS naive2_smape,
           {sql_round6('naive2_mase')} AS naive2_mase,
           {sql_round6('(naive_mase / nullif(naive2_mase, 0) + naive_smape / nullif(naive2_smape, 0)) / 2')} AS naive_owa,
           {sql_round6('(snaive_mase / nullif(naive2_mase, 0) + snaive_smape / nullif(naive2_smape, 0)) / 2')} AS snaive_owa,
           {sql_round6('(rw_drift_mase / nullif(naive2_mase, 0) + rw_drift_smape / nullif(naive2_smape, 0)) / 2')} AS rw_drift_owa,
           {sql_round6('(average_mase / nullif(naive2_mase, 0) + average_smape / nullif(naive2_smape, 0)) / 2')} AS average_owa,
           {sql_round6('(naive2_mase / nullif(naive2_mase, 0) + naive2_smape / nullif(naive2_smape, 0)) / 2')} AS naive2_owa
    FROM agg
    """,
)
def eval_closed_form_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series smape + mase + OWA-vs-Naive2 for the closed-form
    kernel forecasts over the tagged documents corpus — the SQL-oracled
    twin of the owa_eval contribution-to-error path (fforma/metrics/
    numpy/metrics.py:117-243), per-prefix seasonality in the MASE
    scale. The Naive2 benchmark itself (seasonality test, centered-MA
    ratio indices, deseasonalized naive) runs through the SAME
    mapInPandas kernel as owa_eval_documents, so the full OWA formula
    — benchmark included — is value-hash-checked by the driver."""
    from fforma_spark.functions.metrics import evaluate_with_owa, mase_scale
    from fforma_spark.functions.models import (
        base_forecasts,
        holdout_truth,
        train_split,
    )

    seq = _tagged_sequences(spark, sf_dir)
    cols = [
        "naive_forec",
        "snaive_forec",
        "rw_drift_forec",
        "average_forec",
        "naive2_forec",
    ]
    fc = base_forecasts(seq, default_h=8).select("doc_id", "pos", *cols)
    truth = holdout_truth(seq, default_h=8)
    train_panel = explode_panel(train_split(seq, default_h=8)).select(
        "doc_id", "pos", "val"
    )
    s_expr = F.when(F.substring("doc_id", 1, 1) == "Q", 4).otherwise(7)
    scale = mase_scale(train_panel, s_expr)
    out = evaluate_with_owa(truth, fc, cols, scale, bench="naive2_forec")
    return out.select(
        "doc_id",
        *[stable_round6(c).alias(c) for c in out.columns if c != "doc_id"],
    )


# ---------------------------------------------------------------------------
# Quantile-loss metrics (SURVEY §2.4: pinball metrics.py:245-270,
# rmsse :182-205) over the closed-form forecast panel
# ---------------------------------------------------------------------------

_TAU = 0.8


@register(
    "quantile_eval_events",
    f"""
    WITH fc AS ({_SQL_FC}),
    panel AS ({PANEL_FROM_EVENTS_SQL}),
    stats AS (
        SELECT doc_id, max(pos) + 1 - {_H} AS cutoff
        FROM panel GROUP BY doc_id HAVING max(pos) + 1 > {_H} + {_S}
    ),
    truth AS (
        SELECT p.doc_id, p.pos - s.cutoff AS pos, p.val AS y
        FROM panel p JOIN stats s USING (doc_id)
        WHERE p.pos >= s.cutoff
    ),
    scale2 AS (
        SELECT p.doc_id, avg((p.val - q.val) * (p.val - q.val)) AS mse_scale
        FROM panel p
        JOIN stats s ON p.doc_id = s.doc_id
        JOIN panel q ON q.doc_id = p.doc_id AND q.pos = p.pos - {_S}
        WHERE p.pos < s.cutoff AND q.pos < s.cutoff
        GROUP BY p.doc_id
    )
    SELECT t.doc_id,
           {sql_round6(f"avg(CASE WHEN t.y >= f.naive_forec THEN {_TAU} * (t.y - f.naive_forec) ELSE ({_TAU} - 1) * (t.y - f.naive_forec) END)")} AS naive_pinball,
           {sql_round6("CASE WHEN any_value(s2.mse_scale) > 0 THEN 100 * sqrt(avg((t.y - f.naive_forec) * (t.y - f.naive_forec)) / any_value(s2.mse_scale)) END")} AS naive_rmsse,
           {sql_round6("avg(CASE WHEN t.y <= f.naive_forec THEN 1.0 ELSE 0.0 END)")} AS naive_calibration,
           {sql_round6(f"2 * CASE WHEN sum(abs(t.y)) <> 0 THEN sum(CASE WHEN t.y >= f.naive_forec THEN {_TAU} * (t.y - f.naive_forec) ELSE ({_TAU} - 1) * (t.y - f.naive_forec) END) / sum(abs(t.y)) ELSE 0.0 END")} AS naive_wpinball
    FROM truth t
    JOIN fc f USING (doc_id, pos)
    JOIN scale2 s2 ON s2.doc_id = t.doc_id
    GROUP BY t.doc_id
    """,
)
def quantile_eval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four per-series quantile-loss metrics at τ=0.8 for the Naive
    forecast in ONE truth⋈fc⋈scale aggregate — pinball loss
    (fforma/metrics/numpy/metrics.py:245-270), RMSSE (:182-205, scale =
    in-sample seasonal-naive MSE), quantile calibration (:272-296:
    fraction of obs with y ≤ ŷ), and the scaled weighted pinball
    (:298-327: 2·Σpinball/Σ|y|). Catalyst aggregates only."""
    train, truth, fc = _events_split(spark, sf_dir)
    shifted = train.select(
        "doc_id", (F.col("pos") + _S).alias("pos"), F.col("val").alias("_pv")
    )
    scale2 = (
        train.join(shifted, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.avg(F.pow(F.col("val") - F.col("_pv"), 2)).alias("mse_scale"))
    )
    j = truth.join(fc, ["doc_id", "pos"]).join(scale2, "doc_id")
    e = F.col("y") - F.col("naive_forec")
    pinball = F.avg(
        F.when(e >= 0, _TAU * e).otherwise((_TAU - 1) * e)
    )
    rmsse = F.when(
        F.first("mse_scale") > 0,
        100 * F.sqrt(F.avg(e * e) / F.first("mse_scale")),
    )
    pinball_sum = F.sum(
        F.when(e >= 0, _TAU * e).otherwise((_TAU - 1) * e)
    )
    wp = F.when(
        F.sum(F.abs(F.col("y"))) != 0,
        2 * pinball_sum / F.sum(F.abs(F.col("y"))),
    ).otherwise(F.lit(0.0))
    return j.groupBy("doc_id").agg(
        stable_round6(pinball).alias("naive_pinball"),
        stable_round6(rmsse).alias("naive_rmsse"),
        stable_round6(
            F.avg(F.when(F.col("y") <= F.col("naive_forec"), 1.0).otherwise(0.0))
        ).alias("naive_calibration"),
        stable_round6(wp).alias("naive_wpinball"),
    )


# ---------------------------------------------------------------------------
# Remaining filter/reshape/set-op coverage (SURVEY §2.2/§2.7/§2.8/§2.10)
# ---------------------------------------------------------------------------


@register(
    "explode_panel_documents",
    f"""
    SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos, tokens[g.i] AS val
    FROM ({SEQUENCES_FROM_DOCUMENTS_SQL}) seqs,
         UNNEST(generate_series(1, len(tokens))) AS g(i)
    """,
)
def explode_panel_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wide→long posexplode (fforma/utils/reshaping.py:61-90)."""
    seq = sequences_from_documents(spark, sf_dir)
    return seq.select(
        "doc_id", F.posexplode("tokens").alias("pos", "val")
    ).select("doc_id", F.col("pos").cast("long"), "val")


@register(
    "distinct_lang_source",
    """
    SELECT DISTINCT lang, source FROM documents
    """,
)
def distinct_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DISTINCT (unique() analog, fforma/utils/m4_data.py:170)."""
    return load_table(spark, sf_dir, "documents").select("lang", "source").distinct()


_BT_CUTS = [24, 32, 40]


@register(
    "rolling_backtest_events",
    f"""
    WITH panel AS ({PANEL_FROM_EVENTS_SQL}),
    cuts AS (SELECT unnest([{", ".join(map(str, _BT_CUTS))}]) AS cutoff),
    ok AS (
        SELECT p.doc_id, c.cutoff
        FROM (SELECT doc_id, max(pos) AS mx FROM panel GROUP BY doc_id) p
        JOIN cuts c ON p.mx >= c.cutoff + {_H} - 1
    ),
    last_train AS (
        SELECT o.doc_id, o.cutoff, p.val AS last_v
        FROM ok o JOIN panel p
          ON p.doc_id = o.doc_id AND p.pos = o.cutoff - 1
    ),
    truth AS (
        SELECT o.doc_id, o.cutoff, p.val AS y
        FROM ok o JOIN panel p
          ON p.doc_id = o.doc_id
         AND p.pos >= o.cutoff AND p.pos < o.cutoff + {_H}
    )
    SELECT t.cutoff,
           count(*) AS n_obs,
           floor((200 * avg(CASE WHEN abs(t.y) + abs(l.last_v) <> 0
                 THEN abs(t.y - l.last_v) / (abs(t.y) + abs(l.last_v)) END)) * 1000000.0 + 0.5) / 1000000.0 AS naive_smape
    FROM truth t JOIN last_train l ON l.doc_id = t.doc_id AND l.cutoff = t.cutoff
    GROUP BY t.cutoff
    """,
)
def rolling_backtest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest (fforma/experiments/business/
    base_forecasts.py:77-110): per cutoff, train < cutoff → Naive
    forecast → sMAPE over [cutoff, cutoff+h). The cutoff loop is a
    cutoffs-dim crossjoin, not a driver loop — one Spark job."""
    panel = panel_from_events(spark, sf_dir)
    ok = cutoff_keys(panel, _BT_CUTS, _H)
    last_train = ok.join(
        panel,
        (panel["doc_id"] == ok["doc_id"]) & (panel["pos"] == ok["cutoff"] - 1),
    ).select(ok["doc_id"], "cutoff", F.col("val").alias("last_v"))
    truth = ok.join(
        panel,
        (panel["doc_id"] == ok["doc_id"])
        & (panel["pos"] >= ok["cutoff"])
        & (panel["pos"] < ok["cutoff"] + _H),
    ).select(ok["doc_id"], "cutoff", F.col("val").alias("y"))
    j = truth.join(last_train, ["doc_id", "cutoff"])
    e = F.abs(F.col("y") - F.col("last_v"))
    sc = F.abs(F.col("y")) + F.abs(F.col("last_v"))
    return j.groupBy("cutoff").agg(
        F.count("*").alias("n_obs"),
        stable_round6(200 * F.avg(F.when(sc != 0, e / sc))).alias(
            "naive_smape"
        ),
    )


@register("quantile_forecasts_documents")  # rows-only: IRLS/ADF not SQL
def quantile_forecasts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile AR forecasts per doc in ONE mapInPandas pass — the
    plain q10/q50/q90 IRLS pinball regression on AR lags
    (fforma/base/_quantile_models.py:49-225 semantics) AND the
    reference's ADF-differencing branch (:140-151, 210-214), with the
    chosen depth reported as n_diffs. Whale protection armed at the
    production cap (docs ≤ cap are bit-identical; a 200k-token doc
    enters the sequential kernels as its trailing window)."""
    from fforma_spark.functions.quantile import quantile_forecasts

    seq = sequences_from_documents(spark, sf_dir)
    return quantile_forecasts(seq, h=8, max_series_len=_SEQ_KERNEL_CAP)


@register(
    "pooled_eval_events",
    f"""
    WITH fc AS ({_SQL_FC}),
    panel AS ({PANEL_FROM_EVENTS_SQL}),
    stats AS (
        SELECT doc_id, max(pos) + 1 - {_H} AS cutoff
        FROM panel GROUP BY doc_id HAVING max(pos) + 1 > {_H} + {_S}
    ),
    truth AS (
        SELECT p.doc_id, p.pos - s.cutoff AS pos, p.val AS y
        FROM panel p JOIN stats s USING (doc_id)
        WHERE p.pos >= s.cutoff
    )
    SELECT
    {", ".join(
        f'''{sql_round6(f"200 * avg(CASE WHEN abs(y) + abs({m}_forec) <> 0 THEN abs(y - {m}_forec) / (abs(y) + abs({m}_forec)) END)")} AS {m}_smape,
        {sql_round6(f"avg(abs(y - {m}_forec))")} AS {m}_mae'''
        for m in ("naive", "snaive", "rwd", "avg")
    )}
    FROM truth t JOIN fc USING (doc_id, pos)
    """,
)
def pooled_eval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-obs POOLED evaluation (fforma/utils/utils.py:257-294): one
    row, metric over all concatenated observations — not per-series-
    then-mean. Single global aggregate."""
    from fforma_spark.functions.metrics import evaluate_models_per_obs

    _, truth, fc = _events_split(spark, sf_dir)
    out = evaluate_models_per_obs(truth, fc, _FC4)
    return out.select(
        *[stable_round6(c).alias(c) for c in out.columns]
    )


@register(
    "weighted_summary_events",
    f"""
    WITH ev AS ({_SQL_EVAL}),
    per AS (
        SELECT CAST(CAST(doc_id AS BIGINT) % 3 AS VARCHAR) AS grp,
               CAST(count(*) * {_H} AS BIGINT) AS n_obs,
               avg(naive_smape) AS naive_smape,
               avg(snaive_smape) AS snaive_smape
        FROM ev GROUP BY 1
    ),
    avgr AS (
        SELECT 'Average' AS grp,
               CAST(sum(n_obs) AS BIGINT) AS n_obs,
               sum(naive_smape * n_obs) / sum(n_obs) AS naive_smape,
               sum(snaive_smape * n_obs) / sum(n_obs) AS snaive_smape
        FROM per
    )
    SELECT grp, n_obs,
           {sql_round6('naive_smape')} AS naive_smape,
           {sql_round6('snaive_smape')} AS snaive_smape
    FROM (SELECT * FROM per UNION ALL SELECT * FROM avgr) u
    """,
)
def weighted_summary_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Obs-weighted summary across groups (sum(mean_loss·obs)/sum(obs),
    fforma/experiments/summary/base.py:33-39): per-group mean sMAPE plus
    the obs-weighted grand 'Average' row. Group key = doc_id mod 3 — a
    deterministic stand-in for the reference's frequency groups."""
    from fforma_spark.functions.metrics import group_weighted_summary

    ev = _eval_events(*_events_split(spark, sf_dir)).withColumn(
        "grp", (F.col("doc_id").cast("long") % 3).cast("string")
    )
    out = group_weighted_summary(
        ev, "grp", ["naive_smape", "snaive_smape"], _H
    )
    return out.select(
        "grp",
        "n_obs",
        stable_round6("naive_smape").alias("naive_smape"),
        stable_round6("snaive_smape").alias("snaive_smape"),
    )


@register(
    "train_horizontal_events",
    f"""
    WITH panel AS ({PANEL_FROM_EVENTS_SQL})
    SELECT doc_id, CAST(count(*) AS INT) AS n,
           {sql_round6('arg_min(val * 2.0 + 1.0, pos)')} AS x_first,
           {sql_round6('arg_max(val * 2.0 + 1.0, pos)')} AS x_last,
           {sql_round6('arg_min(val, pos)')} AS y_first,
           {sql_round6('arg_max(val, pos)')} AS y_last
    FROM panel GROUP BY doc_id
    """,
)
def train_horizontal_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """train_to_horizontal (fforma/utils/reshaping.py:42-59): zip the
    X and y long panels into per-doc aligned arrays with the length
    assert IN THE PLAN; summarized as (n, sums) for the hash gate."""
    from fforma_spark.operators.reshape import train_to_horizontal

    panel = panel_from_events(spark, sf_dir)
    x_panel = panel.select(
        "doc_id", "pos", (F.col("val") * 2.0 + 1.0).alias("val")
    )
    th = train_to_horizontal(x_panel, panel)
    return th.select(
        "doc_id",
        F.col("n"),
        stable_round6(F.element_at("X", 1)).alias("x_first"),
        stable_round6(F.element_at("X", F.col("n"))).alias("x_last"),
        stable_round6(F.element_at("y", 1)).alias("y_first"),
        stable_round6(F.element_at("y", F.col("n"))).alias("y_last"),
    )


_SP_PREFIXES = ["Q", "D"]


@register(
    "seasonal_onehot_documents",
    f"""
    SELECT doc_id,
           CAST(CASE WHEN substring(doc_id, 1, 1) = 'Q' THEN 1 ELSE 0 END AS INT) AS sp_Q,
           CAST(CASE WHEN substring(doc_id, 1, 1) = 'D' THEN 1 ELSE 0 END AS INT) AS sp_D
    FROM ({_TAGGED_SEQ_SQL}) tg
    """,
)
def seasonal_onehot_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot seasonal-period dummies from the id prefix
    (fforma/experiments/experiment.py:420)."""
    from fforma_spark.operators.reshape import seasonal_onehot

    return seasonal_onehot(_tagged_sequences(spark, sf_dir), _SP_PREFIXES)


_EBT_CUTS = [30, 36, 42, 48, 54, 60]
_EBT_H, _EBT_S = 6, 7


@register(
    "ensemble_backtest_events",
    ensemble_backtest_sql(PANEL_FROM_EVENTS_SQL, _EBT_CUTS, _EBT_H, _EBT_S),
)
def ensemble_backtest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production t−1/t rolling ensemble backtest (fforma/experiments/
    business/ensemble_forecasts.py:64-158): softmin weights fitted on
    each cutoff's validation errors ensemble the NEXT cutoff's
    forecasts; 5 test cutoffs, one Catalyst plan (cutoffs = broadcast
    dim, never a driver loop)."""
    panel = panel_from_events(spark, sf_dir)
    return ensemble_backtest(panel, _EBT_CUTS, _EBT_H, _EBT_S)


@register("qra_ensembles_documents")  # rows-only: PCA/lasso+IRLS not SQL
def qra_ensembles_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both regression-averaging ensembles, tagged by method:
    method='fqra' — Factor QRA (fforma/meta_learner/
    _regression_averaging.py:9-56 over fforma/base/_models.py:475-498):
    per series, PCA the validation base-forecast matrix, quantile-
    regress actuals on the factors, ensemble the test forecasts;
    method='lqra' — Lasso QRA (:58-105 over _models.py:500-554):
    pinball + L1-to-equal-weights fit on validation forecasts, applied
    at the test cutoff. One mapInPandas pass over shared base
    forecasts emits both."""
    from fforma_spark.functions.regression_averaging import (
        regression_averaging_forecasts,
    )

    ra = regression_averaging_forecasts(
        sequences_from_documents(spark, sf_dir),
        tau=0.5, n_components=2, lambd=1.0,
        max_series_len=_SEQ_KERNEL_CAP,
    )
    return _round6(ra, ["y_hat"])


@register("fforma_ensemble_documents")  # rows-only: GBT training is not SQL
def fforma_ensemble_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FFORMA pipeline end-to-end (fforma/fforma_python_futuro.
    py:168-260): base models → per-series errors vs Naive2 → T0
    features → numpy GBT meta-learner (driver, 1 row/series) →
    distributed weight scoring → weighted rollup y_hat = Σ w·pred."""
    from fforma_spark.functions.ensemble import weighted_rollup
    from fforma_spark.functions.features import features_wide
    from fforma_spark.functions.meta_learner import (
        fforma_weights_df,
        fit_fforma_spark,
    )
    from fforma_spark.functions.metrics import evaluate_with_owa, mase_scale
    from fforma_spark.functions.models import (
        base_forecasts,
        holdout_truth,
        train_split,
    )

    seq = sequences_from_documents(spark, sf_dir)
    train = train_split(seq, default_h=8).cache()
    fc = base_forecasts(seq, default_h=8).cache()
    truth = holdout_truth(seq, default_h=8)
    model_cols = [
        "naive_forec", "snaive_forec", "rw_drift_forec", "average_forec",
        "ses_forec", "naive2_forec",
    ]
    scale = mase_scale(
        explode_panel(train).select("doc_id", "pos", "val"), F.lit(1)
    )
    ev = evaluate_with_owa(truth, fc, model_cols, scale, bench="naive2_forec")
    loss_cols = [c.removesuffix("_forec") + "_owa" for c in model_cols]
    feats = features_wide(train).na.fill(0.0)
    errors = ev.select("doc_id", *loss_cols).na.fill(0.0)
    model, kept, fcols = fit_fforma_spark(
        feats, errors, loss_cols, benchmark="naive2_owa",
        n_rounds=20, max_depth=3,
    )
    w = fforma_weights_df(spark, model, feats, fcols, kept)
    kept_models = [m.removesuffix("_owa") + "_forec" for m in kept]
    out = weighted_rollup(fc, w, kept_models, kept)
    return out.withColumn("y_hat", stable_round6("y_hat"))


# Training-data pipeline registrations (dedup / similarity / text /
# multimodal) — imported for side effects.
import fforma_spark.pipeline.queries  # noqa: E402,F401


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver smoke entry: the full T1→T2 cascade + LOCF gap-fill."""
    panel = panel_from_events(spark, sf_dir)
    t1 = rollup_tier(panel, _T1_BUCKET)
    t2 = rollup_from_tier(t1, _T2_FACTOR)
    return locf_fill(t2, ["vmean"], key="bucket").select(
        "doc_id", "bucket", "cnt", "vmin", "vmax", "vmean", "is_gap"
    )
