"""Text analysis operators over the documents table: language ID,
quality scoring, token counting, document fingerprinting.

On Spark all four are pure Catalyst column expressions computed in
one :func:`text_stats` projection (JVM-side, whole-stage codegen, zero
shuffle — a straight scan→project plan that parallelizes linearly at
any scale). Each has a DuckDB SQL twin built from the same cross-engine
primitives so values hash-match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from fforma_spark.pipeline.common import MOD, h64, h64_sql, words_col, words_sql

# Stopword sets for the n-gram/stopword language heuristic. Kept tiny
# and alphanumeric-only (safe to inline into SQL literals).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "you", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "no"],
    "de": ["der", "die", "und", "den", "von", "zu", "das", "mit", "ist", "im"],
    "fr": ["le", "les", "des", "et", "une", "du", "dans", "est", "pour", "au"],
}
LANGS = sorted(STOPWORDS)  # deterministic tie-break order

# BPE-ish token regex: runs of up to 4 letters, single digits, or any
# single non-alphanumeric-non-space char. Same semantics in Java regex
# (Spark) and RE2-ish DuckDB regex.
BPE_RE = "[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]"


def _stop_count(words: Column, stops: list[str]) -> Column:
    return F.size(F.filter(words, lambda w: w.isin(*stops)))


def _stop_count_sql(words: str, stops: list[str]) -> str:
    inlist = ", ".join(f"'{s}'" for s in stops)
    return f"len(list_filter({words}, w -> w IN ({inlist})))"


def lang_id_sql() -> str:
    """Heuristic language ID: argmax stopword-hit count per language,
    'und' when no stopword hits at all. Ties resolve to the FIRST
    language in LANGS order: folding forward with strict '>' means a
    later language must strictly beat the incumbent."""
    w = words_sql()
    hits = {lang: _stop_count_sql(w, STOPWORDS[lang]) for lang in LANGS}
    cols = ", ".join(f"{hits[lang]} AS hits_{lang}" for lang in LANGS)
    # same forward fold as the Spark side (first language wins ties)
    best = "'und'"
    best_n = "0"
    for lang in LANGS:
        best = f"CASE WHEN hits_{lang} > {best_n} THEN '{lang}' ELSE {best} END"
        best_n = f"CASE WHEN hits_{lang} > {best_n} THEN hits_{lang} ELSE {best_n} END"
    return f"""
        SELECT doc_id, {best} AS lang_pred, hits_en, hits_es, hits_de, hits_fr
        FROM (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, {cols}
            FROM documents
        ) h
    """


def quality_score_sql() -> str:
    """Heuristic quality features + composite score in [0,1]: length,
    word stats, stopword ratio, punctuation ratio. Score: clamp to
    [0,1] of 0.3*min(n_words/100,1) + 0.4*min(stop_ratio*5,1)
    + 0.3*(1 - min(punct_ratio*10,1))."""
    w = words_sql()
    stop = _stop_count_sql(w, STOPWORDS["en"])
    return f"""
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               n_words, stop_hits, n_punct,
               CAST(n_chars_ - (n_words - 1) AS DOUBLE) / n_words AS mean_word_len,
               0.3 * least(n_words / 100.0, 1.0)
               + 0.4 * least((CAST(stop_hits AS DOUBLE) / n_words) * 5.0, 1.0)
               + 0.3 * (1.0 - least((CAST(n_punct AS DOUBLE) / n_chars_) * 10.0, 1.0))
               AS quality
        FROM (
            SELECT doc_id,
                   len({w}) AS n_words,
                   {stop} AS stop_hits,
                   length(text) AS n_chars_,
                   length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
                       AS n_punct
            FROM documents
        ) q
    """


def token_counts_sql() -> str:
    return f"""
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               len({words_sql()}) AS ws_tokens,
               len(regexp_extract_all(text, '{BPE_RE}')) AS bpe_tokens
        FROM documents
    """


def fingerprint_sql() -> str:
    """Order-sensitive rolling document fingerprint: left fold of
    (acc*31 + h64(word) % MOD) % MOD over the word sequence — the
    classic polynomial rolling hash."""
    wh = f"list_transform({words_sql()}, w -> {h64_sql('w')} % {MOD})"
    return f"""
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT), {wh}),
                           (acc, x) -> (acc * 31 + x) % {MOD}) AS fingerprint
        FROM documents
    """


def text_stats(docs: DataFrame) -> DataFrame:
    """All four text operators (language ID, quality scoring, token
    counting, fingerprinting) in ONE scan→project pass — a single
    whole-stage-codegen stage, zero shuffles, one read of `text`.

    Column semantics are those of the four DuckDB twins that
    :func:`text_stats_sql` joins; this is the production shape (you
    never want four scans of a 100 TB corpus when one projection
    computes every per-doc text stat)."""
    w = words_col()
    counts = {lang_: _stop_count(w, STOPWORDS[lang_]) for lang_ in LANGS}
    best = F.lit("und")
    best_n = F.lit(0)
    for lang_ in LANGS:
        take = counts[lang_] > best_n
        best = F.when(take, F.lit(lang_)).otherwise(best)
        best_n = F.when(take, counts[lang_]).otherwise(best_n)
    n_words = F.size(w)
    stop_hits = _stop_count(w, STOPWORDS["en"])
    n_chars = F.length("text")
    punct = n_chars - F.length(F.regexp_replace("text", "[^A-Za-z0-9 ]", ""))
    mean_wlen = (n_chars - (n_words - 1)) / n_words
    score = (
        0.3 * F.least(n_words / F.lit(100.0), F.lit(1.0))
        + 0.4 * F.least((stop_hits / n_words) * 5.0, F.lit(1.0))
        + 0.3 * (1.0 - F.least((punct / n_chars) * 10.0, F.lit(1.0)))
    )
    wh = F.transform(w, lambda x: h64(x) % MOD)
    fp = F.aggregate(
        wh, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % MOD
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        best.alias("lang_pred"),
        *[counts[lang_].alias(f"hits_{lang_}") for lang_ in LANGS],
        n_words.alias("n_words"),
        stop_hits.alias("stop_hits"),
        punct.alias("n_punct"),
        mean_wlen.alias("mean_word_len"),
        score.alias("quality"),
        F.size(F.expr(f"regexp_extract_all(text, '{BPE_RE}', 0)")).alias(
            "bpe_tokens"
        ),
        fp.alias("fingerprint"),
    )


def text_stats_sql() -> str:
    """DuckDB twin of :func:`text_stats` — joins the four single-op
    twins on doc_id (each is 1 row/doc; correctness-only path)."""
    return f"""
        SELECT l.doc_id, l.lang_pred,
               l.hits_en, l.hits_es, l.hits_de, l.hits_fr,
               q.n_words, q.stop_hits, q.n_punct, q.mean_word_len,
               q.quality, t.bpe_tokens, f.fingerprint
        FROM ({lang_id_sql()}) l
        JOIN ({quality_score_sql()}) q USING (doc_id)
        JOIN ({token_counts_sql()}) t USING (doc_id)
        JOIN ({fingerprint_sql()}) f USING (doc_id)
    """
