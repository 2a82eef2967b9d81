"""Text-analysis operators over `documents` (SURVEY.md §2.2 "LLM-data-
pipeline operators"): stats, token counting, language-ID heuristic,
quality scoring, document fingerprinting.

All hot-path expressions are built-in column functions (JVM-side,
codegen'd) — no Python UDFs, with ONE deliberate exception: Unicode
NFC normalization (text_unicode_nfc_profile) has no Spark builtin and
runs as an Arrow-batched pandas UDF (row-local, scan-speed).
Fingerprints use md5 so the oracle can reproduce them bit-for-bit.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from etl_gcp_function_tmabrasil_spark.catalog import load_table
from etl_gcp_function_tmabrasil_spark.queries._util import WS_CLASS, davg, dsum

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately small so the CASE-expression oracle twin stays
#: readable; real pipelines would ship a broadcast lexicon.
_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "fr": ["le", "la", "et"],
    "de": ["der", "die", "und"],
}


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup per (lang, source): doc counts, char stats, token
    totals. One shuffle on a bounded key — safe at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            davg("n_chars").alias("avg_chars"),
            F.sum(n_tokens.cast("long")).alias("total_tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


_STATS_SQL = """
SELECT lang, source, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_chars,
  CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
  MIN(n_chars) AS min_chars,
  MAX(n_chars) AS max_chars
FROM documents GROUP BY lang, source ORDER BY lang, source
"""


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token accounting: whitespace tokens, distinct tokens,
    type-token ratio, plus a BPE-ish subword proxy (4-char shingle count
    = ceil(len/4) per token) — all as built-in expressions."""
    docs = load_table(spark, sf_dir, "documents")
    # Materialize toks and the distinct-count once: split/array_distinct
    # inlined per use re-evaluate inside the interpreted higher-order
    # aggregate (measured ~30% slower at sf0.1). Multi-referenced
    # non-cheap aliases survive CollapseProject, so each string is split
    # exactly once. ceil(len/4) = (len+3) div 4 stays in integer math.
    a = docs.select("doc_id", F.split("text", " ").alias("toks"))
    b = a.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct_tokens"),
    )
    return b.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        F.round(
            F.col("n_distinct_tokens").cast("double") / F.col("n_tokens"), 6
        ).alias("type_token_ratio"),
        F.expr("aggregate(toks, 0, (acc, t) -> acc + int((length(t) + 3) div 4))")
        .alias("n_subwords"),
    )


_TOKENS_SQL = """
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_tokens,
  ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')), 6) AS type_token_ratio,
  CAST(list_sum(list_transform(string_split(text, ' '),
                               t -> CAST(CEIL(len(t) / 4.0) AS INT))) AS INT) AS n_subwords
FROM documents ORDER BY doc_id
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language-ID heuristic: score each doc per language
    by marker-token hits, predict argmax (deterministic tie order), and
    report confusion counts vs the labeled lang."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scores = [
        F.size(F.filter(toks, lambda t: t.isin(ws))).alias(f"score_{lang}")
        for lang, ws in _LANG_MARKERS.items()
    ]
    scored = docs.select("doc_id", "lang", *scores)
    # argmax with deterministic preference order en > es > fr > de on ties
    pred = (
        F.when(
            (F.col("score_en") >= F.col("score_es"))
            & (F.col("score_en") >= F.col("score_fr"))
            & (F.col("score_en") >= F.col("score_de"))
            & (F.col("score_en") > 0),
            "en",
        )
        .when(
            (F.col("score_es") >= F.col("score_fr"))
            & (F.col("score_es") >= F.col("score_de"))
            & (F.col("score_es") > 0),
            "es",
        )
        .when(
            (F.col("score_fr") >= F.col("score_de")) & (F.col("score_fr") > 0), "fr"
        )
        .when(F.col("score_de") > 0, "de")
        .otherwise("unknown")
    )
    return (
        scored.select("lang", pred.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


def _langid_sql() -> str:
    score = {
        lang: f"len(list_filter(string_split(text, ' '), t -> t IN ({', '.join(repr(w) for w in ws)})))"
        for lang, ws in _LANG_MARKERS.items()
    }
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
    {score['en']} AS score_en,
    {score['es']} AS score_es,
    {score['fr']} AS score_fr,
    {score['de']} AS score_de
  FROM documents
)
SELECT lang,
  CASE WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de
            AND score_en > 0 THEN 'en'
       WHEN score_es >= score_fr AND score_es >= score_de AND score_es > 0 THEN 'es'
       WHEN score_fr >= score_de AND score_fr > 0 THEN 'fr'
       WHEN score_de > 0 THEN 'de'
       ELSE 'unknown' END AS predicted,
  COUNT(*) AS n
FROM scored GROUP BY lang, predicted ORDER BY lang, predicted
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length, mean word length, stopword
    ratio, repetition ratio — the standard cheap pretraining filters."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop = ["the", "and", "of", "a", "in", "to"]
    n_tok = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(stop))).cast("double") / n_tok
    rep_ratio = 1.0 - F.size(F.array_distinct(toks)).cast("double") / n_tok
    mean_wlen = (F.col("n_chars") - (n_tok - 1)).cast("double") / n_tok
    quality = (
        F.when(F.col("n_chars") < 50, 0.1).otherwise(0.5)
        + F.when(stop_ratio > 0.05, 0.25).otherwise(0.0)
        + F.when(rep_ratio < 0.8, 0.25).otherwise(0.0)
    )
    return docs.select(
        "doc_id",
        "n_chars",
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(rep_ratio, 6).alias("repetition_ratio"),
        F.round(quality, 6).alias("quality"),
    )


#: Quality-score SQL body WITHOUT the final ORDER BY — the single
#: source of truth for the heuristic's oracle twin. Reused by
#: dedup_approx._cluster_representative_sql (wrapped as a subquery) so
#: a tweak to the heuristic cannot drift between the quality gate and
#: the dedup decision gate.
QUALITY_SQL_BODY = """
WITH t AS (
  SELECT doc_id, n_chars,
    string_split(text, ' ') AS toks,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
m AS (
  SELECT doc_id, n_chars, n_tok,
    CAST(len(list_filter(toks, x -> x IN ('the','and','of','a','in','to'))) AS DOUBLE)
      / n_tok AS stop_ratio,
    1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / n_tok AS rep_ratio,
    CAST(n_chars - (n_tok - 1) AS DOUBLE) / n_tok AS mean_wlen
  FROM t
)
SELECT doc_id, n_chars,
  ROUND(mean_wlen, 6) AS mean_word_len,
  ROUND(stop_ratio, 6) AS stopword_ratio,
  ROUND(rep_ratio, 6) AS repetition_ratio,
  ROUND(CASE WHEN n_chars < 50 THEN 0.1 ELSE 0.5 END
        + CASE WHEN stop_ratio > 0.05 THEN 0.25 ELSE 0.0 END
        + CASE WHEN rep_ratio < 0.8 THEN 0.25 ELSE 0.0 END, 6) AS quality
FROM m
"""

_QUALITY_SQL = QUALITY_SQL_BODY + "ORDER BY doc_id"


def text_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/diversity filters per document: top-token
    ratio, Gini-Simpson diversity over unigram counts, duplicate-bigram
    fraction. Stands in for the reference's unimplemented processing
    body (`/root/reference/main.py:17`) on the text-curation side.

    All ratios are quotients of exact integer aggregates (counts, sums
    of squared counts), so there is no float-summation-order divergence
    vs the oracle. Scale story: per-document metrics never shuffle —
    unigram run-length statistics come from ONE aggregate() pass over
    the sorted token array (sum of squared run lengths, max run,
    distinct count), and bigram dedup is array_distinct; the whole
    query is an embarrassingly-parallel projection plus the output
    sort. (An earlier explode → groupBy(doc_id, token) formulation
    shuffled ~1 row per token with near-unique keys — 2.8 s vs 0.3 s
    at sf0.1, and strictly worse at any scale.)"""
    # text IS NOT NULL: the oracle's unnest-CTE inner join drops
    # NULL-text docs (unnest of NULL is zero rows) where this projection
    # would emit an all-NULL metrics row — filter so engines agree.
    # rebalance="compute" (r15): per-row work here is an array_sort +
    # interpreted aggregate() fold + bigram array_distinct per document
    # — amplified far beyond scan cost, so the layout-guarded spread
    # keeps it off a single task (no-op on healthy layouts; the filter
    # still pushes through the exchange to the scan).
    docs = load_table(spark, sf_dir, "documents", rebalance="compute").filter(
        F.col("text").isNotNull()
    )
    toks = F.split("text", " ")
    # bigrams/runs referenced twice so CollapseProject keeps the
    # interpreted HOFs materialized instead of inlining them per use.
    with_bi = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.expr(
            "aggregate(array_sort(toks),"
            " named_struct('prev', cast(null as string), 'run', 0L,"
            "              'ss', 0L, 'mx', 0L, 'nd', 0L),"
            " (acc, x) -> if(x <=> acc.prev,"
            "   named_struct('prev', acc.prev, 'run', acc.run + 1L,"
            "                'ss', acc.ss, 'mx', acc.mx, 'nd', acc.nd),"
            "   named_struct('prev', x, 'run', 1L,"
            "                'ss', acc.ss + acc.run * acc.run,"
            "                'mx', greatest(acc.mx, acc.run),"
            "                'nd', acc.nd + 1L)),"
            " acc -> named_struct('ss', acc.ss + acc.run * acc.run,"
            "                     'mx', greatest(acc.mx, acc.run),"
            "                     'nd', acc.nd))"
        ).alias("runs"),
        F.expr(
            "zip_with(slice(toks, 1, size(toks) - 1),"
            " slice(toks, 2, size(toks) - 1), (a, b) -> concat(a, ' ', b))"
        ).alias("bigrams"),
    )
    agg = with_bi.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("runs.ss").alias("sum_sq"),
        F.col("runs.mx").alias("max_cnt"),
        F.col("runs.nd").alias("n_distinct_tokens"),
        F.size("bigrams").alias("n_bigrams"),
        (F.size("bigrams") - F.size(F.array_distinct("bigrams"))).alias(
            "dup_bigrams"
        ),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        F.round(F.col("max_cnt").cast("double") / F.col("n_tokens"), 6).alias(
            "top_token_ratio"
        ),
        F.round(
            F.lit(1.0)
            - F.col("sum_sq").cast("double")
            / (F.col("n_tokens") * F.col("n_tokens")),
            6,
        ).alias("simpson_diversity"),
        F.when(
            F.col("n_bigrams") > 0,
            F.round(F.col("dup_bigrams").cast("double") / F.col("n_bigrams"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


_DIVERSITY_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
bi AS (
  SELECT doc_id,
    CAST(len(toks) - 1 AS BIGINT) AS n_bigrams,
    CAST(len(toks) - 1 AS BIGINT)
      - CAST(len(list_distinct(list_transform(range(1, len(toks)),
          i -> toks[i] || ' ' || toks[i + 1]))) AS BIGINT) AS dup_bigrams
  FROM t
),
c AS (
  SELECT doc_id, tok, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  GROUP BY doc_id, tok
),
a AS (
  SELECT doc_id,
    CAST(SUM(cnt) AS BIGINT) AS n_tokens,
    CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq,
    MAX(cnt) AS max_cnt,
    COUNT(*) AS n_distinct_tokens
  FROM c GROUP BY doc_id
)
SELECT a.doc_id, a.n_tokens, a.n_distinct_tokens,
  ROUND(CAST(a.max_cnt AS DOUBLE) / a.n_tokens, 6) AS top_token_ratio,
  ROUND(1.0 - CAST(a.sum_sq AS DOUBLE) / (a.n_tokens * a.n_tokens), 6)
    AS simpson_diversity,
  CASE WHEN bi.n_bigrams > 0
       THEN ROUND(CAST(bi.dup_bigrams AS DOUBLE) / bi.n_bigrams, 6)
       ELSE 0.0 END AS dup_bigram_frac
FROM a JOIN bi USING (doc_id)
ORDER BY doc_id
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized text plus
    a 60-bit integer fingerprint (hex prefix) — engine-reproducible, the
    key for exact dedup at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim("text"), WS_CLASS, " ")
    fp = F.md5(norm)
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fingerprint60"),
    )


_FINGERPRINT_SQL = f"""
SELECT doc_id,
  md5(regexp_replace(trim(text), '{WS_CLASS}', ' ', 'g')) AS fingerprint,
  ('0x' || substr(md5(regexp_replace(trim(text), '{WS_CLASS}', ' ', 'g')), 1, 15))::BIGINT
    AS fingerprint60
FROM documents ORDER BY doc_id
"""


def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-length histogram in 100-char buckets per language."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("n_chars") - F.col("n_chars") % 100).alias("char_bucket")
    return (
        docs.groupBy("lang", bucket)
        .agg(F.count(F.lit(1)).alias("n_docs"), dsum("n_chars").alias("bucket_chars"))
        .orderBy("lang", "char_bucket")
    )


_HISTOGRAM_SQL = """
SELECT lang, n_chars - n_chars % 100 AS char_bucket, COUNT(*) AS n_docs,
  CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) AS bucket_chars
FROM documents GROUP BY lang, char_bucket ORDER BY lang, char_bucket
"""


#: Gopher's stop-word set (Rae et al. 2021, arXiv:2112.11446 §A1.1).
#: The published rule requires >= 2 DISTINCT members; this corpus's
#: synthetic vocabulary contains exactly ONE list member ('the'), so
#: the threshold is scaled to >= 1 — keeping the rule testable in both
#: the pass and fail directions (382/500 docs pass at sf0.01) instead
#: of constant-false.
_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_GOPHER_STOP_MIN = 1


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition/format quality rules (Rae et al. 2021,
    arXiv:2112.11446 §A1.1) — the published heuristic filter suite
    MassiveText was cleaned with, adapted to the corpus surface this
    engine's documents table has (single-line, space-tokenized):

    - word count within [50, 100000] (the published lower/upper bound);
    - mean word length within [3, 10];
    - >= 80 % of words contain at least one alphabetic character;
    - distinct members of Gopher's 8-word stop-word set present (the
      published threshold is 2; scaled to the synthetic vocabulary —
      see _GOPHER_STOPS).

    Per doc: the four metrics, each rule's verdict folded into a
    deterministic ``fail_reasons`` list, and the final keep flag. All
    row-local `pyspark.sql.functions` expressions (split / size /
    filter / array_intersect) — no UDF, full codegen, embarrassingly
    parallel at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    stops = ",".join(f"'{s}'" for s in _GOPHER_STOPS)
    d = docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("wc"),
        F.expr(
            "size(filter(split(text, ' '), x -> x rlike '[a-zA-Z]'))"
        ).alias("n_alpha"),
        F.expr(
            f"size(array_intersect(split(text, ' '), array({stops})))"
        ).alias("stop_hits"),
        "n_chars",
    )
    d = d.withColumn(
        "mean_word_len",
        F.round((F.col("n_chars") - (F.col("wc") - 1)).cast("double") / F.col("wc"), 6),
    ).withColumn(
        "alpha_frac", F.round(F.col("n_alpha").cast("double") / F.col("wc"), 6)
    )
    r_wc = F.col("wc").between(50, 100000)
    r_mwl = F.col("mean_word_len").between(3.0, 10.0)
    r_alpha = F.col("alpha_frac") >= 0.8
    r_stop = F.col("stop_hits") >= _GOPHER_STOP_MIN
    reasons = F.concat_ws(
        ",",
        F.when(~r_wc, F.lit("word_count")),
        F.when(~r_mwl, F.lit("mean_word_len")),
        F.when(~r_alpha, F.lit("alpha_frac")),
        F.when(~r_stop, F.lit("stop_words")),
    )
    return d.select(
        "doc_id",
        F.col("wc").alias("word_count"),
        "mean_word_len",
        "alpha_frac",
        "stop_hits",
        (r_wc & r_mwl & r_alpha & r_stop).alias("keep"),
        F.when(reasons == "", "none").otherwise(reasons).alias("fail_reasons"),
    ).orderBy("doc_id")


_GOPHER_SQL = f"""
WITH t AS (
  SELECT doc_id, n_chars, string_split(text, ' ') AS toks,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS wc
  FROM documents
),
m AS (
  SELECT doc_id, wc,
    ROUND(CAST(n_chars - (wc - 1) AS DOUBLE) / wc, 6) AS mean_word_len,
    ROUND(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
               AS DOUBLE) / wc, 6) AS alpha_frac,
    CAST(len(list_intersect(toks,
        [{",".join(f"'{s}'" for s in _GOPHER_STOPS)}])) AS BIGINT)
      AS stop_hits
  FROM t
),
v AS (
  SELECT *,
    wc BETWEEN 50 AND 100000 AS r_wc,
    mean_word_len BETWEEN 3.0 AND 10.0 AS r_mwl,
    alpha_frac >= 0.8 AS r_alpha,
    stop_hits >= {_GOPHER_STOP_MIN} AS r_stop
  FROM m
)
SELECT doc_id, wc AS word_count, mean_word_len, alpha_frac, stop_hits,
  (r_wc AND r_mwl AND r_alpha AND r_stop) AS keep,
  CASE WHEN r_wc AND r_mwl AND r_alpha AND r_stop THEN 'none'
       ELSE array_to_string(list_filter([
         CASE WHEN NOT r_wc THEN 'word_count' END,
         CASE WHEN NOT r_mwl THEN 'mean_word_len' END,
         CASE WHEN NOT r_alpha THEN 'alpha_frac' END,
         CASE WHEN NOT r_stop THEN 'stop_words' END], x -> x IS NOT NULL), ',')
  END AS fail_reasons
FROM v
ORDER BY doc_id
"""


def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language SHANNON ENTROPY of the token distribution — the
    information-theoretic corpus profile (low entropy = repetitive /
    templated text, the signal Gopher-style filters approximate with
    ratios): H = −Σ p·ln p over the language's unigram distribution,
    plus the normalized efficiency H / ln(V) (1.0 = uniform usage).

    Fixed-point discipline for a sum of doubles (the PageRank/PCA
    pattern): each token's term p·ln p is computed from EXACT counts,
    ROUNDED to 12 dp, and accumulated as DECIMAL — so the
    vocabulary-sized sum is order- and partitioning-independent and
    the oracle matches bit-for-bit. Work is two word-count-shaped
    aggregations (token counts, then the per-lang rollup) — the
    widest shuffle carries (lang, token, count), never text.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("lang").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term = F.round(p * F.log(p), 12).cast("decimal(28,12)")
    return (
        counts.join(F.broadcast(totals), "lang")
        .groupBy("lang")
        .agg(
            F.first("n").alias("n_tokens"),
            F.first("v").alias("vocab"),
            F.round(-F.sum(term).cast("double"), 6).alias("entropy"),
            F.round(
                -F.sum(term).cast("double")
                / F.log(F.first("v").cast("double")),
                6,
            ).alias("efficiency"),
        )
        .orderBy("lang")
    )


_ENTROPY_SQL = """
WITH counts AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
c AS (SELECT lang, tok, COUNT(*) AS c FROM counts GROUP BY lang, tok),
t AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v
      FROM c GROUP BY lang)
SELECT c.lang, MAX(t.n) AS n_tokens, MAX(t.v) AS vocab,
  ROUND(-CAST(SUM(CAST(ROUND((CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))
      * LN(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)), 12)
      AS DECIMAL(28,12))) AS DOUBLE), 6) AS entropy,
  ROUND(-CAST(SUM(CAST(ROUND((CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))
      * LN(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)), 12)
      AS DECIMAL(28,12))) AS DOUBLE)
      / LN(CAST(MAX(t.v) AS DOUBLE)), 6) AS efficiency
FROM c JOIN t ON c.lang = t.lang
GROUP BY c.lang
ORDER BY c.lang
"""


QUERIES = {
    "text_token_entropy": text_token_entropy,
    "text_gopher_rules": text_gopher_rules,
    "text_stats": text_stats,
    "text_token_count": text_token_count,
    "text_lang_id": text_lang_id,
    "text_quality_score": text_quality_score,
    "text_token_diversity": text_token_diversity,
    "text_fingerprint": text_fingerprint,
    "text_length_histogram": text_length_histogram,
}

ORACLE = {
    "text_token_entropy": _ENTROPY_SQL,
    "text_gopher_rules": _GOPHER_SQL,
    "text_stats": _STATS_SQL,
    "text_token_count": _TOKENS_SQL,
    "text_lang_id": _langid_sql(),
    "text_quality_score": _QUALITY_SQL,
    "text_token_diversity": _DIVERSITY_SQL,
    "text_fingerprint": _FINGERPRINT_SQL,
    "text_length_histogram": _HISTOGRAM_SQL,
}


# --- Corpus drift: Jensen-Shannon divergence per source (round 10) ------


def corpus_divergence_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's unigram
    distribution and the whole-corpus distribution — the standard
    corpus-drift / mixture-audit statistic (symmetric, bounded by
    ln 2, defined even where a source is missing words, unlike raw
    KL). A training-data pipeline tracks this per ingest source to
    catch a feed whose token mix silently shifts.

    JSD(P, C) = 0.5*KL(P||M) + 0.5*KL(C||M), M = (P+C)/2, with
    0*ln(0) = 0 for words absent from a source. Exactness follows the
    LM scorers' fixed-point idiom: each ln term is ROUNDed to 8 dp and
    summed as DECIMAL(20,8) — no float-accumulation order between
    engines.

    Scale: word counts are the usual vocabulary-sized shuffles; the
    KL(C||M) side needs every (source, vocab-word) pair, so the grid
    is |sources| x |vocab| — sources are an enumerable handful, the
    grid is a broadcast-shaped join, never corpus-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0)
    wc_s = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    n_s = words.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    wc_g = words.groupBy("w").agg(F.count(F.lit(1)).alias("cg"))
    n_g = words.agg(F.count(F.lit(1)).alias("ng"))
    grid = (
        n_s.crossJoin(F.broadcast(wc_g))
        .crossJoin(F.broadcast(n_g))
        .join(wc_s, ["source", "w"], "left")
        .select(
            "source",
            "n",
            (F.coalesce(F.col("c"), F.lit(0)) / F.col("n")).alias("p"),
            (F.col("cg") / F.col("ng")).alias("q"),
        )
        .withColumn("m", (F.col("p") + F.col("q")) / 2)
    )
    term_p = F.when(
        F.col("p") > 0, F.round(F.col("p") * F.log(F.col("p") / F.col("m")), 8)
    ).otherwise(F.lit(0.0))
    term_q = F.round(F.col("q") * F.log(F.col("q") / F.col("m")), 8)
    return (
        grid.groupBy("source", "n")
        .agg(
            F.sum(term_p.cast("decimal(20,8)")).alias("kl_pm"),
            F.sum(term_q.cast("decimal(20,8)")).alias("kl_qm"),
        )
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            F.round(
                ((F.col("kl_pm") + F.col("kl_qm")) / 2).cast("double"), 6
            ).alias("jsd"),
        )
        .orderBy("source")
    )


_JSD_SQL = """
WITH words AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
wf AS (SELECT source, w FROM words WHERE length(w) > 0),
wc_s AS (SELECT source, w, COUNT(*) AS c FROM wf GROUP BY 1, 2),
n_s AS (SELECT source, COUNT(*) AS n FROM wf GROUP BY 1),
wc_g AS (SELECT w, COUNT(*) AS cg FROM wf GROUP BY 1),
n_g AS (SELECT COUNT(*) AS ng FROM wf),
grid AS (
  SELECT n_s.source, n_s.n,
    COALESCE(wc_s.c, 0) / CAST(n_s.n AS DOUBLE) AS p,
    wc_g.cg / CAST(n_g.ng AS DOUBLE) AS q
  FROM n_s CROSS JOIN wc_g CROSS JOIN n_g
  LEFT JOIN wc_s ON wc_s.source = n_s.source AND wc_s.w = wc_g.w),
terms AS (
  SELECT source, n,
    CASE WHEN p > 0
         THEN CAST(ROUND(p * ln(p / ((p + q) / 2)), 8) AS DECIMAL(20,8))
         ELSE CAST(0 AS DECIMAL(20,8)) END AS tp,
    CAST(ROUND(q * ln(q / ((p + q) / 2)), 8) AS DECIMAL(20,8)) AS tq
  FROM grid)
SELECT source, n AS n_tokens,
  ROUND(CAST((SUM(tp) + SUM(tq)) / 2 AS DOUBLE), 6) AS jsd
FROM terms GROUP BY 1, 2 ORDER BY source
"""

QUERIES["corpus_divergence_js"] = corpus_divergence_js
ORACLE["corpus_divergence_js"] = _JSD_SQL


# --- Unicode NFC normalization profile (round 11) ---------------------------

#: U+0301 COMBINING ACUTE ACCENT / U+00E1 a-acute / U+00E9 e-acute
_COMB_ACUTE = "́"
_A_ACUTE = "á"
_E_ACUTE = "é"


def text_unicode_nfc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization profile — the canonicalization step
    every multilingual corpus needs before hashing/dedup (the SAME
    visible text arrives precomposed on one crawl and decomposed on
    another; un-normalized, their digests differ and every dedup
    operator silently misses the pair). Normalization itself is a
    vectorized pandas UDF over `unicodedata.normalize('NFC', ...)`
    (row-local, scan-speed, zero shuffles; a NULL text stays NULL,
    as in DuckDB's ``nfc_normalize``); the profile is one grouped agg
    counting docs CHANGED by NFC and the code-point shrinkage per
    source.

    The synthetic corpus is pure ASCII (NFC would be a no-op and the
    gate would assert nothing), so the fixture derives accent-bearing
    variants deterministically on BOTH engines: one residue class per
    doc gets decomposed a+COMBINING-ACUTE (NFC composes it — changed
    rows), one gets precomposed e-acute (already NFC — unchanged),
    one stays ASCII. DuckDB's `nfc_normalize` is the oracle's
    independent implementation of the same Unicode standard.
    """
    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: x if x is None else unicodedata.normalize("NFC", x)
        )

    docs = load_table(spark, sf_dir, "documents")
    variant = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.regexp_replace("text", "a", "a" + _COMB_ACUTE),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.regexp_replace("text", "e", _E_ACUTE),
        )
        .otherwise(F.col("text"))
    )
    staged = docs.select("doc_id", "source", variant.alias("raw"))
    normed = staged.select(
        "source",
        F.length("raw").alias("cp_raw"),
        F.length(nfc(F.col("raw"))).alias("cp_nfc"),
        (nfc(F.col("raw")) != F.col("raw")).alias("changed"),
    )
    return (
        normed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("changed").cast("int")).alias("n_changed"),
            F.sum("cp_raw").alias("cp_before"),
            F.sum("cp_nfc").alias("cp_after"),
        )
        .orderBy("source")
    )


_NFC_SQL = f"""
WITH staged AS (
  SELECT doc_id, source,
    CASE
      WHEN doc_id % 3 = 0 THEN replace(text, 'a', 'a' || chr(769))
      WHEN doc_id % 3 = 1 THEN replace(text, 'e', chr(233))
      ELSE text END AS raw
  FROM documents),
normed AS (
  SELECT source, length(raw) AS cp_raw,
    length(nfc_normalize(raw)) AS cp_nfc,
    nfc_normalize(raw) <> raw AS changed
  FROM staged)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
  CAST(SUM(cp_raw) AS BIGINT) AS cp_before,
  CAST(SUM(cp_nfc) AS BIGINT) AS cp_after
FROM normed GROUP BY source ORDER BY source
"""

QUERIES["text_unicode_nfc_profile"] = text_unicode_nfc_profile
ORACLE["text_unicode_nfc_profile"] = _NFC_SQL


# --- Feature hashing / hashing trick (round 12) -------------------------------

FEATHASH_DIM = 16  #: hashed feature space size (2^k at production scale)


def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al., ICML 2009): map every
    token to one of FEATHASH_DIM buckets by hash and count — the
    fixed-width, vocabulary-free text vectorizer that needs NO fitted
    dictionary (the property that makes it the default featurizer for
    streaming/out-of-core training). Output is the sparse long form
    (doc_id, bucket, n): zero buckets are simply absent, which is the
    point of the representation.

    Scale: tokenize-explode → one (doc, bucket) partial-aggregable
    count — the word-count shape; the bucket hash is the engine's
    md5-based hash60 mod FEATHASH_DIM, identical in both engines (no
    fitted state to ship — the 100 TB win over a vocabulary join).
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import (
        SPARK_HASH60,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.regexp_replace(F.trim("text"), WS_CLASS, " ")), " ")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    bucket = F.expr(
        f"pmod({SPARK_HASH60.format(expr='tok')}, {FEATHASH_DIM})"
    )
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("doc_id", "bucket")
    )


def _feathash_sql() -> str:
    from etl_gcp_function_tmabrasil_spark.queries._util import SQL_HASH60

    h = SQL_HASH60.format(expr="tok")
    return f"""
WITH toks AS (
  SELECT doc_id,
    UNNEST(string_split(LOWER(REGEXP_REPLACE(TRIM(text), '{WS_CLASS}', ' ', 'g')), ' ')) AS tok
  FROM documents
)
SELECT doc_id, {h} % {FEATHASH_DIM} AS bucket, COUNT(*) AS n
FROM toks WHERE tok <> ''
GROUP BY doc_id, bucket
ORDER BY doc_id, bucket
"""


QUERIES["text_feature_hashing"] = text_feature_hashing
ORACLE["text_feature_hashing"] = _feathash_sql()


# --- Readability scoring (round 13) ------------------------------------------


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948; the readability
    band corpora like OpenWebText/CCNet report as a quality facet):
    score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/word),
    bucketed into the standard bands. Syllables use the vowel-GROUP
    proxy (runs of [aeiouy] per word — the classic approximation; the
    synthetic corpus has no dictionary anyway), sentences count
    terminal-punctuation runs floored at 1.

    Scale: entirely row-local built-ins (regexp_count/size — one scan,
    no shuffle but the final sort); counts are exact integers, the
    two divisions are IEEE doubles rounded 4 dp. Non-overlapping
    regexp counts agree between Spark's regexp_count and DuckDB's
    len(regexp_extract_all) (both leftmost non-overlapping).
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim("text"), WS_CLASS, " ")
    words = F.size(F.split(norm, " "))
    sentences = F.greatest(
        F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)
    )
    syllables = F.greatest(
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")), F.lit(1)
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double"))
    )
    band = (
        F.when(score >= 90, "very_easy")
        .when(score >= 60, "standard")
        .when(score >= 30, "difficult")
        .otherwise("very_confusing")
    )
    return docs.select(
        "doc_id",
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        F.round(score, 4).alias("flesch"),
        band.alias("band"),
    ).orderBy("doc_id")


_READABILITY_SQL = f"""
WITH s AS (
  SELECT doc_id,
    len(string_split(REGEXP_REPLACE(TRIM(text), '{WS_CLASS}', ' ', 'g'), ' '))
      AS n_words,
    GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
    GREATEST(len(regexp_extract_all(LOWER(text), '[aeiouy]+')), 1)
      AS n_syllables
  FROM documents
),
scored AS (
  SELECT *,
    206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
      - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
      AS score
  FROM s
)
SELECT doc_id, n_words, n_sentences, n_syllables,
  ROUND(score, 4) AS flesch,
  CASE WHEN score >= 90 THEN 'very_easy'
       WHEN score >= 60 THEN 'standard'
       WHEN score >= 30 THEN 'difficult'
       ELSE 'very_confusing' END AS band
FROM scored ORDER BY doc_id
"""

QUERIES["text_readability"] = text_readability
ORACLE["text_readability"] = _READABILITY_SQL


# --- Trained language ID: hashed char-n-gram linear classifier (round 15) -----

LANGID_B = 512  #: hashed feature buckets (2^k; fastText uses 2M at prod scale)
LANGID_GRAM = 3  #: char n-gram width
LANGID_HOLDOUT = 5  #: doc_id % HOLDOUT == 0 rows score; the rest train


def text_langid_hashed_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained language identification — a hashed char-n-gram linear
    classifier in the fastText mold (Joulin et al. 2016: bag of hashed
    n-gram features, linear scores per label), with the weights fitted
    as multinomial naive-Bayes log-likelihoods (McCallum & Nigam 1998)
    so training is ONE deterministic counting pass instead of SGD.
    This is the first gate of the CCNet pipeline: langid runs BEFORE
    the per-language LM quality buckets (text_ccnet_quality_buckets
    takes `lang` as given).

    Train on the `lang`-labeled rows with doc_id % HOLDOUT != 0: count
    char-3-gram occurrences per (lang, hash-bucket); weight w[l,b] =
    ln((cnt+1)/(tot_l+B)) (Laplace), prior ln(n_l/n). Score held-out
    docs: argmax_l prior_l + sum over the doc's gram occurrences of
    w[l, bucket]. Report the confusion rollup (true_lang, pred_lang,
    n_docs) — at most |langs|^2 rows.

    Exactness across engines: the bucket hash is the md5-based hash60
    mod B (literally shared with the oracle); every ln is rounded to
    8 dp and carried as DECIMAL(12,8), per-doc sums are exact decimal
    (n DECIMAL(10,0) x w — product precision 23 stays under Spark's
    38 cap and forces DuckDB's INT128 path), and the argmax is a
    row_number over (score DESC, lang ASC) — total order, no float
    nondeterminism. NOTE the synthetic corpus assigns `lang` labels
    independently of token content (per-lang distributions differ
    only by sampling noise), so accuracy here sits near the class
    prior — the same documented "untrained floor" caveat as
    embedding_matryoshka_fidelity; the machinery, not the accuracy,
    is what the oracle pins.

    Scale: the gram explode is map-side; training state collapses to
    the (langs x B) weight grid (2.5k rows — broadcast); scoring is
    one (doc, bucket) partial-aggregable count joined to the
    broadcast weights, one (doc, lang) rollup, a 5-row-per-doc
    window, and a bounded confusion rollup. No corpus-sized shuffle
    beyond the word-count shape at any corpus size.
    """
    from etl_gcp_function_tmabrasil_spark.queries._util import (
        SPARK_HASH60,
        managed_persist,
    )

    # rebalance="compute": the char-gram explode evaluates one md5 per
    # text position — seconds of CPU that must not serialize behind the
    # one-row-group scan task (no-op on healthy layouts). ONLY the gram
    # pass reads this spread frame: the prior/truth legs project
    # (doc_id, lang) with zero per-row work, and the round-robin
    # exchange itself costs ~0.5 s per pass at sf0.1 (r16 subplan
    # probe) — they read the plain scan below instead.
    docs = load_table(spark, sf_dir, "documents", rebalance="compute")
    docs_thin = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    norm = F.lower(F.regexp_replace(F.trim("text"), WS_CLASS, " "))
    grams = docs.select(
        "doc_id", "lang", norm.alias("t")
    ).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                f"CASE WHEN length(t) >= {LANGID_GRAM} THEN "
                f"transform(sequence(1, length(t) - {LANGID_GRAM - 1}),"
                f" i -> substring(t, i, {LANGID_GRAM})) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    bucketed = grams.select(
        "doc_id",
        "lang",
        F.expr(
            f"pmod({SPARK_HASH60.format(expr='g')}, {LANGID_B})"
        ).alias("b"),
    )
    # ONE shared gram-hash pass (r15), aggregated STRAIGHT to each
    # consumer's final keys (r16): train rows roll up to (lang, bucket)
    # and held-out rows to (doc, bucket) in the SAME aggregation via
    # row-dependent grouping keys, so the persisted frame shrinks from
    # the 618k-row (doc, lang, bucket) intermediate to the 126k rows
    # the two consumers actually read (langs × B train cells + held-out
    # doc cells), and the train side's re-aggregation disappears.
    # Without the persist the corpus-wide explode+md5 would execute
    # once per consumer (measured r15: 5.3 s → 2.5 s).
    is_score = F.col("doc_id") % LANGID_HOLDOUT == 0
    counts = managed_persist(
        bucketed.select(
            is_score.alias("sc"),
            F.when(is_score, F.col("doc_id")).alias("k_doc"),
            F.when(~is_score, F.col("lang")).alias("k_lang"),
            "b",
        )
        .groupBy("sc", "k_doc", "k_lang", "b")
        .agg(F.count(F.lit(1)).alias("n")),
        "text_analysis.langid_counts",
    )
    cnt = counts.filter(~F.col("sc")).select(
        F.col("k_lang").alias("lang"), "b", F.col("n").alias("c")
    )
    # Weight grid folded row-locally per lang (r16, the banded-rank
    # lesson): the old shape planned a distinct + crossJoin + left join
    # + totals join over frames that are O(langs × B) by construction
    # (~0.6 s of exchanges and broadcast builds at sf0.1). One
    # aggregation gathers each lang's bucket counts into a map, and a
    # sequence() explode emits the full B-bucket row set with
    # count-0 Laplace cells filled by the map lookup's NULL.
    weights = (
        cnt.groupBy("lang")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("b", "c"))
            ).alias("cm"),
            F.sum("c").alias("tot"),
        )
        .select(
            "lang",
            # long sequence so the map lookup's key type matches the
            # pmod-typed map keys with no coercion
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), F.lit(LANGID_B - 1).cast("long")
                )
            ).alias("b"),
            "cm",
            "tot",
        )
        .select(
            "lang",
            "b",
            F.round(
                F.log(
                    (F.coalesce(F.expr("cm[b]"), F.lit(0)) + 1).cast("double")
                    / (F.col("tot") + LANGID_B)
                ),
                8,
            )
            .cast("decimal(12,8)")
            .alias("w"),
        )
    )
    tdocs = docs_thin.filter(F.col("doc_id") % LANGID_HOLDOUT != 0)
    prior = (
        tdocs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nd"))
        .crossJoin(
            F.broadcast(tdocs.agg(F.count(F.lit(1)).alias("ndt")))
        )
        .select(
            "lang",
            F.round(F.log(F.col("nd").cast("double") / F.col("ndt")), 8)
            .cast("decimal(12,8)")
            .alias("p"),
        )
    )
    tf = counts.filter(F.col("sc")).select(
        F.col("k_doc").alias("doc_id"),
        "b",
        F.col("n").cast("decimal(10,0)").alias("n"),
    )
    scored = (
        tf.join(F.broadcast(weights), "b")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("n") * F.col("w")).alias("s"))
        .join(F.broadcast(prior), "lang")
        .select("doc_id", "lang", (F.col("s") + F.col("p")).alias("score"))
    )
    # argmax as ONE hash aggregation instead of an exchange + sort +
    # row_number window (r16): min of the (-score, lang) struct is
    # exactly rn=1 under ORDER BY score DESC, lang ASC — decimal
    # negation is exact, struct comparison is lexicographic, and the
    # lang tiebreak keeps the argmax total. Partial aggregation
    # collapses the 5-rows-per-doc input map-side.
    pred = (
        scored.groupBy("doc_id")
        .agg(
            F.min(
                F.struct((-F.col("score")).alias("ns"), F.col("lang"))
            ).alias("best")
        )
        .select("doc_id", F.col("best.lang").alias("pred_lang"))
    )
    truth = docs_thin.filter(F.col("doc_id") % LANGID_HOLDOUT == 0).select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    return (
        truth.join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


def _langid_hashed_sql() -> str:
    from etl_gcp_function_tmabrasil_spark.queries._util import SQL_HASH60

    h = SQL_HASH60.format(expr="g")
    return f"""
WITH base AS (
  SELECT doc_id, lang,
    LOWER(REGEXP_REPLACE(TRIM(text), '{WS_CLASS}', ' ', 'g')) AS t
  FROM documents
),
grams AS (
  SELECT doc_id, lang,
    UNNEST(CASE WHEN len(t) >= {LANGID_GRAM}
      THEN list_transform(generate_series(1, len(t) - {LANGID_GRAM - 1}),
                          i -> substr(t, i, {LANGID_GRAM}))
      ELSE [] END) AS g
  FROM base
),
bucketed AS (
  SELECT doc_id, lang, {h} % {LANGID_B} AS b FROM grams
),
cnt AS (
  SELECT lang, b, COUNT(*) AS c FROM bucketed
  WHERE doc_id % {LANGID_HOLDOUT} != 0 GROUP BY lang, b
),
tot AS (SELECT lang, SUM(c) AS tot FROM cnt GROUP BY lang),
grid AS (
  SELECT l.lang, gs.b
  FROM (SELECT DISTINCT lang FROM cnt) l
  CROSS JOIN (SELECT UNNEST(generate_series(0, {LANGID_B - 1})) AS b) gs
),
weights AS (
  SELECT g.lang, g.b,
    CAST(ROUND(ln((COALESCE(c.c, 0) + 1)::DOUBLE / (t.tot + {LANGID_B})), 8)
         AS DECIMAL(12,8)) AS w
  FROM grid g
  LEFT JOIN cnt c ON g.lang = c.lang AND g.b = c.b
  JOIN tot t ON g.lang = t.lang
),
prior AS (
  SELECT lang,
    CAST(ROUND(ln(nd::DOUBLE / SUM(nd) OVER ()), 8) AS DECIMAL(12,8)) AS p
  FROM (SELECT lang, COUNT(*) AS nd FROM documents
        WHERE doc_id % {LANGID_HOLDOUT} != 0 GROUP BY lang)
),
tf AS (
  SELECT doc_id, b, CAST(COUNT(*) AS DECIMAL(10,0)) AS n FROM bucketed
  WHERE doc_id % {LANGID_HOLDOUT} = 0 GROUP BY doc_id, b
),
scored AS (
  SELECT tf.doc_id, w.lang, SUM(tf.n * w.w) + MIN(pr.p) AS score
  FROM tf
  JOIN weights w ON tf.b = w.b
  JOIN prior pr ON w.lang = pr.lang
  GROUP BY tf.doc_id, w.lang
),
pred AS (
  SELECT doc_id, lang AS pred_lang,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang)
      AS rn
  FROM scored
)
SELECT d.lang AS true_lang, p.pred_lang, COUNT(*) AS n_docs
FROM documents d
JOIN pred p ON d.doc_id = p.doc_id AND p.rn = 1
WHERE d.doc_id % {LANGID_HOLDOUT} = 0
GROUP BY true_lang, pred_lang
ORDER BY true_lang, pred_lang
"""


QUERIES["text_langid_hashed_ngram"] = text_langid_hashed_ngram
ORACLE["text_langid_hashed_ngram"] = _langid_hashed_sql()
