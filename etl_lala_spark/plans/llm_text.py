"""Text-analysis queries over `documents` (north star: text analysis).

Oracles mirror the operators token-for-token: DuckDB
``regexp_split_to_array(text, '\\s+')`` ≡ Spark ``F.split(text, '\\s+')``,
``list_filter`` ≡ ``F.filter``, with identical arithmetic term order so
rounded doubles hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lala_spark.io import load_table
from etl_lala_spark.operators import text as tx
from etl_lala_spark.plans import register

_STOP_SQL = "('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')"
_TOK_SQL = "regexp_split_to_array(text, '\\s+')"
# Case-normalized tokens for stopword/marker matching — mirrors
# operators/text.py:marker_hits, which lower()s before the filter.
_LTOK_SQL = "regexp_split_to_array(lower(text), '\\s+')"


@register(
    "text_stats",
    oracle=f"""
SELECT doc_id, lang, source, n_chars,
       length(text) AS n_chars_calc,
       CAST(len({_TOK_SQL}) AS INT) AS n_tokens,
       CAST(length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS INT) AS n_punct,
       CAST(len(list_filter({_LTOK_SQL}, x -> x IN {_STOP_SQL})) AS INT) AS n_stopwords,
       round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / CAST(len({_TOK_SQL}) AS DOUBLE), 4) AS avg_token_len
FROM documents
ORDER BY doc_id
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char/punctuation/stopword statistics — quality
    signals for a training-data pipeline. Includes the fixture invariant
    n_chars == length(text) (FIXTURES.md §3)."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.length(t).alias("n_chars_calc"),
        tx.token_count(t).alias("n_tokens"),
        tx.punct_count(t).alias("n_punct"),
        tx.stopword_count(t).alias("n_stopwords"),
        F.round(
            F.length(F.regexp_replace(t, " ", "")).cast("double")
            / tx.token_count(t).cast("double"),
            4,
        ).alias("avg_token_len"),
    ).orderBy("doc_id")


@register(
    "text_quality_score",
    oracle=f"""
WITH stats AS (
  SELECT doc_id, source,
         CAST(len({_TOK_SQL}) AS DOUBLE) AS n_tok,
         CAST(length(text) AS DOUBLE) AS n_ch,
         CAST(length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter({_LTOK_SQL}, x -> x IN {_STOP_SQL})) AS DOUBLE) AS n_stop
  FROM documents
),
q AS (
  SELECT doc_id, source,
         CASE WHEN n_ch > 0
              THEN round(0.4 * least(n_tok / 100.0, 1.0)
                         + 0.3 * (1.0 - n_punct / n_ch)
                         + 0.3 * (n_stop / n_tok), 4)
              ELSE 0.0 END AS quality_score
  FROM stats
)
SELECT doc_id, source, quality_score,
       (quality_score >= 0.5) AS is_quality
FROM q
ORDER BY doc_id
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality heuristic + keep/drop flag (the filter stage of
    a corpus-cleaning pipeline)."""
    d = load_table(spark, sf_dir, "documents")
    score = tx.quality_score(F.col("text"))
    return d.select(
        "doc_id",
        "source",
        score.alias("quality_score"),
        (score >= 0.5).alias("is_quality"),
    ).orderBy("doc_id")


_MARKER_SQL = {
    lang: f"len(list_filter({_LTOK_SQL}, x -> x IN {tuple(m)!r}))"
    for lang, m in tx.LANG_MARKERS.items()
}

@register(
    "text_lang_id",
    oracle=f"""
WITH scores AS (
  SELECT doc_id, lang, text IS NULL AS no_text,
         {_MARKER_SQL['en']} AS s_en,
         {_MARKER_SQL['de']} AS s_de,
         {_MARKER_SQL['es']} AS s_es,
         {_MARKER_SQL['fr']} AS s_fr
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN no_text THEN NULL
            WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS predicted_lang,
       (CASE WHEN no_text THEN NULL
             WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_es >= s_fr THEN 'es'
             ELSE 'fr' END = lang) AS is_match
FROM scores
ORDER BY doc_id
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic with fixed tie order (deterministic
    n-gram-style langid — accuracy is secondary to reproducibility on the
    synthetic fixture)."""
    d = load_table(spark, sf_dir, "documents")
    pred = tx.predicted_lang(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("is_match"),
    ).orderBy("doc_id")


@register(
    "text_fingerprint",
    oracle="""
SELECT doc_id, md5(lower(text)) AS fp, substr(md5(lower(text)), 1, 8) AS fp_prefix
FROM documents
ORDER BY doc_id
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting (md5 over normalized text) — the exact-dedup
    key at corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    fp = tx.fingerprint(F.col("text"))
    return d.select(
        "doc_id", fp.alias("fp"), F.substring(fp, 1, 8).alias("fp_prefix")
    ).orderBy("doc_id")


@register(
    "text_token_counts",
    oracle=f"""
SELECT source,
       CAST(sum(len({_TOK_SQL})) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT)
         AS bpe_tokens,
       count(*) AS n_docs
FROM documents
GROUP BY source
ORDER BY source
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source: whitespace tokens + BPE-ish lexer
    tokens (the 'how many tokens is this dataset' query)."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return (
        d.groupBy("source")
        .agg(
            F.sum(tx.token_count(t)).alias("ws_tokens"),
            F.sum(tx.bpe_token_count(t)).alias("bpe_tokens"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("source")
    )


@register(
    "pipeline_training_data",
    oracle=f"""
WITH deduped AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(text)
),
kept AS (
  SELECT d.doc_id, d.lang, d.source, d.text,
         CAST(len({_TOK_SQL.replace('text', 'd.text')}) AS DOUBLE) AS n_tok,
         CAST(length(d.text) AS DOUBLE) AS n_ch,
         CAST(length(regexp_replace(d.text, '[^.!?,;]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter({_LTOK_SQL.replace('text', 'd.text')},
                              x -> x IN {_STOP_SQL})) AS DOUBLE) AS n_stop
  FROM documents d
  JOIN deduped k ON k.doc_id = d.doc_id
),
scored AS (
  SELECT *,
         CASE WHEN n_ch > 0
              THEN round(0.4 * least(n_tok / 100.0, 1.0)
                         + 0.3 * (1.0 - n_punct / n_ch)
                         + 0.3 * (n_stop / n_tok), 4)
              ELSE 0.0 END AS q
  FROM kept
)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       round(sum(q), 4) AS sum_quality
FROM scored
WHERE q >= 0.5
GROUP BY lang, source
ORDER BY lang, source
""",
)
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation pipeline in one plan: exact dedup
    (keep smallest id per content hash) → quality filter (score ≥ 0.5) →
    per-(lang, source) corpus accounting.

    Composition story: the dedup is one shuffle on the 128-bit digest, the
    semi-join back is a shuffle on doc_id, the scoring is a narrow codegen
    projection, and the final agg is map-side-combined — 3 shuffles total
    for the whole pipeline, independent of corpus size."""
    from etl_lala_spark.operators import dedup as dd

    d = load_table(spark, sf_dir, "documents")
    keepers = dd.exact_dedup(d).select(F.col("keeper_id").alias("doc_id"))
    kept = d.join(keepers, "doc_id", "left_semi")
    score = tx.quality_score(F.col("text"))
    scored = kept.select(
        "lang", "source", tx.token_count(F.col("text")).cast("double").alias("n_tok"),
        score.alias("q"),
    ).filter(F.col("q") >= 0.5)
    return (
        scored.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            # sum, not avg: the scores are exact 4-decimal values, so the
            # rounded sum is engine-deterministic while a rounded average
            # of rounded values sits on round-half boundaries.
            F.round(F.sum("q"), 4).alias("sum_quality"),
        )
        .orderBy("lang", "source")
    )


@register(
    "split_train_holdout",
    oracle=f"""
WITH tagged AS (
  SELECT lang,
         CASE WHEN doc_id % 100 < 90 THEN 'train' ELSE 'holdout' END AS split,
         CAST(len({_TOK_SQL}) AS BIGINT) AS n_tok
  FROM documents
)
SELECT lang, split,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens
FROM tagged
GROUP BY lang, split
ORDER BY lang, split
""",
)
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/holdout split on a key function of the
    stable document id — reproducible across runs and engines (the
    training-pipeline alternative to randomSplit, whose output depends on
    partitioning). Per-(lang, split) corpus accounting."""
    d = load_table(spark, sf_dir, "documents")
    split = F.when(F.col("doc_id") % 100 < 90, "train").otherwise("holdout")
    return (
        d.select(
            "lang", split.alias("split"),
            tx.token_count(F.col("text")).cast("long").alias("n_tok"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
        .orderBy("lang", "split")
    )


@register(
    "sample_stratified",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(1 AS BOOLEAN) AS sampled_ok
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus rebalancing: per-language sampling fractions via
    ``sampleBy`` (Bernoulli per stratum, seeded — the downsample-the-
    dominant-language step of corpus curation). The Bernoulli draw is
    engine-specific, so the oracle pins the EXACT invariants instead of
    the draw: per stratum, the table's exact row count, plus
    ``sampled_ok`` — fraction-1.0 strata must keep every row (Bernoulli
    with p=1.0 is deterministic), and the downsampled stratum must land
    within 5 σ of p·n (binomial: σ = sqrt(n·p·(1−p))), a bound a correct
    sampler fails with probability < 10⁻⁶ and a broken one (wrong
    stratum, unseeded, fraction misread) crosses immediately. Exact
    per-stratum determinism of the seed is pinned separately in pytest."""
    d = load_table(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 0.25}
    sampled = d.sampleBy("lang", fractions, seed=42)
    totals = d.groupBy("lang").agg(F.count("*").alias("n_total"))
    counts = sampled.groupBy("lang").agg(F.count("*").alias("n_sampled"))
    frac = F.coalesce(
        F.create_map(*[F.lit(x) for kv in fractions.items() for x in kv])[
            F.col("lang")
        ],
        F.lit(0.0),  # uncovered strata must sample exactly nothing
    )
    n, p = F.col("n_total").cast("double"), frac
    tol = F.lit(5.0) * F.sqrt(n * p * (F.lit(1.0) - p))
    ok = (
        F.abs(F.coalesce(F.col("n_sampled"), F.lit(0)) - n * p) <= tol
    )
    return (
        totals.join(counts, "lang", "left")
        .select("lang", "n_total", ok.alias("sampled_ok"))
        .orderBy("lang")
    )


@register(
    "text_pii_scrub",
    oracle=r"""
WITH seeded AS (
  SELECT doc_id,
         concat(text, ' contact: user', doc_id, '@example.com or +1-555-',
                lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS text
  FROM documents WHERE doc_id < 200
),
scrubbed AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                          '<EMAIL>', 'g'),
           '\+?[0-9][0-9()\-\. ]{7,}[0-9]', '<PHONE>', 'g') AS clean,
         text
  FROM seeded
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
         AS n_emails,
       CAST(contains(clean, '<EMAIL>') AS BOOLEAN) AS has_email_tag,
       CAST(contains(clean, '<PHONE>') AS BOOLEAN) AS has_phone_tag,
       CAST(NOT regexp_matches(clean, '@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS BOOLEAN) AS emails_gone,
       substr(clean, -40) AS clean_tail
FROM scrubbed
ORDER BY doc_id
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email and phone patterns redacted to typed tags — the
    privacy pass of a training-data pipeline. Matches are planted
    deterministically (derived from doc_id) so the redaction is exercised on
    every row and the invariant 'no address survives' is oracle-checked."""
    EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    PHONE = r"\+?[0-9][0-9()\-\. ]{7,}[0-9]"
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact: user"), F.col("doc_id"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    clean = F.regexp_replace(
        F.regexp_replace("text", EMAIL, "<EMAIL>"), PHONE, "<PHONE>"
    )
    scrubbed = seeded.select("doc_id", "text", clean.alias("clean"))
    return scrubbed.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(EMAIL), 0)).alias("n_emails"),
        F.col("clean").contains("<EMAIL>").alias("has_email_tag"),
        F.col("clean").contains("<PHONE>").alias("has_phone_tag"),
        (~F.col("clean").rlike(r"@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")).alias("emails_gone"),
        F.substring("clean", -40, 40).alias("clean_tail"),
    ).orderBy("doc_id")


@register(
    "text_term_frequencies",
    oracle=f"""
WITH toks AS (
  SELECT lower(unnest({_TOK_SQL})) AS term FROM documents
)
SELECT term, count(*) AS freq
FROM toks
WHERE term NOT IN {_STOP_SQL} AND term <> ''
GROUP BY term
ORDER BY freq DESC, term
LIMIT 25
""",
)
def text_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term-frequency top-25 (stopwords removed): the vocabulary /
    Zipf diagnostic. Explode → hash-agg with map-side combine → bounded
    top-k; the explode never materializes per-doc token lists on the
    driver."""
    from etl_lala_spark.operators.text import STOPWORDS, tokens

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("t"))
        .select(F.lower("t").alias("term"))
        .filter((~F.col("term").isin(*STOPWORDS)) & (F.col("term") != ""))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "term")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Ranked retrieval: BM25 scoring of a fixed multi-term query.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("hash", "merge", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    toks = "regexp_split_to_array(lower(text), '\\s+')"
    tf_cols = ",\n         ".join(
        f"len(list_filter({toks}, x -> x = '{t}')) AS tf_{t}" for t in _BM25_TERMS
    )
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in _BM25_TERMS
    )
    score = " + ".join(
        f"CASE WHEN tf_{t} > 0 THEN ln(1 + (n - df_{t} + 0.5) / (df_{t} + 0.5))"
        f" * tf_{t} * {_BM25_K1 + 1} / (tf_{t} + {_BM25_K1} *"
        f" ({1 - _BM25_B} + {_BM25_B} * dl / avgdl)) ELSE 0 END"
        for t in _BM25_TERMS
    )
    any_tf = " + ".join(f"tf_{t}" for t in _BM25_TERMS)
    return f"""
WITH pertoken AS (
  SELECT doc_id,
         len({toks}) AS dl,
         {tf_cols}
  FROM documents
),
corpus AS (
  SELECT count(*) AS n, avg(dl) AS avgdl,
         {df_cols}
  FROM pertoken
)
SELECT doc_id, round({score}, 6) AS bm25
FROM pertoken, corpus
WHERE {any_tf} > 0
ORDER BY bm25 DESC, doc_id
"""


@register("text_bm25_retrieval", oracle=_bm25_oracle())
def text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75, +1-smoothed IDF) for a fixed
    multi-term query over the corpus.

    Scale shape: per-document term frequencies come from JVM-side array
    filters in ONE projection (no explode, no (doc, term) shuffle); document
    frequencies and avgdl reduce to a single 1-row aggregate that is
    broadcast back. At 100 TB the corpus scan happens twice (stats pass +
    score pass) and nothing else moves — persist the projection to make it
    one pass."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")

    def _eq(term: str):
        # single-arg lambda: F.filter passes (element, index) to 2-arg ones
        return lambda x: x == term

    pertoken = d.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[F.size(F.filter(toks, _eq(t))).alias(f"tf_{t}") for t in _BM25_TERMS],
    )
    corpus = pertoken.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    score = None
    for t in _BM25_TERMS:
        tf = F.col(f"tf_{t}")
        idf = F.log(1 + (F.col("n") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5))
        part = F.when(
            tf > 0,
            idf
            * tf
            * (_BM25_K1 + 1)
            / (tf + _BM25_K1 * ((1 - _BM25_B) + _BM25_B * F.col("dl") / F.col("avgdl"))),
        ).otherwise(F.lit(0.0))
        score = part if score is None else score + part
    any_tf = None
    for t in _BM25_TERMS:
        any_tf = F.col(f"tf_{t}") if any_tf is None else any_tf + F.col(f"tf_{t}")
    return (
        pertoken.join(F.broadcast(corpus))
        .filter(any_tf > 0)
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
    )


@register(
    "text_model_inference",
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         least(len({_TOK_SQL}) / 100.0, 1.0) AS f_len,
         length(regexp_replace(text, '[^.!?,;]', '', 'g')) * 1.0
           / length(text) AS f_punct,
         len(list_filter({_LTOK_SQL}, t -> t IN {_STOP_SQL})) * 1.0
           / len({_TOK_SQL}) AS f_stop,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS f_en
  FROM documents
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-(-1.5 + 2.0 * f_len - 3.0 * f_punct
                                + 1.2 * f_stop + 0.8 * f_en))), 6) AS p_keep,
       (1.0 / (1.0 + exp(-(-1.5 + 2.0 * f_len - 3.0 * f_punct
                           + 1.2 * f_stop + 0.8 * f_en))) >= 0.5) AS keep
FROM feats
ORDER BY doc_id
""",
)
def text_model_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-model inference fused into the scan (the pure-SQL ML-inference
    pattern — ICDE 2025 "ML Inference Pipeline Execution Using Pure SQL
    Based on Operator Fusion"): a fixed logistic-regression quality
    classifier over four text features, evaluated entirely as JVM
    expressions inside one whole-stage-codegen'd projection.

    No UDF, no model server, no extra pass: at 100 TB inference costs
    exactly one scan, and Catalyst prunes to the two referenced columns.
    Weights are illustrative constants (a real pipeline would broadcast a
    small coefficients table and generate the same expression)."""
    from etl_lala_spark.operators.text import (
        STOPWORDS,
        punct_count,
        stopword_count,
        token_count,
        tokens,
    )

    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    f_len = F.least(token_count(text) / F.lit(100.0), F.lit(1.0))
    f_punct = punct_count(text).cast("double") / F.length(text)
    f_stop = stopword_count(text).cast("double") / token_count(text)
    f_en = F.when(F.col("lang") == "en", 1.0).otherwise(0.0)
    logit = (
        F.lit(-1.5)
        + F.lit(2.0) * f_len
        - F.lit(3.0) * f_punct
        + F.lit(1.2) * f_stop
        + F.lit(0.8) * f_en
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return d.select(
        "doc_id",
        F.round(p, 6).alias("p_keep"),
        (p >= 0.5).alias("keep"),
    ).orderBy("doc_id")


_PROFILE_COLS = ("doc_id", "lang", "n_chars", "source", "text")

_PROFILE_STATS = ",\n         ".join(
    f"count({c}) AS nn_{c}, count(DISTINCT {c}) AS nd_{c},\n"
    f"         min(CAST({c} AS VARCHAR)) AS mn_{c}, max(CAST({c} AS VARCHAR)) AS mx_{c}"
    for c in _PROFILE_COLS
)

_PROFILE_ARMS = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS col_name, n_rows, nn_{c} AS n_nonnull, nd_{c} AS n_distinct,\n"
    f"       mn_{c} AS min_str, mx_{c} AS max_str FROM s"
    for c in _PROFILE_COLS
)


@register(
    "profile_documents",
    oracle=f"""
WITH s AS (
  SELECT count(*) AS n_rows,
         {_PROFILE_STATS}
  FROM documents
)
{_PROFILE_ARMS}
ORDER BY col_name
""",
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling (per-column null / distinct / min / max) — the
    first step of any curation pipeline, and the stats feeding partition
    and skew decisions.

    Single-scan design: all per-column stats ride ONE aggregate (the exact
    distincts expand map-side, Catalyst plans one pass over the table), then
    ``stack`` unpivots the 1-row wide result into the long report — at
    100 TB the table is read once, not once per column as a naive
    ``describe`` loop would. Min/max compare stringified values on both
    engines so numeric columns profile identically.
    """
    docs = load_table(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(F.col(c).cast("string")).alias(f"mn_{c}"),
            F.max(F.col(c).cast("string")).alias(f"mx_{c}"),
        ]
    wide = docs.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in _PROFILE_COLS
    )
    return (
        wide.selectExpr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(col_name, n_nonnull, n_distinct, min_str, max_str)",
            "n_rows",
        )
        .select("col_name", "n_rows", "n_nonnull", "n_distinct", "min_str", "max_str")
        .orderBy("col_name")
    )


@register(
    "text_winsorized_lengths",
    oracle="""
WITH b AS (
  SELECT quantile_cont(n_chars, 0.01) AS lo, quantile_cont(n_chars, 0.99) AS hi
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       round(avg(n_chars), 4) AS mean_raw,
       round(avg(least(greatest(n_chars::DOUBLE, lo), hi)), 4) AS mean_winsorized
FROM documents, b
GROUP BY lang
ORDER BY lang
""",
)
def text_winsorized_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized length statistics: clip document lengths at the corpus
    p01/p99 before averaging — the standard robust-stats treatment so a few
    giant or empty documents don't distort per-language curation decisions.

    Scale: the two exact percentiles reduce to a 1-row bound set that
    broadcasts back over the scan (scalar-subquery shape, no second wide
    pass); the clip itself is a codegen'd least/greatest."""
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.expr("percentile(n_chars, 0.01)").alias("lo"),
        F.expr("percentile(n_chars, 0.99)").alias("hi"),
    )
    clipped = F.least(
        F.greatest(F.col("n_chars").cast("double"), F.col("lo")), F.col("hi")
    )
    return (
        docs.crossJoin(F.broadcast(bounds))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("mean_raw"),
            F.round(F.avg(clipped), 4).alias("mean_winsorized"),
        )
        .orderBy("lang")
    )


@register(
    "curate_token_budget",
    oracle="""
WITH toks AS (
  SELECT lang, doc_id,
         CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
cum AS (
  SELECT lang, doc_id, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM toks
)
SELECT lang,
       count(*) AS n_docs_kept,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
FROM cum
WHERE cum_tokens <= 3000
GROUP BY lang
ORDER BY lang
""",
)
def curate_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget subsampling per language — the data-mixing primitive
    ("give me ~N tokens of each language, reproducibly"): docs are ordered
    by a uniform hash (deterministic shuffle, no RNG state), a running
    token total is computed per language, and the corpus is cut at the
    budget line.

    Scale note: the window shuffles once on `lang` (few partitions, big
    groups). At 100 TB the same semantics come cheaper by exploiting the
    uniform hash: total_tokens per lang (one agg) gives a hash-threshold
    t ≈ budget/total, so `WHERE h < t` needs no window at all; the
    window form here is the exact gate the sampled form is tested against.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        "doc_id",
        F.size(F.split("text", r"\s+")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return (
        cum.where(F.col("cum_tokens") <= 3000)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
        )
        .orderBy("lang")
    )


@register(
    "text_repetition_ratio",
    oracle="""
WITH r AS (
  SELECT source,
         len(regexp_split_to_array(text, '\\s+')) AS n_tokens,
         len(list_distinct(regexp_split_to_array(text, '\\s+'))) AS n_distinct
  FROM documents
)
SELECT source,
       round(avg(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens), 6)
         AS avg_repetition,
       round(max(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens), 6)
         AS max_repetition,
       CAST(sum(CASE WHEN 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens > 0.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
FROM r
GROUP BY source
ORDER BY source
""",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (the classic "degenerate doc" filter):
    1 − distinct/total whitespace tokens per doc, aggregated per source
    with a count of docs above the 0.5 cut. Pure JVM expressions
    (`split`/`array_distinct`/`size`) — one scan, one partial+final agg,
    no UDF, so the filter runs at full codegen speed over 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", r"\s+")
    rep = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    per_doc = d.select("source", rep.alias("rep"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.round(F.avg("rep"), 6).alias("avg_repetition"),
            F.round(F.max("rep"), 6).alias("max_repetition"),
            F.sum(F.when(F.col("rep") > 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_repetitive"),
        )
        .orderBy("source")
    )


@register(
    "curate_sequence_packing",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         doc_id % 8 AS pack_group,
         CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
cum AS (
  SELECT pack_group, n_tokens,
         sum(n_tokens) OVER (PARTITION BY pack_group ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM toks
),
binned AS (
  SELECT pack_group,
         CAST(floor((cum_tokens - 1) / 512) AS BIGINT) AS bin_id,
         n_tokens
  FROM cum
)
SELECT pack_group, bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tokens
FROM binned
GROUP BY pack_group, bin_id
ORDER BY pack_group, bin_id
""",
)
def curate_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — assigning documents to fixed-token-budget training
    sequences (512 tokens here): docs are spread over hash groups, ordered
    deterministically within each group, and binned by running token count.

    Scale shape: the only shuffle is on ``pack_group`` (cheap,
    uniformly-hashed, cardinality chosen to match the cluster), the window
    is a running sum inside each group, and the bin assignment is pure
    arithmetic — no per-bin loop, no driver state. Greedy cumulative
    packing overfills each bin by at most one doc, the standard
    streaming-pack tradeoff vs bin-perfect (NP-hard) packing. The group
    key is ``doc_id % 8`` (portable across engines for the oracle gate;
    in production any uniform hash of the id, with cardinality sized to
    the cluster, gives the same plan shape).
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("pack_group"),
        F.size(F.split("text", r"\s+")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = toks.withColumn("cum_tokens", F.sum("n_tokens").over(w)).select(
        "pack_group",
        F.floor((F.col("cum_tokens") - 1) / 512).cast("bigint").alias("bin_id"),
        "n_tokens",
    )
    return (
        binned.groupBy("pack_group", "bin_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").cast("bigint").alias("tokens"))
        .orderBy("pack_group", "bin_id")
    )


@register(
    "rag_chunk_documents",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(text, '\\s+') AS tk,
         CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
ex AS (
  SELECT doc_id, tk, n_tok,
         unnest(range(0,
           1 + CAST(ceil(greatest(n_tok - 32, 0) / 24.0) AS BIGINT)))
           AS chunk_id
  FROM toks
)
SELECT doc_id, chunk_id,
       chunk_id * 24 AS start_tok,
       CAST(least(32, n_tok - chunk_id * 24) AS BIGINT) AS chunk_tokens,
       array_to_string(list_slice(tk, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')
         AS chunk_text
FROM ex
ORDER BY doc_id, chunk_id
""",
)
def rag_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the document→passage splitter of
    a RAG indexing pipeline (window 32 tokens, stride 24, overlap 8, so no
    answer span longer than 8 tokens is ever cut without a chunk that
    contains it whole). Each chunk carries provenance: source doc, ordinal
    chunk id, token offset, and token count (the tail chunk is short).

    Spark-first shape: one projection computes the token array and chunk
    count, `explode(sequence(...))` fans out chunk ordinals, and
    `slice` + `array_join` materialize each window from the SAME tokenized
    array — the text is tokenized once per document, not once per chunk,
    and the whole plan is a narrow map (zero shuffles; ordering is for the
    oracle only). At 100 TB chunking is embarrassingly parallel and this
    plan keeps it that way."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.split("text", r"\s+").alias("tk"),
        F.size(F.split("text", r"\s+")).cast("bigint").alias("n_tok"),
    )
    n_chunks = F.lit(1) + F.ceil(F.greatest(F.col("n_tok") - 32, F.lit(0)) / 24.0)
    ex = toks.withColumn(
        "chunk_id", F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1))
    )
    start = F.col("chunk_id") * 24
    return ex.select(
        "doc_id",
        "chunk_id",
        start.alias("start_tok"),
        F.least(F.lit(32).cast("bigint"), F.col("n_tok") - start).alias(
            "chunk_tokens"
        ),
        F.array_join(F.slice(F.col("tk"), start + 1, F.lit(32)), " ").alias(
            "chunk_text"
        ),
    ).orderBy("doc_id", "chunk_id")


@register(
    "curate_source_mixing",
    oracle="""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY source
),
tot AS (
  SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) AS z FROM per
)
SELECT source, n_docs, n_tokens,
       round(pow(CAST(n_tokens AS DOUBLE), 0.5) / z, 6) AS mix_weight,
       CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.5) / z * 100000, 0) AS BIGINT)
         AS target_tokens
FROM per CROSS JOIN tot
ORDER BY source
""",
)
def curate_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing weights (α = 0.5) — the standard
    training-mixture reweighting: sampling probability ∝ tokens^α, which
    up-samples small sources and damps dominant ones relative to natural
    frequency. Emits per-source token counts, the normalized mixture
    weight, and the token budget each source gets out of a 100k-token
    epoch. Downstream, `curate_token_budget`'s hash-threshold sampler
    applies these budgets without any window or extra shuffle.

    Scale: one partial+final hash agg over the corpus (per-source token
    totals) — the corpus is scanned ONCE and only (source, count) pairs
    ever move. The normalizer Σ tokens^α is an unpartitioned window over
    the per-source aggregate: deliberately single-partition, but over
    #sources rows, not corpus rows (a normalizer branch derived from the
    corpus twice would double the scan — plan-shape-tested against)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", r"\s+"))).cast("bigint").alias("n_tokens"),
    )
    w = F.pow(F.col("n_tokens").cast("double"), 0.5)
    z = F.sum(w).over(Window.partitionBy())
    return (
        per.select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(w / z, 6).alias("mix_weight"),
            F.round(w / z * 100000, 0).cast("bigint").alias("target_tokens"),
        )
        .orderBy("source")
    )


@register(
    "curate_weighted_sample",
    oracle="""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         round(pow(
           (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
             / 4294967297.0,
           1.0 / n_chars), 9) AS ares_key
  FROM documents
)
SELECT doc_id, source, n_chars, ares_key,
       CAST(row_number() OVER (ORDER BY ares_key DESC, doc_id) AS INT) AS rank
FROM keyed
QUALIFY rank <= 50
ORDER BY rank
""",
)
def curate_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-Res),
    weight = document length: each doc gets key u^(1/w) from a
    deterministic hash-uniform u, and the top-50 keys ARE a weighted
    sample — the exact-size, reproducible form of weighted data mixing
    (longer docs proportionally likelier, no RNG state, replayable).

    Scale: one narrow projection computes keys, and the top-k is
    TakeOrderedAndProject — per-partition partial top-50, never a global
    sort; at 100 TB this is the only distributed-weighted-sample shape
    that needs no shuffle of the corpus. Keys are rounded to 9 digits
    BEFORE ranking with a doc_id tiebreak so the engines' last-ulp pow
    differences cannot reorder the cut."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        + 1
    ) / F.lit(4294967297.0)
    key = F.round(F.pow(u, F.lit(1.0) / F.col("n_chars")), 9)
    keyed = d.select("doc_id", "source", "n_chars", key.alias("ares_key"))
    # orderBy + limit plans as TakeOrderedAndProject — per-partition partial
    # top-50, no global sort, no single-partition window over the corpus;
    # ranks are then numbered over just the 50 survivors. (Spark row_number
    # is already int; the oracle casts DuckDB's bigint.)
    top = keyed.orderBy(F.col("ares_key").desc(), "doc_id").limit(50)
    w = W.orderBy(F.col("ares_key").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(w)).orderBy("rank")


@register(
    "text_dup_ngram_coverage",
    oracle="""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id, source, len(t) - 1 AS n_grams,
         unnest(range(1, len(t))) AS i, t
  FROM toks WHERE len(t) >= 2
),
grams AS (
  SELECT doc_id, source, n_grams, t[i] || ' ' || t[i + 1] AS gram FROM g
),
per_gram AS (
  SELECT doc_id, source, any_value(n_grams) AS n_grams, gram,
         count(*) AS c
  FROM grams GROUP BY doc_id, source, gram
),
per_doc AS (
  SELECT doc_id, source,
         1.0 - CAST(count(*) AS DOUBLE) / any_value(n_grams) AS dup_frac,
         CAST(max(c) AS DOUBLE) / any_value(n_grams) AS top_frac
  FROM per_gram GROUP BY doc_id, source
)
SELECT source,
       round(avg(dup_frac), 6) AS avg_dup_bigram_frac,
       round(max(dup_frac), 6) AS max_dup_bigram_frac,
       round(avg(top_frac), 6) AS avg_top_bigram_frac,
       CAST(sum(CASE WHEN dup_frac > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged
FROM per_doc
GROUP BY source
ORDER BY source
""",
)
def text_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per source: duplicate-bigram fraction
    (share of bigram occurrences repeating an earlier one in the same doc)
    and top-bigram coverage (share taken by the doc's single most frequent
    bigram), with a count of docs above the 0.2 duplicate cut.

    Both signals are WITHIN-ROW codegen expressions from one fold of the
    sorted gram array (`operators/text.py:gram_run_stats`, instead of a
    per-gram groupBy), so
    unlike the oracle's explode+group formulation the corpus never shuffles:
    one scan, one per-source partial+final agg. The oracle re-derives the
    same numbers relationally to pin the arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    grams = tx.word_bigrams(F.col("text"))
    # Pre-filter on the same EMPTY-FILTERED token count word_bigrams uses,
    # so a doc whose only tokens are whitespace artifacts is excluded here
    # exactly as the oracle's len(filtered) >= 2 excludes it.
    real_toks = F.size(
        F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
    )
    # Both repetition signals from ONE sorted-array fold, shared via an
    # explicit intermediate projection (r13): two folds, one per signal,
    # are not merged by codegen (measured 1.88 s vs 0.97 s on this row) —
    # materializing struct + size once per row halves the per-row work.
    # Boundary count of the sorted array == size(array_distinct(...)).
    per_doc = (
        d.filter(real_toks >= 2)
        .select(
            "source",
            F.size(grams).alias("ng"),
            tx.gram_run_stats(grams).alias("st"),
        )
        .select(
            "source",
            F.when(
                F.col("ng") > 0,
                F.lit(1.0) - F.col("st.dist").cast("double") / F.col("ng"),
            ).alias("dup_frac"),
            F.when(
                F.col("ng") > 0,
                F.col("st.best").cast("double") / F.col("ng"),
            ).alias("top_frac"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.round(F.avg("dup_frac"), 6).alias("avg_dup_bigram_frac"),
            F.round(F.max("dup_frac"), 6).alias("max_dup_bigram_frac"),
            F.round(F.avg("top_frac"), 6).alias("avg_top_bigram_frac"),
            F.sum(F.when(F.col("dup_frac") > 0.2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


@register(
    "text_bigram_lm_perplexity",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(text, '\\s+') AS t
  FROM documents
),
uni AS (
  SELECT w, count(*) AS c_w
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
),
ftoks AS (
  -- bigrams come from the EMPTY-FILTERED token stream (mirrors
  -- word_bigrams); unigram counts stay raw, matching the Spark side.
  SELECT doc_id, source, list_filter(t, x -> x <> '') AS t FROM toks
),
big AS (
  SELECT doc_id, source,
         t[i] || ' ' || t[i + 1] AS gram,
         t[i] AS head
  FROM (SELECT doc_id, source, t, unnest(range(1, len(t))) AS i
        FROM ftoks WHERE len(t) >= 2)
),
lm AS (SELECT gram, count(*) AS c_ab FROM big GROUP BY gram),
scored AS (
  SELECT b.doc_id, b.source,
         ln(CAST(lm.c_ab AS DOUBLE) / uni.c_w) AS logp
  FROM big b
  JOIN lm USING (gram)
  JOIN uni ON uni.w = b.head
),
per_doc AS (
  SELECT doc_id, source, -avg(logp) AS ce
  FROM scored GROUP BY doc_id, source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(ce), 6) AS avg_cross_entropy,
       round(min(ce), 6) AS min_cross_entropy,
       round(max(ce), 6) AS max_cross_entropy,
       CAST(sum(CASE WHEN ce < 2.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low_entropy
FROM per_doc
GROUP BY source
ORDER BY source
""",
)
def text_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical quality signal: train a bigram language model
    ON the corpus itself (maximum-likelihood P(b|a) = c(ab)/c(a)), then
    score every document by cross-entropy −avg ln P — template/boilerplate
    docs score low (predictable), noise scores high. Per-source profile
    with a low-entropy count (the "too predictable" cut).

    Scale shape: the LM is two hash aggs (unigram + bigram counts) whose
    size is vocabulary-bounded, not corpus-bounded; scoring joins doc
    bigrams to the LM on the gram key — a shuffle join where the LM side
    re-partitions by construction smaller than the corpus, and map-side
    combine has already collapsed repeated grams. No Python anywhere."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.split("text", r"\s+").alias("t")
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c_w"))
    )
    big = (
        d.filter(
            F.size(F.filter(F.split("text", r"\s+"), lambda t: t != F.lit("")))
            >= 2
        )
        .select(
            "doc_id",
            "source",
            F.explode(tx.word_bigrams(F.col("text"))).alias("gram"),
        )
        .withColumn("head", F.substring_index("gram", " ", 1))
    )
    lm = big.groupBy("gram").agg(F.count("*").alias("c_ab"))
    scored = (
        big.join(lm, "gram")
        # F.col, not big.head — `head` collides with DataFrame.head().
        .join(uni, F.col("head") == uni.w)
        .select(
            "doc_id",
            "source",
            F.log(F.col("c_ab").cast("double") / F.col("c_w")).alias("logp"),
        )
    )
    per_doc = scored.groupBy("doc_id", "source").agg((-F.avg("logp")).alias("ce"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("ce"), 6).alias("avg_cross_entropy"),
            F.round(F.min("ce"), 6).alias("min_cross_entropy"),
            F.round(F.max("ce"), 6).alias("max_cross_entropy"),
            F.sum(F.when(F.col("ce") < 2.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_low_entropy"),
        )
        .orderBy("source")
    )


@register(
    "tokenizer_bpe_merges",
    doc="rows-only: iterative BPE merge-table training on the corpus",
)
def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level BPE tokenizer training on the corpus
    (`operators/text.py:bpe_train`): 8 merge rounds, each one
    vocabulary-bounded pair-count aggregate plus one anchored
    regexp_replace rewrite; merge choice is deterministic (count desc,
    pair asc). Emits the learned merge table. Iterative → rows-only;
    `audit_bpe_conservation` pins the exact token-conservation law to an
    oracle-checkable count."""
    from etl_lala_spark.io import tiny_df

    d = load_table(spark, sf_dir, "documents")
    merges = tx.bpe_train(d, n_merges=8)
    return tiny_df(
        spark,
        [
            (m["rank"], m["pair"], m["pair_count"], m["applied"])
            for m in merges
        ],
        "rank int, pair string, pair_count bigint, applied bigint",
    ).orderBy("rank")


def _quality_features(d: DataFrame) -> DataFrame:
    """Shared teacher-rule feature/label frame for classifier training:
    three scan-fused text features and the quality rule's 0/1 verdict as
    the distillation label."""
    text = F.col("text")
    return d.select(
        "doc_id",
        F.least(tx.token_count(text) / F.lit(100.0), F.lit(1.0)).alias("f_len"),
        (tx.punct_count(text).cast("double") / F.length(text)).alias("f_punct"),
        (tx.stopword_count(text).cast("double") / tx.token_count(text)).alias(
            "f_stop"
        ),
        (tx.quality_score(text) >= 0.5).cast("int").alias("y"),
    )


@register(
    "train_quality_classifier",
    doc="rows-only: iterative logistic-regression training loss curve",
)
def train_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier training ON the cluster (the fastText-style
    distillation step: label with a cheap teacher rule, fit a linear
    student, deploy the student as one fused scan expression —
    `operators/ml.py:logistic_train`). Emits the per-iteration log-loss
    curve. Iterative → rows-only; `audit_logistic_training` pins the
    monotone-loss / accuracy contract to oracle-checkable flags."""
    from etl_lala_spark.io import tiny_df
    from etl_lala_spark.operators import ml

    d = load_table(spark, sf_dir, "documents")
    # cache: 31 gradient rounds re-read the same metadata-sized projection;
    # at 100 TB this is the standard persist-the-training-frame step.
    feats = _quality_features(d).cache()
    fit = ml.logistic_train(feats, ["f_len", "f_punct", "f_stop"], iters=30, lr=4.0)
    feats.unpersist()
    return tiny_df(
        spark,
        [(i, round(l, 6)) for i, l in enumerate(fit["losses"])],
        "iteration int, log_loss double",
    ).orderBy("iteration")


@register(
    "curate_importance_resampling",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang = 'en' AS is_target,
         unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
  FROM documents
),
b AS (
  SELECT doc_id, is_target,
         (('0x' || substr(md5(t), 1, 8))::BIGINT) % 64 AS b
  FROM tok WHERE t <> ''
),
stats AS (
  SELECT b, count(*) AS c_n, count(*) FILTER (is_target) AS t_n
  FROM b GROUP BY b
),
tot AS (SELECT sum(c_n) AS c_tot, sum(t_n) AS t_tot FROM stats),
lr AS (
  SELECT b, round(ln(((t_n + 1.0) / (t_tot + 64.0))
                   / ((c_n + 1.0) / (c_tot + 64.0))), 9) AS logratio
  FROM stats, tot
),
scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         round(avg(logratio), 6) AS weight
  FROM b JOIN lr USING (b)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, weight,
       CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 25
ORDER BY rank
""",
)
def curate_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (`operators/text.py:importance_weights`):
    rank the corpus by the mean log-likelihood ratio of each document's
    hashed unigram features under the target domain (here: the English
    slice) vs the raw corpus, and keep the top-25 — the importance-
    resampling step that shifts a pretraining mixture toward a target
    domain without training a classifier. Deterministic end-to-end
    (md5 feature hashing, add-one smoothing, 9-digit log rounding before
    the mean), so the selection is oracle-replayable.

    Scale: the 64-bucket distribution table broadcasts; per-doc means are
    map-side combinable (a doc's tokens are co-located by construction);
    the top-25 is a TakeOrderedAndProject. Two corpus scans, zero
    corpus-sized shuffles."""
    from pyspark.sql import Window as W

    from etl_lala_spark.operators.text import importance_weights

    d = load_table(spark, sf_dir, "documents")
    # importance_weights now emits token-less docs as (n_tokens=0,
    # weight=NULL); a ranking by weight excludes them explicitly (the
    # oracle's token-grain CTEs never see such docs at all).
    w = importance_weights(d, F.col("lang") == "en", n_buckets=64).filter(
        F.col("weight").isNotNull()
    )
    top = w.orderBy(F.col("weight").desc(), "doc_id").limit(25)
    rank = F.row_number().over(W.orderBy(F.col("weight").desc(), "doc_id"))
    return top.select("doc_id", "n_tokens", "weight").withColumn(
        "rank", rank.cast("int")
    ).orderBy("rank")


@register(
    "tokenizer_unigram_em",
    doc="rows-only: unigram-LM (SentencePiece) tokenizer training via Viterbi-EM",
)
def tokenizer_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018 / SentencePiece family —
    the other standard subword scheme next to BPE) on the corpus:
    substring-seeded vocab, 4 Viterbi-EM rounds over the distinct-word
    table with exact-MLE M-steps (`operators/text.py:unigram_lm_train`).
    Emits the top-25 learned pieces. Iterative + float-scored → rows-only;
    `audit_unigram_em` pins exact reconstruction, the monotone hard-EM
    likelihood law, and hash-matched corpus counts to the oracle gate."""
    from etl_lala_spark.io import tiny_df

    d = load_table(spark, sf_dir, "documents")
    model = tx.unigram_lm_train(d, vocab_size=150, max_piece_len=4, iters=4)
    top = model["vocab"][:25]
    return tiny_df(
        spark,
        [
            (i + 1, v["piece"], round(v["prob"], 6), v["count"])
            for i, v in enumerate(top)
        ],
        "rank int, piece string, prob double, count bigint",
    ).orderBy("rank")


# --- HTML boilerplate extraction (jusText/trafilatura family) ---------------

# The fixed literals of the constructed pages: the densities are closed-form
# arithmetic in the literals' lengths, shared between the page builder and
# the oracle so neither side hand-counts characters.
_MC_PARA = (
    "the wind and the rain keep the old mill turning while we watch from"
    " the hill"
)
_MC_LINKPARA_TEXT = "we saw the old boat by the long pier and the cold sea"
_MC_NAV_TEXT_CHARS = len("home about us now")
_MC_FOOTER_TEXT_CHARS = len("t&c privacy contact")  # after entity decode


@register(
    "text_extract_main_content",
    oracle=f"""
WITH d AS (
  SELECT doc_id, doc_id % 3 + 1 AS m,
         length(CAST(doc_id AS VARCHAR)) AS dk
  FROM documents WHERE doc_id < 30
)
SELECT doc_id,
       CAST(m + 4 AS BIGINT) AS n_blocks,
       CAST(m + 2 AS BIGINT) AS n_good,
       CAST(2 AS BIGINT) AS n_bad,
       CAST((4 + dk) + m * ({len(_MC_PARA)} + 4 + dk)
            + {len(_MC_LINKPARA_TEXT)} AS BIGINT) AS content_chars,
       CAST({_MC_NAV_TEXT_CHARS + _MC_FOOTER_TEXT_CHARS} AS BIGINT)
         AS chrome_chars
FROM d
ORDER BY doc_id
""",
)
def text_extract_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate extraction (the jusText/trafilatura main-content
    stage — the standard first pass on raw web crawl before any text
    quality scoring): pages are CONSTRUCTED in-cluster for a pinned
    30-doc cohort — a nav bar (pure links), a short heading (must be
    rescued by its content neighborhood), m = doc_id%3+1 long stopword-rich
    paragraphs, one paragraph with an inline link (low link density — must
    survive), a script element whose body contains fake markup (must be
    dropped wholesale, not parsed), an HTML entity in the footer (decoded
    AFTER tag stripping), and a pure-link footer. Every per-block decision
    — link density > 1/3, short < 25 chars, stopword density >= 0.2,
    neighbor rescue — lands in closed-form per-doc counts the oracle
    derives from the literals' lengths alone. Block segmentation, entity
    decode, density scoring and the two-pass classification are all
    codegen expressions + one per-doc window
    (operators/text.py:html_blocks): at 100 TB this is scan+project with
    no global shuffle."""
    k = F.col("doc_id")
    ks = k.cast("string")
    m = k % 3 + 1
    paras = F.array_join(
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.concat(
                F.lit(f"<p>{_MC_PARA} w"),
                ks,
                F.lit("x"),
                i.cast("string"),
                F.lit("</p>"),
            ),
        ),
        "\n",
    )
    html = F.concat(
        F.lit(
            '<html><body>\n<script>var a = "<p>not text</p>";</script>\n'
            '<div class="nav"><a href="/">home</a>'
            ' <a href="/about">about us now</a></div>\n<h1>Doc '
        ),
        ks,
        F.lit("</h1>\n"),
        paras,
        F.lit(
            "\n<p>we saw the old boat by the"
            ' <a href="/x">long pier</a> and the cold sea</p>\n'
            '<div class="footer"><a href="/t">t&amp;c</a>'
            ' <a href="/p">privacy</a> <a href="/c">contact</a></div>\n'
            "</body></html>"
        ),
    )
    pages = (
        load_table(spark, sf_dir, "documents")
        .filter(k < 30)
        .select("doc_id", html.alias("html"))
    )
    return (
        tx.extract_main_content(pages)
        .select(
            "doc_id", "n_blocks", "n_good", "n_bad", "content_chars",
            "chrome_chars",
        )
        .orderBy("doc_id")
    )


@register(
    "tokenizer_wordpiece_merges",
    doc="rows-only: WordPiece likelihood-ratio merge-table training",
)
def tokenizer_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer training on the corpus
    (`operators/text.py:wordpiece_train`): 8 merge rounds electing the pair
    with maximal count(ab)/(count(a)*count(b)) — the unigram-LM likelihood
    gain, BERT's subword scheme — each applied as one anchored
    regexp_replace. Emits the learned merge table with both constituent
    counts and the ratio. Iterative + float-scored → rows-only;
    `audit_wordpiece_conservation` pins the token-conservation law AND the
    round-1 election to a closed-form DuckDB replay."""
    from etl_lala_spark.io import tiny_df

    d = load_table(spark, sf_dir, "documents")
    merges = tx.wordpiece_train(d, n_merges=8)
    return tiny_df(
        spark,
        [
            (
                m["rank"],
                m["pair"],
                m["pair_count"],
                m["count_a"],
                m["count_b"],
                round(m["score"], 9),
                m["applied"],
            )
            for m in merges
        ],
        "rank int, pair string, pair_count bigint, count_a bigint,"
        " count_b bigint, score double, applied bigint",
    ).orderBy("rank")


@register(
    "tokenizer_wordpiece_apply",
    doc="rows-only: greedy longest-match WordPiece inference over a trained vocab",
)
def tokenizer_wordpiece_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match-first WordPiece INFERENCE (BERT's serving-time
    tokenizer) over a unigram-LM-trained piece vocabulary
    (`operators/text.py:wordpiece_greedy_apply`): segments every doc,
    emits the 20 most frequent pieces with counts. Trained-vocab-dependent
    → rows-only; `audit_wordpiece_apply` pins the exact char-conservation
    law and zero-UNK invariant to the oracle gate."""
    d = load_table(spark, sf_dir, "documents")
    model = tx.unigram_lm_train(d, vocab_size=150, max_piece_len=4, iters=2)
    vocab = {v["piece"] for v in model["vocab"]} | set(model.get("chars", []))
    applied = tx.wordpiece_greedy_apply(d, vocab)
    return (
        applied.select(F.explode(F.split("pieces", "\x01")).alias("piece"))
        .filter(F.col("piece") != "")
        .groupBy("piece")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "piece")
        .limit(20)
    )


@register(
    "tokenizer_byte_bpe",
    doc="rows-only: byte-level BPE merge-table training (GPT-2/tiktoken family)",
)
def tokenizer_byte_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE training on the corpus
    (`operators/text.py:byte_bpe_train`): every word seeds as its UTF-8
    hex byte tokens (closed 256-symbol alphabet — the GPT-2 property that
    makes UNK impossible), then 8 rounds of the shared greedy merge
    machinery. Emits the merge table with each merged piece decoded back
    to text for readability. Iterative, driver-elected → rows-only;
    `audit_byte_bpe` pins the round-1 election, the byte conservation law,
    and exact reconstruction to the DuckDB oracle."""
    from etl_lala_spark.io import tiny_df

    d = load_table(spark, sf_dir, "documents")
    merges = tx.byte_bpe_train(d, n_merges=8)
    rows = []
    for m in merges:
        piece_hex = m["pair"].replace(" ", "").replace("\x01", "")
        try:
            piece = bytes.fromhex(piece_hex).decode("utf-8")
        except (ValueError, UnicodeDecodeError):
            piece = None  # merge ends mid-codepoint: valid, just unprintable
        rows.append((m["rank"], m["pair"], piece, m["pair_count"], m["applied"]))
    return tiny_df(
        spark,
        rows,
        "rank int, pair string, piece string, pair_count bigint, applied bigint",
    ).orderBy("rank")


# --- Trained language-ID (fastText family) -----------------------------------

# Planted multilingual corpus: deterministic per-language sentences whose
# marker words are mutually exclusive across languages (so the marker-word
# heuristic classifies them identically — the agreement pytest pins that),
# with per-doc variation (unique token + repetition) so hashed-trigram
# features are not constant per class.
_LANGID_LANGS = ["en", "de", "es", "fr"]
_LANGID_BASE = {
    "en": "the old man and the young dog walked of course to the market"
          " and back",
    "de": "der alte mann und die junge frau gingen und der hund lief die"
          " strasse entlang",
    "es": "el perro viejo y los gatos de una casa blanca corren una y los"
          " dias el sol",
    "fr": "le chien et les chats vont le matin et les soirs dans la petite"
          " maison",
}


def _langid_corpus(d: DataFrame) -> DataFrame:
    """(doc_id, lang_true, text) for doc_id < 400: language = doc_id % 4,
    text = base sentence + unique token, repeated doc_id % 3 + 1 times."""
    lang = F.element_at(
        F.array(*[F.lit(x) for x in _LANGID_LANGS]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    base = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _LANGID_BASE.items() for x in kv]
        ),
        lang,
    )
    unit = F.concat(base, F.lit(" w"), F.col("doc_id").cast("string"))
    return d.filter(F.col("doc_id") < 400).select(
        "doc_id",
        lang.alias("lang_true"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), (F.col("doc_id") % 3 + 1).cast("int")),
                lambda _: unit,
            ),
            " ",
        ).alias("text"),
    )


@register(
    "langid_trained",
    oracle="""
WITH d AS (
  SELECT doc_id, ['en', 'de', 'es', 'fr'][doc_id % 4 + 1] AS lang_true
  FROM documents WHERE doc_id < 400
)
SELECT lang_true,
       lang_true AS pred_lang,
       CAST(count(*) AS BIGINT) AS n
FROM d GROUP BY lang_true ORDER BY lang_true
""",
)
def langid_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained language-ID (fastText family — Joulin et al. 2016): hashed
    char-trigram features + one-vs-rest logistic regression
    (`operators/ml.py:langid_train`), deployed as a fused codegen argmax
    (`langid_predict`). Emits the confusion matrix over the planted
    4-language corpus. Oracle-backed since r10 (was rows-only): the
    training is deterministic (fixed init, fixed lr/iters, no RNG) and
    the planted languages are separated by their function words, so the
    confusion matrix is EXACTLY the all-diagonal planting arithmetic —
    the same contract ``audit_langid_trained`` has pinned green since
    r9; carrying the oracle here upgrades the row from ran-rows to
    hash-matched."""
    from etl_lala_spark.operators import ml

    corpus = _langid_corpus(load_table(spark, sf_dir, "documents"))
    # One materialized feature frame feeds BOTH training and serving
    # (deterministic map — bit-identical to rebuilding it per phase);
    # without this the explode + pivot feature build ran twice.
    feats = ml.hashed_char_ngram_features(
        corpus, n_buckets=16
    ).localCheckpoint()
    model = ml.langid_train(
        corpus, _LANGID_LANGS, label_col="lang_true", n_buckets=16, iters=6,
        feats=feats,
    )
    pred = ml.langid_predict(corpus, model, feats=feats)
    return (
        pred.groupBy("lang_true", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("lang_true", "pred_lang")
    )


@register(
    "text_fix_mojibake",
    oracle="""
SELECT doc_id,
       CAST(n_chars + 1 + CASE doc_id % 3
            WHEN 0 THEN 14 WHEN 1 THEN 15
            ELSE 17 END AS BIGINT) AS clean_chars,
       1 AS repaired_ok, 1 AS double_ok, 1 AS fixpoint_ok
FROM documents WHERE doc_id < 300 ORDER BY doc_id
""",
)
def text_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding repair (ftfy fix_encoding family — the mojibake pass every
    web-text pipeline runs before tokenization): per document a CLEAN text
    (the doc's text + an accented snippet: French, em-dash German,
    Spanish by doc_id % 3) is MANGLED in-plan — decode(encode(clean,
    UTF-8), ISO-8859-1), the exact misdecode that produces 'cafÃ©' — once
    and twice, then repaired by ``operators/text.py:fix_mojibake`` (one
    pass and two passes). Flags, all pinned to 1 by the oracle:
    single-pass repair restores the clean text byte-for-byte, the double
    mangle unwinds under passes=2, and clean text is a FIXED POINT (the
    signature guard means repair can never touch undamaged text —
    ``clean_chars`` hash-matches the planting arithmetic so the cohort
    itself is verified). Everything — mangle, signature detection,
    Latin-1 round-trip, UTF-8 validation, repair — is codegen; at 100 TB
    this stage is one scan."""
    from etl_lala_spark.operators.text import fix_mojibake

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    snippet = F.element_at(
        F.array(*[F.lit(x) for x in ['café été crème', 'naïve — déjà vu', 'señor über piñata']]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    clean = F.concat(F.col("text"), F.lit(" "), snippet)
    mangle = lambda c: F.decode(F.encode(c, "UTF-8"), "ISO-8859-1")  # noqa: E731
    m1 = mangle(clean)
    m2 = mangle(mangle(clean))
    return d.select(
        "doc_id",
        F.length(clean).cast("bigint").alias("clean_chars"),
        (fix_mojibake(m1) == clean).cast("int").alias("repaired_ok"),
        (fix_mojibake(m2, passes=2) == clean).cast("int").alias("double_ok"),
        (fix_mojibake(clean) == clean).cast("int").alias("fixpoint_ok"),
    ).orderBy("doc_id")


@register(
    "curate_shard_export",
    oracle="""
WITH k AS (
  SELECT doc_id, md5('r9:' || doc_id) AS shuffle_key,
         CAST(octet_length(encode(text)) AS BIGINT) AS doc_bytes
  FROM documents
),
c AS (
  SELECT *, sum(doc_bytes) OVER (ORDER BY shuffle_key, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bytes
  FROM k
)
SELECT CAST(floor((cum_bytes - doc_bytes) / 16384) AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_bytes) AS BIGINT) AS shard_bytes_actual,
       min(shuffle_key) AS min_key,
       max(shuffle_key) AS max_key
FROM c
GROUP BY 1
ORDER BY shard
""",
)
def curate_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle + size-targeted shard export
    (``sinks/writer.py:shard_assignments`` → ``shard_manifest``) — the
    release stage of a training-data pipeline (WebDataset/Dolma-style
    fixed-byte shards in a reproducible seed-keyed order). The engine
    computes the GLOBAL byte running sum as a distributed prefix sum
    (range-bucket by the sort key's first byte → per-bucket totals →
    driver prefix offsets → within-bucket window), while the oracle runs
    the textbook single-window definition — the gate IS the equivalence
    proof between the scalable plan and the naive one. A wrong bucket
    order, a lost byte at a bucket boundary, or a non-deterministic
    tiebreak shifts a shard boundary and lands on different rows."""
    from etl_lala_spark.sinks.writer import shard_assignments, shard_manifest

    d = load_table(spark, sf_dir, "documents")
    asg = shard_assignments(d, shard_bytes=16384, seed="r9")
    return shard_manifest(asg).orderBy("shard")


@register(
    "text_sentence_split",
    oracle="""
WITH d AS (SELECT doc_id, doc_id % 10 AS m FROM documents WHERE doc_id < 250),
s AS (SELECT doc_id, m, unnest(range(0, 7)) AS sentence_id FROM d)
SELECT doc_id, CAST(sentence_id AS INT) AS sentence_id,
       CASE sentence_id
         WHEN 0 THEN 'Dr. Smith saw w' || doc_id || '.'
         WHEN 1 THEN 'It was late!'
         WHEN 2 THEN 'Was it?'
         WHEN 3 THEN 'See fig. ' || m || ' now.'
         WHEN 4 THEN 'Hmm...'
         WHEN 5 THEN 'Yes.'
         ELSE 'End ' || doc_id END AS sentence
FROM s
ORDER BY doc_id, sentence_id
""",
)
def text_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based sentence segmentation
    (``operators/text.py:split_sentences``) under a closed-form gate:
    constructed paragraphs exercise the abbreviation guard (title 'Dr.',
    mid-sentence 'fig. N'), all three terminators, an ellipsis run
    (splits ONCE, terminator kept), and an unterminated final sentence.
    The oracle STATES every output sentence per doc — stating rather than
    replaying the regexes keeps Java-vs-RE2 engine quirks out of the
    comparison, so a broken guard, a split inside 'Dr.', a lost
    terminator, or an id shift lands on different rows."""
    from etl_lala_spark.operators.text import split_sentences

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    ds = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit("Dr. Smith saw w"), ds,
        F.lit(". It was late! Was it? See fig. "),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(" now. Hmm... Yes. End "), ds,
    )
    return (
        split_sentences(d.select("doc_id", text.alias("text")))
        .select("doc_id", "sentence_id", "sentence")
        .orderBy("doc_id", "sentence_id")
    )


@register(
    "text_gopher_rules",
    oracle="""
WITH d AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % 4 = 0
              THEN chr(10) || '- bullet one' || chr(10) || '* bullet two'
                   || chr(10) || '• bullet three' ELSE '' END
           || CASE WHEN doc_id % 5 = 0
              THEN chr(10) || 'trailing thought...' || chr(10) || 'another…'
              ELSE '' END
           || CASE WHEN doc_id % 6 = 0
              THEN chr(10) || '## ### #hash#tag' ELSE '' END
           || CASE WHEN doc_id % 2 = 0
              THEN ' the cost of that and more to be clear with what we have'
              ELSE '' END AS txt
  FROM documents WHERE doc_id < 300
),
m AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(txt, '\\s+'), x -> x <> ''))
           AS n_words,
         length(regexp_replace(txt, '\\s+', '', 'g')) AS word_chars,
         len(regexp_extract_all(txt, '#'))
           + len(regexp_extract_all(txt, '\\.\\.\\.|…')) AS symbols,
         list_filter(list_transform(regexp_split_to_array(txt, chr(10)),
                                    x -> trim(x)), x -> x <> '') AS lines,
         list_filter(regexp_split_to_array(txt, '\\s+'), x -> x <> '') AS words
  FROM d
),
f AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         round(word_chars / n_words, 6) AS mean_word_len,
         round(symbols / n_words, 6) AS symbol_word_ratio,
         CASE WHEN len(lines) > 0 THEN
           round(len(list_filter(lines, x -> regexp_matches(x, '^[-*•‣▪]')))
                 / len(lines), 6) END AS bullet_line_frac,
         CASE WHEN len(lines) > 0 THEN
           round(len(list_filter(lines, x -> regexp_matches(x, '(\\.\\.\\.|…)$')))
                 / len(lines), 6) END AS ellipsis_line_frac,
         round(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
               / n_words, 6) AS alpha_word_frac,
         CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
              s -> list_contains(list_distinct(list_transform(words,
                                               x -> lower(x))), s)))
           AS BIGINT) AS stop_hits
  FROM m
)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
       ellipsis_line_frac, alpha_word_frac, stop_hits,
       n_words BETWEEN 30 AND 100000 AS r_word_count,
       coalesce(mean_word_len BETWEEN 3.0 AND 10.0, FALSE) AS r_mean_word_len,
       coalesce(symbol_word_ratio <= 0.1, FALSE) AS r_symbol_ratio,
       coalesce(bullet_line_frac <= 0.9, TRUE) AS r_bullet_lines,
       coalesce(ellipsis_line_frac <= 0.3, TRUE) AS r_ellipsis_lines,
       coalesce(alpha_word_frac >= 0.8, FALSE) AS r_alpha_words,
       stop_hits >= 2 AS r_stopwords,
       (n_words BETWEEN 30 AND 100000)
         AND coalesce(mean_word_len BETWEEN 3.0 AND 10.0, FALSE)
         AND coalesce(symbol_word_ratio <= 0.1, FALSE)
         AND coalesce(bullet_line_frac <= 0.9, TRUE)
         AND coalesce(ellipsis_line_frac <= 0.3, TRUE)
         AND coalesce(alpha_word_frac >= 0.8, FALSE)
         AND stop_hits >= 2 AS keep
FROM f
ORDER BY doc_id
""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher A1.1 document-quality rule battery
    (``operators/text.py:gopher_quality_rules`` — the named rule set
    Dolma and FineWeb reuse) over real document text with in-plan
    injections that force both branches of the line rules (bullet runs,
    ellipsis-terminated lines, hash bursts). The oracle replays every
    metric — word/char arithmetic, non-overlapping symbol counts, line
    trims, alphabetic-word and stopword-presence sets — and every
    threshold decision including the vacuous-pass NULL semantics of the
    line rules. One within-row codegen scan, zero shuffles."""
    from etl_lala_spark.operators.text import gopher_quality_rules

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    txt = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            "\n- bullet one\n* bullet two\n• bullet three",
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 0, "\ntrailing thought...\nanother…"
        ).otherwise(""),
        F.when(F.col("doc_id") % 6 == 0, "\n## ### #hash#tag").otherwise(""),
        F.when(
            F.col("doc_id") % 2 == 0,
            " the cost of that and more to be clear with what we have",
        ).otherwise(""),
    )
    return (
        gopher_quality_rules(
            d.select("doc_id", txt.alias("text")), min_words=30
        )
        .select(
            "doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
            "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
            "stop_hits", "r_word_count", "r_mean_word_len", "r_symbol_ratio",
            "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
            "r_stopwords", "keep",
        )
        .orderBy("doc_id")
    )


@register(
    "chat_turn_quality",
    oracle="""
WITH d AS (
  SELECT doc_id, doc_id % 5 AS k, length(CAST(doc_id AS VARCHAR)) AS dk
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       k <> 4 AS parse_ok,
       CASE WHEN k = 4 THEN NULL ELSE k = 1 END AS has_system,
       CASE k WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 2 WHEN 3 THEN 2
         END AS n_turns,
       k IN (0, 1, 3) AS roles_ok,
       CASE WHEN k = 4 THEN NULL ELSE k IN (0, 1, 3) END AS ends_assistant,
       CASE WHEN k = 4 THEN NULL ELSE k = 3 END AS has_empty_content,
       CAST(CASE k WHEN 0 THEN 3 + dk WHEN 1 THEN 5 + dk WHEN 2 THEN 4
                   WHEN 3 THEN 2 + dk END AS BIGINT) AS user_chars,
       CAST(CASE k WHEN 0 THEN 7 + dk WHEN 1 THEN 5 + dk WHEN 2 THEN 0
                   WHEN 3 THEN 0 END AS BIGINT) AS assistant_chars,
       k IN (0, 1) AS keep
FROM d
ORDER BY doc_id
""",
)
def chat_turn_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-data (SFT) transcript hygiene
    (``operators/text.py:chat_turn_stats``) — the chat-format data
    modality: five record classes (valid 2-turn, system + 4 valid turns,
    a user→user alternation violation, an empty assistant target, and
    malformed JSON kept as a flagged row) with every check and both
    per-role character folds stated closed-form by the oracle. A system
    turn counted as a body turn, a missed alternation violation, a
    trailing-user keep, or a dropped malformed row lands on different
    rows. One scan, within-row higher-order functions, no shuffle."""
    from etl_lala_spark.operators.text import chat_turn_stats

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ds = F.col("doc_id").cast("string")
    k = F.col("doc_id") % 5
    j = (
        F.when(k == 0, F.concat(
            F.lit('[{"role":"user","content":"hi '), ds,
            F.lit('"},{"role":"assistant","content":"hello '), ds,
            F.lit('!"}]'),
        ))
        .when(k == 1, F.concat(
            F.lit('[{"role":"system","content":"s"},'
                  '{"role":"user","content":"u1 '), ds,
            F.lit('"},{"role":"assistant","content":"a1"},'
                  '{"role":"user","content":"u2"},'
                  '{"role":"assistant","content":"a2 '), ds,
            F.lit('"}]'),
        ))
        .when(k == 2, F.lit('[{"role":"user","content":"x1"},'
                            '{"role":"user","content":"x2"}]'))
        .when(k == 3, F.concat(
            F.lit('[{"role":"user","content":"q '), ds,
            F.lit('"},{"role":"assistant","content":""}]'),
        ))
        .otherwise(F.lit("{not json"))
    )
    return (
        chat_turn_stats(d.select("doc_id", j.alias("messages_json")))
        .select(
            "doc_id", "parse_ok", "has_system", "n_turns", "roles_ok",
            "ends_assistant", "has_empty_content", "user_chars",
            "assistant_chars", "keep",
        )
        .orderBy("doc_id")
    )


@register(
    "text_normalize_punct",
    oracle="""
SELECT doc_id,
       'he said ''hi'' and "bye" - twice - at  home... done' AS normalized,
       CAST(strlen('he said ''hi'' and "bye" - twice - at  home... done')
         AS BIGINT) AS n_chars
FROM documents WHERE doc_id < 200
ORDER BY doc_id
""",
)
def text_normalize_punct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typographic-punctuation folding
    (``operators/text.py:normalize_punct``): curly quotes → straight,
    en/em dashes → hyphen, no-break space → space, ellipsis → three
    dots — the pre-tokenization normalization that makes ``“word”`` and
    ``"word"`` share subwords. The constructed input exercises every fold
    class; the oracle states the folded string and its byte length (the
    ellipsis fold CHANGES length — a translate-only implementation that
    maps … to one char fails the length)."""
    from etl_lala_spark.operators.text import normalize_punct

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    raw = F.lit("he said ‘hi’ and “bye” – twice"
                " — at  home… done")
    norm = normalize_punct(raw)
    return d.select(
        "doc_id",
        norm.alias("normalized"),
        F.octet_length(norm).cast("bigint").alias("n_chars"),
    ).orderBy("doc_id")


@register(
    "curate_shard_export_bpe",
    oracle="""
WITH d AS (
  SELECT doc_id,
         CAST(doc_id % 4 + 1 AS BIGINT) + CAST(doc_id % 3 + 1 AS BIGINT)
           + 2 + length(CAST(doc_id AS VARCHAR)) AS n_tokens
  FROM documents WHERE doc_id < 400
),
k AS (
  SELECT doc_id, n_tokens, md5('bpe:' || doc_id) AS shuffle_key FROM d
),
c AS (
  SELECT *, sum(n_tokens) OVER (ORDER BY shuffle_key, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM k
)
SELECT CAST(floor((cum_tokens - n_tokens) / 64) AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       min(shuffle_key) AS min_key,
       max(shuffle_key) AS max_key
FROM c
GROUP BY 1
ORDER BY shard
""",
)
def curate_shard_export_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER-budgeted shard export (round-9 verdict task 6): real
    training-data releases budget shards in TOKENS, not bytes —
    ``curate_shard_export``'s byte variant under-fills shards of
    compressible text. The chain: a PINNED 5-merge byte-BPE vocab
    (rank-ordered: a+b, ab+c, d+e, de+de, x+y — hex byte tokens, the
    ``byte_bpe_train`` output format) replays through the REAL
    ``operators/text.py:byte_bpe_apply`` over constructed docs, and
    ``sinks/writer.py:shard_assignments`` packs on the resulting
    ``n_pieces`` via ``size_col`` — the distributed prefix sum now counts
    tokens. The construction makes greedy-apply arithmetic provable: doc
    d = (d%4+1) × 'abc' (3 bytes → 1 piece via merges 1+2), (d%3+1) ×
    'dede' (4 bytes → 1 piece via merges 3+4), one 'xyz<d>' tail (2 +
    digit-count pieces via merge 5 — digits never merge). The oracle
    replays token counts from that arithmetic and the packing window from
    its own md5 — a merge-order bug, a fallback-byte loss, or a
    byte-vs-token budget mixup shifts shard boundaries and token sums.

    Scale: apply is a narrow codegen map (no shuffle); packing shuffles
    once on the range bucket; budget arithmetic is per-shard integers."""
    from etl_lala_spark.operators.text import byte_bpe_apply
    from etl_lala_spark.sinks.writer import shard_assignments

    # merged tokens carry the \x01 joiner internally (byte_bpe_train's own
    # pair format for second-order merges — _merge_rewrite joins a+sep+b)
    merges = [
        {"pair": "61 62"},                  # a+b        -> 'ab'
        {"pair": "61\x0162 63"},            # 'ab'+c     -> 'abc'
        {"pair": "64 65"},                  # d+e        -> 'de'
        {"pair": "64\x0165 64\x0165"},      # 'de'+'de'  -> 'dede'
        {"pair": "78 79"},                  # x+y        -> 'xy'
    ]
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    text = F.concat(
        F.array_join(
            F.array_repeat(F.lit("abc"), (F.col("doc_id") % 4 + 1).cast("int")),
            " ",
        ),
        F.lit(" "),
        F.array_join(
            F.array_repeat(F.lit("dede"), (F.col("doc_id") % 3 + 1).cast("int")),
            " ",
        ),
        F.lit(" xyz"),
        F.col("doc_id").cast("string"),
    )
    toks = byte_bpe_apply(d.select("doc_id", text.alias("text")), merges)
    asg = shard_assignments(
        toks.select("doc_id", "n_pieces"),
        shard_bytes=64,
        seed="bpe",
        size_col="n_pieces",
    )
    return (
        asg.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_bytes").cast("bigint").alias("shard_tokens"),
            F.min("shuffle_key").alias("min_key"),
            F.max("shuffle_key").alias("max_key"),
        )
        .orderBy("shard")
    )
