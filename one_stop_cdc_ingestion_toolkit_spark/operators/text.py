"""Text-analysis operators: token counting, quality scoring (and its
per-source quantile normalization, a041), language ID, document
fingerprinting. ``_duck_quality`` is the one DuckDB twin of
``quality_score``; every oracle that scores quality uses it.

All hot-path logic is built-in Spark SQL functions (regex, split,
higher-order) — JVM-side, codegen'd, no Python UDFs — so a 100 TB
documents scan stays inside whole-stage codegen. Oracle SQL uses the
DuckDB dialect where function names differ (allowed per driver contract:
the oracle only has to be DuckDB-runnable, not the same text).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import register

#: marker stopwords per language for the n-gram/stopword lang-ID heuristic
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|in|is|you|that|it|for)\b",
    "de": r"\b(der|die|und|das|ist|nicht|ein|ich|mit|sie)\b",
    "es": r"\b(el|la|de|que|y|los|se|del|las|por)\b",
    "fr": r"\b(le|la|et|les|des|est|une|dans|que|pour)\b",
    "zh": "[一-鿿]",
}


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(text), r"\s+"))


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish tokenization: alnum runs and single non-alnum marks."""
    return F.regexp_extract_all(F.lower(text), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)


def punct_ratio(text: Column) -> Column:
    """Share of characters that are not ASCII-alnum/whitespace (punct-ish)."""
    punct = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", ""))
    return punct / F.greatest(F.length(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality: length component x non-punct share."""
    tokens = token_count(text).cast("double")
    return F.round(F.least(tokens / 100.0, F.lit(1.0)) * (1.0 - punct_ratio(text)), 4)


def _duck_quality(text: str = "text") -> str:
    """DuckDB twin of `quality_score` over the SQL column ``text``."""
    return rf"""ROUND(LEAST(CAST(len(string_split_regex(trim({text}), '\s+')) AS DOUBLE)
                      / 100.0, 1.0)
                * (1.0 - CAST(length(regexp_replace({text}, '[a-zA-Z0-9\s]', '', 'g'))
                              AS DOUBLE)
                        / GREATEST(length({text}), 1)), 4)"""


def lang_scores(text: Column) -> dict[str, Column]:
    low = F.lower(text)
    return {
        lang: F.size(F.regexp_extract_all(low, F.lit(pat), 0))
        for lang, pat in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Heuristic language ID: CJK presence wins, else argmax marker hits
    with fixed priority (en > de > es > fr) on ties; 'und' when no hits."""
    s = lang_scores(text)
    best = F.greatest(s["en"], s["de"], s["es"], s["fr"])
    return (
        F.when(s["zh"] > 0, "zh")
        .when(best == 0, "und")
        .when(s["en"] == best, "en")
        .when(s["de"] == best, "de")
        .when(s["es"] == best, "es")
        .otherwise("fr")
    )


def fingerprint(text: Column) -> Column:
    """Normalization fingerprint: md5 of lowercased, whitespace-collapsed text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


# ---------------------------------------------------------------------------
# Registered queries (documents fixture)
# ---------------------------------------------------------------------------


@register(
    "b47_token_stats",
    r"""SELECT lang, COUNT(*) AS n_docs,
              CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
                AS n_tokens,
              CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
       FROM documents GROUP BY lang ORDER BY lang""",
)
def b47_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit BIGINT cast on the token sum (DuckDB SUM(BIGINT) widens to
    HUGEINT — r1 driver hash divergence) and a round-free exact-ratio avg:
    one double division of identical integer operands is bit-equal across
    engines, unlike ROUND(double, n) whose tie-handling may differ."""
    d = tables(spark, sf_dir)["documents"]
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text")).cast("long")).alias("n_tokens"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
                "avg_chars"
            ),
        )
        .orderBy("lang")
    )


@register(
    "q48_quality_score",
    rf"""SELECT doc_id,
              len(string_split_regex(trim(text), '\s+')) AS n_tokens,
              {_duck_quality()} AS quality
       FROM documents ORDER BY doc_id""",
)
def q48_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"]
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
    ).orderBy("doc_id")


@register(
    "q49_lang_id",
    r"""WITH scored AS (
         SELECT lang,
                len(regexp_extract_all(lower(text),
                    '\b(the|and|of|to|in|is|you|that|it|for)\b')) AS s_en,
                len(regexp_extract_all(lower(text),
                    '\b(der|die|und|das|ist|nicht|ein|ich|mit|sie)\b')) AS s_de,
                len(regexp_extract_all(lower(text),
                    '\b(el|la|de|que|y|los|se|del|las|por)\b')) AS s_es,
                len(regexp_extract_all(lower(text),
                    '\b(le|la|et|les|des|est|une|dans|que|pour)\b')) AS s_fr,
                len(regexp_extract_all(lower(text), '[一-鿿]')) AS s_zh
         FROM documents
       ),
       pred AS (
         SELECT lang,
                CASE WHEN s_zh > 0 THEN 'zh'
                     WHEN GREATEST(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
                     WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
                     WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr) THEN 'de'
                     WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
                     ELSE 'fr' END AS predicted
         FROM scored)
       SELECT lang, predicted, COUNT(*) AS n
       FROM pred GROUP BY lang, predicted ORDER BY lang, predicted""",
)
def q49_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"]
    return (
        d.select("lang", lang_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


@register(
    "q50_fingerprint",
    r"""SELECT source, COUNT(*) AS n_docs,
              COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
                AS n_uniq_fp
       FROM documents GROUP BY source ORDER BY source""",
)
def q50_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables(spark, sf_dir)["documents"]
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(fingerprint(F.col("text"))).alias("n_uniq_fp"),
        )
        .orderBy("source")
    )


@register(
    "b51_json_extract",
    """SELECT event_type,
              CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
              COUNT(json_extract_string(props, '$.k')) AS n_k
       FROM events GROUP BY event_type ORDER BY event_type""",
)
def b51_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props string column (SURVEY §2.3 —
    dialect-pair test: Spark get_json_object vs DuckDB json_extract_string)."""
    ev = tables(spark, sf_dir)["events"]
    k = F.get_json_object("props", "$.k")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k.cast("bigint")).alias("sum_k"),
            F.count(k).alias("n_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Per-source quantile-normalized quality (a041)
# percent_rank is partitioned by source (never a global single-partition
# sort); the decile report is one small agg.
# ---------------------------------------------------------------------------


@register(
    "a041_quantile_norm_quality",
    f"""WITH q AS (
         SELECT source, {_duck_quality()} AS quality FROM documents),
       pr AS (
         SELECT source, quality,
                PERCENT_RANK() OVER (PARTITION BY source
                                     ORDER BY quality) AS p
         FROM q)
       SELECT source,
              CAST(LEAST(9, CAST(FLOOR(p * 10) AS INT)) AS INT) AS decile,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              ROUND(AVG(quality), 4) AS avg_raw_quality
       FROM pr GROUP BY source, decile ORDER BY source, decile""",
)
def a041_quantile_norm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of the quality score: a doc's
    normalized score is its percent_rank WITHIN its source, so "top 10%
    of source X" is comparable to "top 10% of source Y" even when the
    sources' raw-score distributions differ wildly (the reason raw
    cross-source quality thresholds systematically starve verbose
    sources). Reported as per-(source, decile) counts with the mean raw
    score — the calibration table a mixing policy reads. The window is
    PARTITIONED by source (each source sorts independently — no global
    sort); ties get identical percent_rank in both engines."""
    d = tables(spark, sf_dir)["documents"]
    q = d.select("source", quality_score(F.col("text")).alias("quality"))
    p = F.percent_rank().over(W.partitionBy("source").orderBy("quality"))
    decile = F.least(F.lit(9), F.floor(p * 10).cast("int")).cast("int")
    return (
        q.select("source", "quality", decile.alias("decile"))
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 4).alias("avg_raw_quality"),
        )
        .orderBy("source", "decile")
    )
