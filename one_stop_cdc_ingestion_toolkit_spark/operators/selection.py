"""Data-selection operators (round-3 ``a14x`` batch): DSIR-style
importance weighting, near-dup cluster retention policy, tokenizer
fertility audit, per-source distribution shift (KL), and cross-source
shingle contamination.

These are the *selection* half of a training-data pipeline — deciding
WHICH documents survive — layered on the statistics the earlier batches
compute. All five are built-in-function DataFrame plans:

- a140 follows Xie et al. 2023 ("Data Selection for Language Models via
  Importance Resampling"): hashed unigram bucket counts for a target
  slice vs the raw corpus give per-bucket log-likelihood ratios; a
  document's importance weight is the sum of its words' ratios. The
  bucket table is B=64 rows — broadcast — so scoring any corpus is one
  explode + one broadcast join + one doc-keyed agg.
- a141 composes the MinHash-LSH cluster graph (d96) with the q48
  quality score into the retention policy real pipelines apply: keep
  the best-quality member per near-dup cluster, drop the rest.
- a142 audits tokenizer fertility (BPE-ish subword tokens per
  whitespace word) per language — the standard check that a tokenizer
  does not silently tax some languages with 3x the sequence length.
- a143 measures per-source distribution shift as smoothed KL divergence
  of hashed-unigram distributions against the corpus — bounded grid
  (sources x 128 buckets), so the statistic costs one word-level agg
  regardless of corpus size.
- a144 computes directional shingle containment between sources. The
  postings list per shingle is capped at the number of SOURCES (distinct
  (source, shingle) rows), so the self-join can never go quadratic in
  documents — unlike naive all-pairs contamination checks.

No reference parity: the reference (a provisioning CLI) has none of
this; these extend the engine's training-data surface (SURVEY.md §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import (
    register,
    track_cache,
    widen_narrow_scan,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
    SHINGLE_K,
    _duck_shingles,
    minhash_cc_edges,
    word_shingles,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.text import (
    _duck_quality,
    bpe_ish_tokens,
    quality_score,
    token_count,
)

#: Hashed-unigram feature space size for DSIR importance weights (a140).
DSIR_BUCKETS = 64
#: Target slice for a140: score every document against the English slice.
DSIR_TARGET_LANG = "en"
#: Hashed-unigram bucket count for the per-source KL audit (a143).
KL_BUCKETS = 128

#: Word split shared by a140/a143 and their DuckDB twins.
_WORDS_SQL = r"string_split_regex(trim(lower(text)), '\s+')"


def _word_rows(df: DataFrame, *cols: str) -> DataFrame:
    """One row per (``*cols``, word) — lowercase whitespace tokens,
    empties dropped; identical to ``_WORDS_SQL`` + ``word <> ''``."""
    return df.select(
        *cols,
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")


def _bucket(col: F.Column, n: int) -> F.Column:
    """Engine-neutral word -> bucket hash (md5 prefix, mod n)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % n


# ---------------------------------------------------------------------------
# a140 — DSIR importance weights
# ---------------------------------------------------------------------------


def _dsir_split_batch(rb, text_idx):
    """Shared tokenize step for the a140 Arrow kernels: lowercase +
    ASCII-whitespace split in Arrow C++, then dictionary-encode so the
    md5 bucket hash runs once per DISTINCT word in the batch, not once
    per occurrence (the fixtures' generator vocabulary is tiny, and any
    natural-language vocabulary is orders of magnitude smaller than its
    corpus). Returns (doc word-lengths, per-word doc index, per-word
    bucket, per-word keep mask) with empty tokens masked out — identical
    to ``_word_rows``'s ``word != ''`` filter; the ``trim`` in
    ``_WORDS_SQL`` only ever removes tokens that the empty-filter drops
    anyway."""
    import hashlib

    import numpy as np
    import pyarrow.compute as pc

    words = pc.split_pattern_regex(
        pc.utf8_lower(pc.fill_null(rb.column(text_idx), "")),
        "[ \t\n\x0b\x0c\r]+",
    )
    lens = pc.list_value_length(words).to_numpy(zero_copy_only=False)
    lens = lens.astype(np.int64)
    flat = pc.list_flatten(words).dictionary_encode()
    codes = flat.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = flat.dictionary.to_pylist()
    # same bytes as _bucket: first 8 hex chars of md5(utf-8 word), base
    # 16 -> 10, mod DSIR_BUCKETS
    ubuck = np.array(
        [
            int(hashlib.md5(u.encode("utf-8")).hexdigest()[:8], 16) % DSIR_BUCKETS
            for u in uniq
        ],
        dtype=np.int64,
    )
    ukeep = np.array([u != "" for u in uniq], dtype=bool)
    di = np.repeat(np.arange(lens.shape[0], dtype=np.int64), lens)
    return lens, di, ubuck[codes], ukeep[codes]


def _dsir_count_batches(it):
    """Kernel 1: per-batch (bucket, raw, target) partial counts — at
    most DSIR_BUCKETS rows leave each batch, so the downstream shuffle
    is constant-size at any corpus size (guide §2.3: aggregate before
    you shuffle)."""
    import numpy as np
    import pyarrow as pa

    for rb in it:
        if rb.num_rows == 0:
            continue
        _, di, wbuck, keep = _dsir_split_batch(rb, 1)
        lang_en = np.asarray(
            [v == DSIR_TARGET_LANG for v in rb.column(0).to_pylist()], dtype=bool
        )
        kb = wbuck[keep]
        r_part = np.bincount(kb, minlength=DSIR_BUCKETS)
        t_part = np.bincount(kb[lang_en[di[keep]]], minlength=DSIR_BUCKETS)
        nz = np.flatnonzero(r_part)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(nz, type=pa.int64()),
                pa.array(r_part[nz], type=pa.int64()),
                pa.array(t_part[nz], type=pa.int64()),
            ],
            ["b", "r_part", "t_part"],
        )


def _dsir_score_batches(lam_pairs):
    """Kernel 2 factory: per-document importance weight w = Σ over the
    doc's words of lam(bucket(word)), summed in within-doc word order
    (np.bincount weighted accumulation). ``lam_pairs`` is the collected
    (bucket, lam) table — bounded by the DSIR_BUCKETS constant, never by
    data — closed over so each doc row crossing the Arrow boundary
    carries zero extra columns. Docs with no non-empty token emit
    nothing (they had no word rows before either)."""

    def kernel(it):
        import numpy as np
        import pyarrow as pa

        lam_vec = np.zeros(DSIR_BUCKETS, dtype=np.float64)
        for b, lam in lam_pairs:
            lam_vec[b] = lam
        for rb in it:
            if rb.num_rows == 0:
                continue
            lens, di, wbuck, keep = _dsir_split_batch(rb, 1)
            ndocs = lens.shape[0]
            dik = di[keep]
            w = np.bincount(dik, weights=lam_vec[wbuck[keep]], minlength=ndocs)
            nword = np.bincount(dik, minlength=ndocs)
            has = nword > 0
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(rb.column(0).to_numpy(zero_copy_only=False)[has]),
                    pa.array(w[has], type=pa.float64()),
                ],
                ["source", "w"],
            )

    return kernel



@register(
    "a140_dsir_importance",
    rf"""WITH wn AS (
          SELECT doc_id, source, lang,
                 CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT)
                     % {DSIR_BUCKETS} AS b
          FROM (SELECT doc_id, source, lang, unnest({_WORDS_SQL}) AS word
                FROM documents)
          WHERE word <> ''
        ),
        raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r FROM wn GROUP BY b),
        tg AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS t FROM wn
               WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS rt,
                       CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                                     THEN 1 ELSE 0 END) AS BIGINT) AS tt
                FROM wn),
        lam AS (
          SELECT raw.b,
                 LN((CAST(COALESCE(tg.t, 0) + 1 AS DOUBLE)
                     * CAST(tot.rt + {DSIR_BUCKETS} AS DOUBLE))
                    / (CAST(raw.r + 1 AS DOUBLE)
                       * CAST(tot.tt + {DSIR_BUCKETS} AS DOUBLE))) AS lam
          FROM raw LEFT JOIN tg ON raw.b = tg.b CROSS JOIN tot
        ),
        dw AS (
          SELECT wn.doc_id, MIN(wn.source) AS source, SUM(lam.lam) AS w
          FROM wn JOIN lam ON wn.b = lam.b
          GROUP BY wn.doc_id
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(AVG(w), 4) AS avg_logratio,
               CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_target_like
        FROM dw GROUP BY source ORDER BY source""",
)
def a140_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): per-bucket hashed-unigram
    log-likelihood ratio of the DSIR_TARGET_LANG target slice vs the raw
    corpus, summed over each document's words; reported per source as
    the mean weight and how many docs score target-like (w > 0).

    Scale shape (r11, guide §4.2/§2.3): the word stream never leaves the
    Arrow kernels. Kernel 1 emits at most DSIR_BUCKETS partial-count
    rows per batch (the only corpus-wide shuffle is that constant-size
    fold); the ratio table is derived in Spark from exact integer counts
    — ONE double division of exactly-representable products, so both
    engines emit bit-identical lambdas — then materialized (bounded by
    the DSIR_BUCKETS constant, the same driver round-trip a broadcast
    join performs) and closed over by kernel 2, which scores each doc
    in-row and emits one slim (source, w) row per doc. The r10 shape
    exploded 27M word rows at sf10, cached them, md5-hashed every
    occurrence, and paid a 27M-row broadcast-join + doc-keyed hash agg
    (measured 5.7 s of its 6.5 s wall); per-occurrence md5 now runs once
    per distinct word per batch via dictionary encoding."""
    doc = tables(spark, sf_dir)["documents"]
    counts = (
        widen_narrow_scan(doc.select("lang", "text"))
        .mapInArrow(_dsir_count_batches, "b long, r_part long, t_part long")
        .groupBy("b")
        .agg(F.sum("r_part").alias("r"), F.sum("t_part").alias("t"))
    )
    tot = counts.agg(
        F.sum("r").alias("rt"), F.sum("t").alias("tt")
    )
    lam = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.log(
                ((F.col("t") + 1).cast("double")
                 * (F.col("rt") + DSIR_BUCKETS).cast("double"))
                / ((F.col("r") + 1).cast("double")
                   * (F.col("tt") + DSIR_BUCKETS).cast("double"))
            ).alias("lam"),
        )
    )
    lam_pairs = [(row["b"], row["lam"]) for row in lam.collect()]
    dw = widen_narrow_scan(doc.select("source", "text")).mapInArrow(
        _dsir_score_batches(lam_pairs), "source string, w double"
    )
    return (
        dw.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("w"), 4).alias("avg_logratio"),
            F.sum(F.when(F.col("w") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_target_like"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# a141 — near-dup cluster retention (keep best quality per cluster)
# ---------------------------------------------------------------------------


def _retention_oracle() -> str:
    from one_stop_cdc_ingestion_toolkit_spark.operators.advanced import (
        _dup_clusters_oracle,
    )

    # Reuse the full recursive-CTE cluster derivation, then rank members
    # by the q48 quality formula (verbatim) inside each cluster.
    base = _dup_clusters_oracle()
    # strip the trailing SELECT of the cluster oracle; keep its CTEs
    head, marker, _ = base.rpartition("SELECT node AS doc_id")
    if not marker:
        # fail FAST at registration: a reworded final SELECT in
        # _dup_clusters_oracle would otherwise yield malformed SQL that
        # only surfaces when the a141 oracle executes (review r7)
        raise RuntimeError(
            "_retention_oracle: cluster-oracle splice marker not found — "
            "advanced._dup_clusters_oracle's final SELECT changed"
        )
    return rf"""{head.rstrip()},
        clusters AS (
          SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
        ),
        member AS (
          SELECT c.cluster_id, c.doc_id,
                 {_duck_quality("d.text")} AS quality
          FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
        ),
        ranked AS (
          SELECT cluster_id, doc_id, quality,
                 ROW_NUMBER() OVER (PARTITION BY cluster_id
                                    ORDER BY quality DESC, doc_id) AS rn
          FROM member
        )
        SELECT cluster_id,
               MAX(CASE WHEN rn = 1 THEN doc_id END) AS keeper_doc_id,
               MAX(CASE WHEN rn = 1 THEN quality END) AS keeper_quality,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) - 1 AS BIGINT) AS n_removed
        FROM ranked GROUP BY cluster_id ORDER BY cluster_id"""


@register("a141_cluster_retention", _retention_oracle())
def a141_cluster_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate retention policy: within every MinHash-LSH cluster
    (d96's connected components) keep the highest-quality member (q48
    score, doc_id tie-break) and count what gets dropped — the decision
    real dedup pipelines apply after clustering, rather than keep-first.

    Adds one broadcast-sized join (cluster labels are only the docs that
    appear in any candidate pair) and one cluster-keyed window on top of
    the cluster computation; quality is derived from integer lengths so
    both engines rank identically. Like d96, edges are one star per LSH
    bucket (dedup.minhash_cc_edges) — component-identical to the
    oracle's full band graph, at most 4 per doc, linear on hot duplicate
    clusters. The labels come from connected_components' driver path
    whenever the edges fit the pin budget, so the query runs a fixed
    handful of Spark jobs (5 at sf0.1) whatever the clusters' diameter."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.advanced import (
        connected_components,
    )

    d = tables(spark, sf_dir)["documents"]
    pairs = minhash_cc_edges(d, "doc_id", "text")
    labels = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    member = labels.join(
        d.select("doc_id", quality_score(F.col("text")).alias("quality")),
        "doc_id",
    )
    w = W.partitionBy("cluster_id").orderBy(F.col("quality").desc(), F.col("doc_id"))
    return (
        member.withColumn("rn", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keeper_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("quality"))).alias("keeper_quality"),
            F.count(F.lit(1)).alias("n_docs"),
            (F.count(F.lit(1)) - 1).alias("n_removed"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# a142 — tokenizer fertility audit
# ---------------------------------------------------------------------------


@register(
    "a142_fertility_audit",
    r"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(len(string_split_regex(trim(text), '\s+')))
                   AS BIGINT) AS n_words,
              CAST(SUM(len(regexp_extract_all(lower(text),
                           '[a-z0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_subtokens,
              CAST(SUM(len(regexp_extract_all(lower(text),
                           '[a-z0-9]+|[^a-z0-9\s]')) ) AS DOUBLE)
                  / SUM(len(string_split_regex(trim(text), '\s+')))
                  AS fertility,
              CAST(SUM(length(text)) AS DOUBLE)
                  / SUM(len(string_split_regex(trim(text), '\s+')))
                  AS chars_per_word
       FROM documents GROUP BY lang ORDER BY lang""",
)
def a142_fertility_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish subword tokens per
    whitespace word, plus chars-per-word. High-fertility languages pay
    proportionally more sequence length per word of content — the
    standard multilingual-tokenizer equity audit (CJK here tokenizes
    per character, so its fertility reflects chars-per-word directly).

    Pure codegen projection + one 5-key agg; ratios are single double
    divisions of exact integer sums (bit-stable across engines)."""
    d = tables(spark, sf_dir)["documents"]
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("long")).alias("n_words"),
        F.sum(F.size(bpe_ish_tokens(F.col("text"))).cast("long")).alias(
            "n_subtokens"
        ),
        F.sum(F.length("text").cast("long")).alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_words",
        "n_subtokens",
        (F.col("n_subtokens").cast("double") / F.col("n_words")).alias("fertility"),
        (F.col("n_chars").cast("double") / F.col("n_words")).alias("chars_per_word"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# a143 — per-source distribution shift (smoothed KL vs corpus)
# ---------------------------------------------------------------------------


@register(
    "a143_source_kl_shift",
    rf"""WITH wn AS (
          SELECT source,
                 CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT)
                     % {KL_BUCKETS} AS b
          FROM (SELECT source, unnest({_WORDS_SQL}) AS word FROM documents)
          WHERE word <> ''
        ),
        buckets AS (SELECT unnest(generate_series(0, {KL_BUCKETS - 1})) AS b),
        corpus AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cb FROM wn GROUP BY b),
        per_src AS (SELECT source, b, CAST(COUNT(*) AS BIGINT) AS sb
                    FROM wn GROUP BY source, b),
        n_src AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
                  FROM wn GROUP BY source),
        n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM wn),
        grid AS (
          SELECT s.source, k.b, COALESCE(c.cb, 0) AS cb,
                 COALESCE(p.sb, 0) AS sb, s.ns, t.n
          FROM n_src s CROSS JOIN buckets k CROSS JOIN n_tot t
          LEFT JOIN corpus c ON c.b = k.b
          LEFT JOIN per_src p ON p.source = s.source AND p.b = k.b
        ),
        terms AS (
          SELECT source, ns,
                 (CAST(sb + 1 AS DOUBLE) / CAST(ns + {KL_BUCKETS} AS DOUBLE))
                 * LN((CAST(sb + 1 AS DOUBLE)
                       * CAST(n + {KL_BUCKETS} AS DOUBLE))
                      / (CAST(cb + 1 AS DOUBLE)
                         * CAST(ns + {KL_BUCKETS} AS DOUBLE))) AS term
          FROM grid
        )
        SELECT source, MAX(ns) AS n_words, ROUND(SUM(term), 4) AS kl
        FROM terms GROUP BY source ORDER BY source""",
)
def a143_source_kl_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution shift per source: add-1-smoothed KL divergence of the
    source's hashed-unigram bucket distribution (KL_BUCKETS buckets)
    from the corpus distribution — the audit that flags a source whose
    word mix departs from the blend the model is nominally trained on.
    The KL grid enumerates ALL buckets (not just observed ones) so both
    smoothed distributions normalize to 1 and Gibbs' inequality holds
    (KL >= 0); the statistic is bounded whatever the corpus size, and
    word counting is the only data-scale work: ONE word-level agg
    (per-source bucket counts, cached — it is |sources|·KL_BUCKETS
    rows), from which the corpus/per-source/global totals are DERIVED
    instead of re-scanning+re-exploding the corpus four times
    (review r7)."""
    d = tables(spark, sf_dir)["documents"]
    wn = _word_rows(d, "source").withColumn("b", _bucket(F.col("word"), KL_BUCKETS))
    buckets = spark.range(KL_BUCKETS).select(F.col("id").alias("b"))
    per_src = track_cache(
        wn.groupBy("source", "b").agg(F.count(F.lit(1)).alias("sb"))
    )
    corpus = per_src.groupBy("b").agg(F.sum("sb").alias("cb"))
    n_src = per_src.groupBy("source").agg(F.sum("sb").alias("ns"))
    n_tot = per_src.agg(F.sum("sb").alias("n"))
    grid = (
        n_src.crossJoin(F.broadcast(buckets))
        .crossJoin(F.broadcast(n_tot))
        .join(F.broadcast(corpus), "b", "left")
        .join(per_src, ["source", "b"], "left")
        .select(
            "source",
            "ns",
            "n",
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
            F.coalesce(F.col("sb"), F.lit(0)).alias("sb"),
        )
    )
    p_s = (F.col("sb") + 1).cast("double") / (F.col("ns") + KL_BUCKETS).cast("double")
    ratio = ((F.col("sb") + 1).cast("double") * (F.col("n") + KL_BUCKETS).cast("double")) / (
        (F.col("cb") + 1).cast("double") * (F.col("ns") + KL_BUCKETS).cast("double")
    )
    return (
        grid.select("source", "ns", (p_s * F.log(ratio)).alias("term"))
        .groupBy("source")
        .agg(F.max("ns").alias("n_words"), F.round(F.sum("term"), 4).alias("kl"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# a144 — cross-source shingle contamination matrix
# ---------------------------------------------------------------------------


@register(
    "a144_cross_contamination",
    rf"""WITH w AS (
          SELECT source, string_split_regex(lower(text), '\s+') AS words
          FROM documents
        ),
        sh AS (
          SELECT DISTINCT source,
                 {_duck_shingles()} AS shingle
          FROM w WHERE len(words) >= {SHINGLE_K}
        ),
        cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS c
                FROM sh GROUP BY source),
        inter AS (
          SELECT a.source AS src_a, b.source AS src_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.source <> b.source
          GROUP BY a.source, b.source
        )
        SELECT i.src_a, i.src_b, i.n_common,
               ROUND(CAST(i.n_common AS DOUBLE) / ca.c, 4) AS containment
        FROM inter i JOIN cnt ca ON ca.source = i.src_a
        ORDER BY src_a, src_b""",
)
def a144_cross_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional cross-source contamination: |shingles(A) ∩ shingles(B)|
    / |shingles(A)| for every ordered source pair sharing at least one
    3-word shingle — the split-leakage / provenance-overlap audit run
    before declaring two slices independent.

    The self-join is over DISTINCT (source, shingle) rows, so each
    shingle's postings list is bounded by the number of SOURCES, not the
    number of documents — candidate generation can never go quadratic in
    corpus size (contrast the df-cap discussion on q44)."""
    d = widen_narrow_scan(tables(spark, sf_dir)["documents"])
    # shingle IDENTITY is all the join/counts need → xxhash64-compress
    # before the distinct/join shuffles (the a134 discipline; the
    # raw-shingle oracle hash-checks every containment value). Cached:
    # consumed three times (per-source counts + both join sides) —
    # uncached, the explode+distinct pipeline would run three times.
    sh = track_cache(
        d.select(
            "source", F.explode(word_shingles(F.col("text"))).alias("s")
        )
        .select("source", F.xxhash64("s").alias("shingle"))
        .distinct()
    )
    cnt = sh.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    a = sh.select(F.col("source").alias("src_a"), "shingle")
    b = sh.select(F.col("source").alias("src_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(cnt.select(F.col("source").alias("src_a"), F.col("c"))),
            "src_a",
        )
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(F.col("n_common").cast("double") / F.col("c"), 4).alias(
                "containment"
            ),
        )
        .orderBy("src_a", "src_b")
    )
