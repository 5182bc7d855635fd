"""ML-data-prep operators (round-3 batch, ``a1xx`` names): bigram
language-model scoring, CCNet-style perplexity bucketing, nearest-centroid
embedding classification (with its calibration, a009, and label-margin,
a011, audits), word-entropy statistics, and leakage-safe group-level and
temporal (a040) train/val/test splitting.

These close the remaining "choose and audit the training mix" gaps on top
of the cleaning (c-batch), clustering (d/a9x-batch) and corpus-assembly
(a10x-batch) surfaces: a perplexity-style quality signal computed FROM the
corpus itself (no external model), the head/middle/tail bucketing used to
stratify web data by that signal, a label-space sanity check over the
embedding table, token-distribution health metrics, and the split
assignment that keeps all of one user's data on one side of the
train/eval boundary.

Scale notes (the shapes that survive 100 TB):

- The bigram pipeline shuffles SHORT keys only (word pairs), never
  document bodies; counts are map-side partial aggregated. The count
  join back to the exploded stream is skewed on stopword bigrams — AQE
  skew-split handles the join; pair GENERATION stays linear in corpus
  size (unlike all-pairs similarity, there is nothing quadratic here).
- Centroids are ``n_labels x dim`` — broadcast; classification is a
  map-side broadcast nested-loop + one partial-aggregated ``max_by``.
  No row ever shuffles with its embedding attached.
- The split assignment is a pure map-side hash — retry-safe and
  reproducible (no ``rand()``), the same discipline as
  ``c80_stratified_sample``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import (
    register,
    track_cache,
    widen_narrow_scan,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import _duck_shingles
from one_stop_cdc_ingestion_toolkit_spark.operators.similarity import (
    EMB_DIM,
    cosine,
    cosine_hoisted,
    norm,
)

#: Salt for the group-split hash (a112) — versioned so a re-split is an
#: explicit, auditable change, never an accident of code motion.
SPLIT_SALT = "gs:"

# ---------------------------------------------------------------------------
# Bigram LM scoring (a109) + perplexity buckets (a113)
# ---------------------------------------------------------------------------

#: Shared oracle CTE: per-doc mean bigram log-probability under the
#: corpus-wide MLE bigram model  p(w2|w1) = c(w1,w2) / c(w1,·).
_BIGRAM_DOC_SQL = r"""
w AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS ws
      FROM documents),
bx AS (SELECT doc_id, lang, ws, unnest(generate_series(1, len(ws) - 1)) AS i
       FROM w),
bg AS (SELECT doc_id, lang, ws[i] AS w1, ws[i+1] AS w2 FROM bx),
g AS (SELECT doc_id, lang, w1, w2, COUNT(*) AS m FROM bg GROUP BY 1, 2, 3, 4),
cb AS (SELECT w1, w2, SUM(m) AS nb FROM g GROUP BY 1, 2),
cu AS (SELECT w1, SUM(nb) AS nu FROM cb GROUP BY 1),
doc AS (SELECT doc_id, any_value(lang) AS lang,
               SUM(CAST(m AS DOUBLE)
                   * LN(CAST(nb AS DOUBLE) / CAST(nu AS DOUBLE)))
               / SUM(CAST(m AS DOUBLE)) AS lp
        FROM g JOIN cb USING (w1, w2) JOIN cu USING (w1) GROUP BY doc_id)
"""


def doc_bigram_logprob(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, lp): mean ln p(w2|w1) per doc under the corpus MLE
    bigram model — a perplexity proxy that needs no external LM (the
    CCNet trick, computed in-corpus).

    ONE explode (linear in token count), immediately collapsed to the
    per-doc bigram MULTISET (doc_id, w1, w2, m) — map-side combinable.
    The corpus bigram table derives from that compact frame by re-agg
    (SUM of m), and the unigram table from the bigram table, so the
    exploded occurrence stream is never evaluated or joined a second
    time. Per-doc lp is the m-weighted mean, arithmetic mirrored
    verbatim in the oracle CTE. Docs with <2 words have no bigrams and
    drop out — mirrored by the oracle's generate_series upper bound.
    """
    d = widen_narrow_scan(docs).select(
        "doc_id",
        "lang",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("ws"),
    )
    # w1/w2 are xxhash64-compressed before any shuffle: the LM only ever
    # needs bigram IDENTITY (counts keyed by (w1, w2) and w1), so 8-byte
    # longs replace word strings on the wire — the a134 discipline; the
    # raw-string DuckDB oracle hash-checks the resulting lp values.
    bg = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(slice(ws, 1, greatest(size(ws) - 1, 0)),"
                " (w, i) -> struct(w AS w1, ws[i + 1] AS w2))"
            )
        ).alias("p"),
    ).select(
        "doc_id",
        "lang",
        F.xxhash64("p.w1").alias("w1"),
        F.xxhash64("p.w2").alias("w2"),
    )
    g = bg.groupBy("doc_id", "lang", "w1", "w2").agg(
        F.count(F.lit(1)).alias("m")
    )
    # The multiset feeds THREE consumers (corpus bigram table, unigram
    # table via re-agg, and the join's probe side); uncached, each one
    # re-runs the text explode — the most expensive scan in the family.
    # The cached frame is (doc_id, w1, w2, m) — tokens, not documents —
    # so at 100 TB it is the compact derivative, not the corpus.
    g = track_cache(g)
    cb = g.groupBy("w1", "w2").agg(F.sum("m").alias("nb"))
    cu = cb.groupBy("w1").agg(F.sum("nb").alias("nu"))
    md = F.col("m").cast("double")
    return (
        g.join(cb, ["w1", "w2"])
        .join(cu, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            (
                F.sum(
                    md
                    * F.log(
                        F.col("nb").cast("double") / F.col("nu").cast("double")
                    )
                )
                / F.sum(md)
            ).alias("lp"),
        )
    )


@register(
    "a109_bigram_logprob",
    f"""WITH {_BIGRAM_DOC_SQL}
       SELECT lang, ROUND(AVG(lp), 4) AS lm_score, COUNT(*) AS n_docs
       FROM doc GROUP BY lang ORDER BY lang""",
)
def a109_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mean bigram log-probability — the fluency/quality
    signal perplexity filtering ranks on. Identical-text duplicates get
    bit-identical lp either side, so downstream ordering is stable."""
    docs = tables(spark, sf_dir)["documents"]
    return (
        doc_bigram_logprob(docs)
        .groupBy("lang")
        .agg(
            F.round(F.avg("lp"), 4).alias("lm_score"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("lang")
    )


@register(
    "a113_perplexity_buckets",
    f"""WITH {_BIGRAM_DOC_SQL},
       b AS (SELECT lang,
                    NTILE(3) OVER (PARTITION BY lang
                                   ORDER BY lp DESC, doc_id) AS bucket,
                    lp
             FROM doc)
       SELECT lang, bucket, COUNT(*) AS n_docs, ROUND(AVG(lp), 4) AS avg_lp
       FROM b GROUP BY 1, 2 ORDER BY lang, bucket""",
)
def a113_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail terciles per language on the bigram
    LM score: bucket 1 = most fluent third. NTILE orders by (lp DESC,
    doc_id) so exact-duplicate docs (identical lp by construction) break
    ties deterministically on both engines.

    At 100 TB the per-lang NTILE is ONE window shuffle over (doc_id, lp)
    pairs — tens of bytes per doc, not the documents themselves; if one
    language dominates, switch to approx-percentile cutpoints (the
    d95_exact_quantiles docstring's trade-off, in reverse)."""
    docs = tables(spark, sf_dir)["documents"]
    from pyspark.sql.window import Window as W

    lp = doc_bigram_logprob(docs)
    w = W.partitionBy("lang").orderBy(F.col("lp").desc(), F.col("doc_id"))
    return (
        lp.withColumn("bucket", F.ntile(3).over(w))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("lp"), 4).alias("avg_lp"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Nearest-centroid classification over embeddings (a110)
# ---------------------------------------------------------------------------


def _duck_dot(a: str, b: str, dim: int = EMB_DIM) -> str:
    return (
        f"list_sum(list_transform(generate_series(0, {dim - 1}), "
        f"i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))"
    )


def _duck_cos_vs(a: str, b: str) -> str:
    return (
        f"({_duck_dot(a, b)}) / "
        f"(sqrt({_duck_dot(a, a)}) * sqrt({_duck_dot(b, b)}))"
    )


def label_centroids(emb: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """(label, cent_vec): per-label mean embedding, each dimension rounded
    to 6 places so the centroid is bit-identical across engines (the
    rounding absorbs summation-order ulp drift in AVG)."""
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    cd = ex.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("cv")
    )
    return cd.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
        ).alias("cent_vec")
    )


@register(
    "a110_centroid_classify",
    f"""WITH cx AS (SELECT label, embedding,
                          unnest(generate_series(1, {EMB_DIM})) AS i
                   FROM embeddings),
       cd AS (SELECT label, i, ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS cv
              FROM cx GROUP BY 1, 2),
       cent AS (SELECT label AS c_label, list(cv ORDER BY i) AS cent_vec
                FROM cd GROUP BY label),
       scored AS (SELECT e.vec_id, e.label, c.c_label,
                         {_duck_cos_vs('e.embedding', 'c.cent_vec')} AS cos
                  FROM embeddings e CROSS JOIN cent c),
       ranked AS (SELECT vec_id, label, c_label,
                         ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY cos DESC, c_label) AS rn
                  FROM scored)
       SELECT label, c_label AS pred, COUNT(*) AS n
       FROM ranked WHERE rn = 1 GROUP BY 1, 2 ORDER BY label, pred""",
)
def a110_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-space audit: classify every embedding to its nearest label
    centroid (cosine) and emit the confusion matrix — the quick check
    that a labeled embedding table actually separates before spending a
    training run on it.

    Centroids (n_labels x dim) broadcast; the argmax is a
    partial-aggregated ``max_by`` per vector, NOT a window — no shuffle
    ever carries an embedding, so the plan is scan + broadcast-join +
    two keyed aggregations regardless of corpus size."""
    emb = tables(spark, sf_dir)["embeddings"]
    # norms hoisted to once-per-row / once-per-centroid (r8): cosine()
    # inside the cross join re-folded the vector's self-dot n_labels times
    cent = label_centroids(emb).select(
        F.col("label").alias("c_label"), "cent_vec", norm(F.col("cent_vec")).alias("__cn")
    )
    scored = (
        emb.withColumn("__vn", norm(F.col("embedding")))
        .crossJoin(F.broadcast(cent))
        .withColumn(
            "cos",
            cosine_hoisted(
                F.col("embedding"), F.col("cent_vec"), F.col("__vn"), F.col("__cn")
            ),
        )
    )
    pred = scored.groupBy("vec_id", "label").agg(
        F.max_by(
            "c_label", F.struct(F.col("cos"), (-F.col("c_label")).alias("nl"))
        ).alias("pred")
    )
    return (
        pred.groupBy("label", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "pred")
    )


# ---------------------------------------------------------------------------
# Word-entropy statistics (a111)
# ---------------------------------------------------------------------------


@register(
    "a111_word_entropy",
    r"""WITH t AS (SELECT doc_id, source,
                         unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
                  FROM documents),
       wc AS (SELECT doc_id, source, w, COUNT(*) AS c FROM t GROUP BY 1, 2, 3),
       pd AS (SELECT doc_id, source, SUM(c) AS n, COUNT(*) AS nd,
                     SUM(c * LN(c)) AS s
              FROM wc GROUP BY 1, 2)
       SELECT source, ROUND(AVG(LN(n) - s / n), 4) AS avg_entropy,
              ROUND(AVG(CAST(nd AS DOUBLE) / n), 4) AS ttr, COUNT(*) AS n_docs
       FROM pd GROUP BY source ORDER BY source""",
)
def a111_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution health per source: mean Shannon word entropy
    (H = ln N - (sum c*ln c)/N — the algebraic form that needs only two
    partial-aggregatable sums, no per-term p=c/N division) and mean
    type-token ratio. Low entropy or TTR flags template/boilerplate
    sources before they flood a training mix.

    Both aggregations are hash aggs on (doc_id, word) then (doc_id) —
    short keys, map-side combine; nothing quadratic, no window."""
    d = tables(spark, sf_dir)["documents"]
    words = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    )
    wc = words.groupBy("doc_id", "source", "w").agg(F.count(F.lit(1)).alias("c"))
    pd_ = wc.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("nd"),
        F.sum(F.col("c") * F.log("c")).alias("s"),
    )
    return (
        pd_.groupBy("source")
        .agg(
            F.round(F.avg(F.log("n") - F.col("s") / F.col("n")), 4).alias(
                "avg_entropy"
            ),
            F.round(
                F.avg(F.col("nd").cast("double") / F.col("n")), 4
            ).alias("ttr"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Leakage-safe group split (a112)
# ---------------------------------------------------------------------------


def group_split(key: Column, salt: str = SPLIT_SALT) -> Column:
    """'train'/'val'/'test' by first hex digit of md5(salt || key):
    12/2/2 of 16 → 75/12.5/12.5 %. ALL rows of one key land in one
    split — the group-level discipline that stops a user's events (or a
    document's chunks) straddling the train/eval boundary."""
    bucket = F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 1)
    return (
        F.when(bucket >= "e", F.lit("test"))
        .when(bucket >= "c", F.lit("val"))
        .otherwise(F.lit("train"))
    )


@register(
    "a112_group_split",
    f"""SELECT CASE WHEN substr(md5('{SPLIT_SALT}' || CAST(user_id AS VARCHAR)), 1, 1) >= 'e'
                    THEN 'test'
                    WHEN substr(md5('{SPLIT_SALT}' || CAST(user_id AS VARCHAR)), 1, 1) >= 'c'
                    THEN 'val'
                    ELSE 'train' END AS split,
              event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
       FROM events GROUP BY 1, 2 ORDER BY split, event_type""",
)
def a112_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-assignment audit over events: per (split, event_type) row
    and distinct-user counts. The hash split is a pure map-side
    projection (deterministic, retry-safe, no rand()); at 100 TB the
    only shuffle is the audit aggregation itself."""
    ev = tables(spark, sf_dir)["events"]
    return (
        ev.withColumn("split", group_split(F.col("user_id")))
        .groupBy("split", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("split", "event_type")
    )


# ---------------------------------------------------------------------------
# Session-sequence assembly (a114)
# ---------------------------------------------------------------------------


@register(
    "a114_session_assembly",
    """WITH o AS (
         SELECT user_id, ts, event_id, event_type,
                LAG(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_ts
         FROM events),
       s AS (
         SELECT user_id, ts, event_id, event_type,
                SUM(CASE WHEN prev_ts IS NULL
                              OR ts - prev_ts > INTERVAL '30' MINUTE
                         THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS sid
         FROM o)
       SELECT user_id, MIN(ts) AS s_start, COUNT(*) AS n_turns,
              string_agg(event_type, '>' ORDER BY ts, event_id) AS seq
       FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""",
)
def a114_session_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble per-user session SEQUENCES (ordered event-type chains) —
    the step that turns an event log into behavioral training sequences,
    one row per 30-min-gap session (q40's gap rule, kept verbatim).

    Two window passes and one aggregation, all partitioned by user_id —
    a single key shuffle end-to-end at any scale. The ordered
    concatenation uses array_sort(collect_list(struct(ts, event_id,
    event_type))): (ts, event_id) is unique per user, so the sort is
    total and both engines emit the identical string."""
    from pyspark.sql.window import Window as W

    ev = tables(spark, sf_dir)["events"]
    w_ord = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select("user_id", "ts", "event_id", "event_type").withColumn(
        "prev_ts", F.lag("ts").over(w_ord)
    )
    s = o.withColumn(
        "is_new",
        F.when(
            F.col("prev_ts").isNull()
            | (F.col("ts") - F.col("prev_ts") > F.expr("INTERVAL 30 MINUTES")),
            1,
        ).otherwise(0),
    ).withColumn(
        "sid",
        F.sum("is_new").over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        s.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("s_start"),
            F.count(F.lit(1)).alias("n_turns"),
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
            ).alias("seq"),
        )
        .select("user_id", "s_start", "n_turns", "seq")
        .orderBy("user_id", "s_start")
    )


# ---------------------------------------------------------------------------
# Eval-contamination coverage (a115)
# ---------------------------------------------------------------------------

#: Same gram width + eval convention as c88_decontaminate.
COVERAGE_K = 5


def _coverage_probe_batches(eval_grams):
    """a115 corpus-side Arrow kernel factory: emit the distinct eval
    grams found in each batch — at most |eval grams| rows leave a batch,
    and no corpus gram ever becomes a row (guide §4.2/§2.3; the r10
    shape's JVM zip_with + xxhash64 + array_distinct explode was ~all of
    the 5 s sf10 wall).

    ``eval_grams`` is the collected eval-set gram list — bounded by the
    fixed 5-doc eval definition (doc_id < 5), not by corpus size; the
    same rows the r10 shape's F.broadcast(eval_grams) shipped to every
    executor. Matching is exact: candidate positions come from a
    vectorized polynomial hash over the batch's word dictionary codes,
    then every candidate gram is re-verified by string equality, so hash
    collisions can only cost a string compare, never a wrong row."""
    # pre-split once: a gram is COVERAGE_K words joined by single spaces
    # (word_shingles' concat_ws), and words cannot contain whitespace
    eval_words = [g.split(" ") for g in eval_grams]
    eval_set = frozenset(eval_grams)

    def kernel(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        K = np.uint64(1000003)
        for rb in it:
            if rb.num_rows == 0:
                continue
            words = pc.split_pattern_regex(
                pc.utf8_lower(pc.fill_null(rb.column(0), "")),
                "[ \t\n\x0b\x0c\r]+",
            )
            lens = pc.list_value_length(words).to_numpy(zero_copy_only=False)
            lens = lens.astype(np.int64)
            flat = pc.list_flatten(words).dictionary_encode()
            codes = flat.indices.to_numpy(zero_copy_only=False).astype(np.uint64)
            uniq = flat.dictionary.to_pylist()
            if codes.shape[0] < COVERAGE_K:
                continue
            code_of = {w: i for i, w in enumerate(uniq)}
            # eval grams whose words all exist in this batch's dictionary
            # are the only possible matches
            ehash = []
            for ws in eval_words:
                try:
                    cs = [code_of[w] for w in ws]
                except KeyError:
                    continue
                h = 0  # python ints, masked: silent 64-bit wraparound
                for c in cs:
                    h = (h * 1000003 + c) & 0xFFFFFFFFFFFFFFFF
                ehash.append(h)
            if not ehash:
                continue
            di = np.repeat(np.arange(lens.shape[0], dtype=np.int64), lens)
            h = codes[: -(COVERAGE_K - 1)].copy()
            for j in range(1, COVERAGE_K):
                h *= K
                h += codes[j : codes.shape[0] - (COVERAGE_K - 1) + j]
            valid = di[: -(COVERAGE_K - 1)] == di[COVERAGE_K - 1 :]
            cand = np.flatnonzero(valid & np.isin(h, np.array(ehash, np.uint64)))
            hits = set()
            for p in cand:
                g = " ".join(uniq[int(c)] for c in codes[p : p + COVERAGE_K])
                if g in eval_set:
                    hits.add(g)
            if hits:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(sorted(hits), type=pa.string())], ["g"]
                )

    return kernel


@register(
    "a115_contamination_coverage",
    f"""WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words
                  FROM documents),
       gx AS (SELECT doc_id,
                     {_duck_shingles(COVERAGE_K)} AS g
              FROM w WHERE len(words) >= {COVERAGE_K}),
       f AS (SELECT g, bool_or(doc_id < 5) AS ie, bool_or(doc_id >= 5) AS ic
             FROM gx GROUP BY g)
       SELECT COUNT(*) FILTER (ie) AS n_eval_grams,
              COUNT(*) FILTER (ie AND ic) AS n_found,
              ROUND(CAST(COUNT(*) FILTER (ie AND ic) AS DOUBLE)
                    / COUNT(*) FILTER (ie), 4) AS coverage
       FROM f""",
)
def a115_contamination_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The directional complement of c88: what FRACTION of the eval set's
    n-grams leak into the training corpus (c88 reports which corpus docs
    are contaminated; this reports how exposed the benchmark is). One
    number a release gate can threshold on.

    Shape (r11, guide §4.2 — move the boundary, not the rows; r10 used
    §3.2's broadcast semi-join): the eval set is 5 docs by construction,
    so its distinct gram set is a bounded materialization (the same rows
    r10's F.broadcast collected) closed over by the corpus-side Arrow
    kernel, which emits at most |eval grams| hit rows per batch — the
    corpus gram stream never becomes rows at all, where r10's JVM
    explode (zip_with + xxhash64 + array_distinct per doc) was ~all of
    the remaining 5 s sf10 wall. Distinctness is now on gram STRINGS on
    both sides — exactly what the oracle counts — instead of xxhash64
    values (identical output whenever the hash was collision-free, i.e.
    everywhere the old shape agreed with the oracle)."""
    from one_stop_cdc_ingestion_toolkit_spark.operators import widen_narrow_scan
    from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import word_shingles

    d = tables(spark, sf_dir)["documents"]
    eval_grams = (
        d.filter(F.col("doc_id") < 5)
        .select(F.explode(word_shingles(F.col("text"), k=COVERAGE_K)).alias("g"))
        .distinct()
    )
    # bounded: the eval set is the fixed 5-doc slice (pushed scan), a few
    # hundred grams at any corpus size — the kernel closure gets exactly
    # what the broadcast hash relation held before
    eval_list = sorted(r["g"] for r in eval_grams.collect())
    # widen the single-split scan so the CPU-heavy gram probe
    # parallelizes (no-op at real scale); the doc_id >= 5 predicate still
    # reaches the scan through the round-robin exchange
    corpus = (
        widen_narrow_scan(d.select("doc_id", "text"))
        .filter(F.col("doc_id") >= 5)
        .select("text")
    )
    found = corpus.mapInArrow(
        _coverage_probe_batches(eval_list), "g string"
    ).distinct()
    n_eval = eval_grams.agg(F.count(F.lit(1)).alias("n_eval_grams"))
    n_found = found.agg(F.count(F.lit(1)).alias("n_found"))
    return n_eval.crossJoin(n_found).select(
        "n_eval_grams",
        "n_found",
        F.round(F.col("n_found").cast("double") / F.col("n_eval_grams"), 4).alias(
            "coverage"
        ),
    )


# ---------------------------------------------------------------------------
# Rolling anomaly detection over hourly event counts (a116)
# ---------------------------------------------------------------------------


@register(
    "a116_rolling_anomaly",
    """WITH h AS (
         SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
                event_type, COUNT(*) AS n
         FROM events GROUP BY 1, 2),
       z AS (
         SELECT w_start, event_type, n,
                AVG(n) OVER w AS mu, STDDEV_SAMP(n) OVER w AS sd,
                COUNT(*) OVER w AS k
         FROM h
         WINDOW w AS (PARTITION BY event_type ORDER BY w_start
                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
       SELECT w_start, event_type, n, ROUND((n - mu) / sd, 3) AS z
       FROM z WHERE k >= 12 AND sd > 0 AND ABS((n - mu) / sd) > 2
       ORDER BY w_start, event_type""",
)
def a116_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality tripwire: hourly per-type event counts scored against
    the trailing 24 observed hours (z-score vs mean/stddev of the
    PRECEDING rows only — current hour excluded, so a spike can't mask
    itself). Requires >= 12 hours of history before judging.

    The hourly pre-aggregation shrinks the stream by orders of magnitude
    BEFORE the window, so the per-type window partitions hold ~one row
    per hour — trivially sized at any event volume; the mean over the
    frame is exact (integer counts sum exactly in doubles)."""
    from pyspark.sql.window import Window as W

    ev = tables(spark, sf_dir)["events"]
    h = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("w_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("event_type").orderBy("w_start").rowsBetween(-24, -1)
    z = (
        h.withColumn("mu", F.avg("n").over(w))
        .withColumn("sd", F.stddev_samp("n").over(w))
        .withColumn("k", F.count(F.lit(1)).over(w))
    )
    zscore = (F.col("n") - F.col("mu")) / F.col("sd")
    return (
        z.filter((F.col("k") >= 12) & (F.col("sd") > 0) & (F.abs(zscore) > 2))
        .select("w_start", "event_type", "n", F.round(zscore, 3).alias("z"))
        .orderBy("w_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Leakage-safe temporal holdout (a040)
# Split boundaries come from the global [min, max] event time with exact
# integer arithmetic, broadcast back as one row; assignment is a map-side
# CASE and the report is one partial-agg shuffle.
# ---------------------------------------------------------------------------


#: a040 temporal-holdout fractions: train < 80% of the observed time
#: range, a 10% quarantine gap, test ≥ 90% — the gap absorbs sessions /
#: documents straddling the boundary so near-boundary leakage cannot
#: put the same interaction on both sides.
TRAIN_FRAC_TENTHS = 8
TEST_FRAC_TENTHS = 9


@register(
    "a040_temporal_split",
    f"""WITH b AS (
         SELECT epoch_us(MIN(ts)) AS tmin, epoch_us(MAX(ts)) AS tmax
         FROM events),
       lim AS (
         SELECT tmin + (tmax - tmin) * {TRAIN_FRAC_TENTHS} // 10 AS t1,
                tmin + (tmax - tmin) * {TEST_FRAC_TENTHS} // 10 AS t2
         FROM b),
       tagged AS (
         SELECT CASE WHEN epoch_us(e.ts) < lim.t1 THEN 'train'
                     WHEN epoch_us(e.ts) < lim.t2 THEN 'gap'
                     ELSE 'test' END AS split,
                e.user_id, epoch_us(e.ts) AS us
         FROM events e CROSS JOIN lim)
       SELECT split,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
              CAST(MIN(us) AS BIGINT) AS min_us,
              CAST(MAX(us) AS BIGINT) AS max_us
       FROM tagged GROUP BY split ORDER BY split""",
)
def a040_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal holdout over the event stream: train on the
    first 80% of observed time, quarantine the next 10% (the gap bounds
    boundary leakage from sessions straddling the cut), test on the
    last 10%. Boundaries are exact integer epoch-microsecond arithmetic
    on the broadcast [min, max] row — no float drift between engines —
    and the per-split report (events, distinct users, actual time span)
    is the audit a team checks before trusting an offline eval."""
    ev = tables(spark, sf_dir)["events"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = ev.agg(
        F.min(us).alias("tmin"), F.max(us).alias("tmax")
    ).select(
        (F.col("tmin") + ((F.col("tmax") - F.col("tmin")) * TRAIN_FRAC_TENTHS / 10).cast("long")).alias("t1"),
        (F.col("tmin") + ((F.col("tmax") - F.col("tmin")) * TEST_FRAC_TENTHS / 10).cast("long")).alias("t2"),
    )
    split = (
        F.when(us < F.col("t1"), F.lit("train"))
        .when(us < F.col("t2"), F.lit("gap"))
        .otherwise(F.lit("test"))
    )
    return (
        ev.crossJoin(F.broadcast(b))
        .select(split.alias("split"), "user_id", us.alias("us"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("us").alias("min_us"),
            F.max("us").alias("max_us"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Calibration (a009) and label-margin (a011) audits of the
# nearest-centroid classifier
# a009 rides a110's broadcast-centroid scan; the calibration table is a
# <= 21-row aggregate of (bin)-keyed exact counts.
# ---------------------------------------------------------------------------


@register(
    "a009_ece_calibration",
    f"""WITH cx AS (SELECT label, embedding,
                          unnest(generate_series(1, {EMB_DIM})) AS i
                   FROM embeddings),
       cd AS (SELECT label, i, ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS cv
              FROM cx GROUP BY 1, 2),
       cent AS (SELECT label AS c_label, list(cv ORDER BY i) AS cent_vec
                FROM cd GROUP BY label),
       scored AS (SELECT e.vec_id, e.label, c.c_label,
                         {_duck_cos_vs('e.embedding', 'c.cent_vec')} AS cos
                  FROM embeddings e CROSS JOIN cent c),
       pred AS (SELECT vec_id, label, c_label AS pred, ROUND(cos, 6) AS conf
                FROM (SELECT vec_id, label, c_label, cos,
                             row_number() OVER (PARTITION BY vec_id
                                                ORDER BY cos DESC, c_label) AS rn
                      FROM scored) WHERE rn = 1),
       binned AS (SELECT LEAST(GREATEST(CAST(FLOOR(conf * 10) AS INT), -10), 9)
                           AS bin,
                         CASE WHEN pred = label THEN 1 ELSE 0 END AS ok
                  FROM pred),
       agg AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(ok) AS BIGINT) AS n_ok,
                      ROUND(AVG(CAST(bin AS DOUBLE)) / 10 + 0.05, 4) AS bin_mid
               FROM binned GROUP BY bin)
       SELECT bin, n, ROUND(CAST(n_ok AS DOUBLE) / n, 4) AS accuracy,
              bin_mid,
              ROUND(ABS(ROUND(CAST(n_ok AS DOUBLE) / n, 4) - bin_mid), 4)
                AS gap
       FROM agg ORDER BY bin""",
)
def a009_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit for the nearest-centroid classifier (a110's
    model): bucket predictions by confidence (max centroid cosine,
    bin width 0.1) and compare per-bin accuracy against the bin
    midpoint — the per-bin table whose n-weighted ``gap`` sum is the
    expected calibration error (ECE). An over-confident auto-labeler
    silently poisons curated training mixes; this is the check.

    Same scan shape as a110 (centroids broadcast, argmax is a keyed
    partial agg, embeddings never shuffle); the calibration table adds
    one ≤ 21-row exact-count aggregation. Accuracy and gap derive from
    integer counts, bit-identical across engines."""
    emb = tables(spark, sf_dir)["embeddings"]
    # norm hoist (r8): one self-fold per vector/centroid, not per pair
    cent = label_centroids(emb).select(
        F.col("label").alias("c_label"),
        "cent_vec",
        norm(F.col("cent_vec")).alias("__cn"),
    )
    scored = (
        emb.withColumn("__vn", norm(F.col("embedding")))
        .crossJoin(F.broadcast(cent))
        .withColumn(
            "cos",
            cosine_hoisted(
                F.col("embedding"), F.col("cent_vec"), F.col("__vn"), F.col("__cn")
            ),
        )
    )
    pred = scored.groupBy("vec_id", "label").agg(
        F.max_by(
            "c_label", F.struct(F.col("cos"), (-F.col("c_label")).alias("nl"))
        ).alias("pred"),
        F.round(F.max("cos"), 6).alias("conf"),
    )
    binned = pred.select(
        F.least(
            F.greatest(F.floor(F.col("conf") * 10).cast("int"), F.lit(-10)),
            F.lit(9),
        ).alias("bin"),
        (F.col("pred") == F.col("label")).cast("int").alias("ok"),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ok").alias("n_ok"),
        F.round(F.avg(F.col("bin").cast("double")) / 10 + 0.05, 4).alias("bin_mid"),
    )
    acc = F.round(F.col("n_ok").cast("double") / F.col("n"), 4)
    return agg.select(
        "bin",
        "n",
        acc.alias("accuracy"),
        "bin_mid",
        F.round(F.abs(acc - F.col("bin_mid")), 4).alias("gap"),
    ).orderBy("bin")


@register(
    "a011_label_margin_matrix",
    f"""WITH cx AS (SELECT label, embedding,
                          unnest(generate_series(1, {EMB_DIM})) AS i
                   FROM embeddings),
       cd AS (SELECT label, i, ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS cv
              FROM cx GROUP BY 1, 2),
       cent AS (SELECT label, list(cv ORDER BY i) AS cent_vec
                FROM cd GROUP BY label)
       SELECT a.label AS label_a, b.label AS label_b,
              ROUND({_duck_cos_vs('a.cent_vec', 'b.cent_vec')}, 6) AS cos_sim
       FROM cent a JOIN cent b ON a.label < b.label
       ORDER BY label_a, label_b""",
)
def a011_label_margin_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between label centroids — the margin
    audit behind a110/e155: label pairs whose centroids are nearly
    parallel are the ones an auto-labeler will confuse and a curated
    mix will cross-contaminate. k(k-1)/2 rows regardless of corpus
    size; the per-label centroids come from one (label, dim)-keyed
    partial agg, and the pair matrix is a broadcast self-join over k
    rows."""
    emb = tables(spark, sf_dir)["embeddings"]
    cent = label_centroids(emb)
    a = cent.select(F.col("label").alias("label_a"), F.col("cent_vec").alias("va"))
    b = cent.select(F.col("label").alias("label_b"), F.col("cent_vec").alias("vb"))
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
        .orderBy("label_a", "label_b")
    )
