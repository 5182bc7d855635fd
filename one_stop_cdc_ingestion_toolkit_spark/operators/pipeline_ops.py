"""Training-data pipeline operators: deterministic sampling, text
normalization, ID scrubbing, corpus mixing weights, length filtering.

These are the corpus-preparation steps a large-scale training-data
pipeline runs between raw ingestion (the CDC/streaming side of this
engine) and model consumption. All hot-path logic is built-in Spark SQL
functions — JVM-side, codegen'd — so every operator is a single scan
plus (at most) one aggregation shuffle at any corpus size.

Determinism notes (oracle hash parity):
- Sampling uses md5 of a salted key, never rand(): the same row is kept
  on both engines AND under Spark task retry (a rand()-based sample is
  not idempotent across stage re-execution — same argument as
  operators/skew.py's deterministic salt).
- Mixing weights emit sqrt(n/total): division and sqrt are both
  correctly-rounded IEEE ops over exactly-representable integer inputs,
  so the doubles are bit-equal across engines with no cross-row
  double-summation order dependence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import register
from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import _duck_shingles
from one_stop_cdc_ingestion_toolkit_spark.operators.text import _duck_quality

#: salt for the deterministic sampler — changing it draws a fresh sample
SAMPLE_SALT = "s:"


def sample_hash(key: Column) -> Column:
    """First hex digit of md5(salt || key): uniform over 16 buckets,
    deterministic across engines and task retries."""
    return F.substring(F.md5(F.concat(F.lit(SAMPLE_SALT), key.cast("string"))), 1, 1)


def keep_stratified(key: Column, threshold: Column) -> Column:
    """Keep a row iff its sample hash is below the stratum threshold
    ('4' → 4/16 = 25 %, '8' → 50 %, ...)."""
    return sample_hash(key) < threshold


def normalize_text(text: Column) -> Column:
    """Normalization pipeline: lowercase → strip non-alnum (ASCII) →
    collapse whitespace → trim. One codegen'd projection."""
    low = F.lower(text)
    alnum = F.regexp_replace(low, r"[^a-z0-9\s]", "")
    return F.trim(F.regexp_replace(alnum, r"\s+", " "))


def scrub_ids(text: Column) -> Column:
    """Replace every digit run with '#' (ID/PII scrubbing primitive)."""
    return F.regexp_replace(text, r"[0-9]+", "#")


@register(
    "c80_stratified_sample",
    f"""SELECT lang, COUNT(*) AS n_total,
              COUNT(CASE WHEN substr(md5('{SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)), 1, 1)
                              < (CASE WHEN lang = 'en' THEN '4' ELSE '8' END)
                         THEN 1 END) AS n_kept
       FROM documents GROUP BY lang ORDER BY lang""",
)
def c80_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling for corpus mixing: the
    over-represented language ('en' in the fixture) keeps 25 %, the rest
    50 %. Hash-based (md5 of salted doc_id), so the sample is stable
    under task retry and reproducible across runs — rand()-based
    TABLESAMPLE is neither. At 100 TB this is a pure map-side filter
    (no shuffle at all until the audit aggregation)."""
    d = tables(spark, sf_dir)["documents"]
    threshold = F.when(F.col("lang") == "en", F.lit("4")).otherwise(F.lit("8"))
    kept = keep_stratified(F.col("doc_id"), threshold)
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(kept, 1)).alias("n_kept"),
        )
        .orderBy("lang")
    )


@register(
    "c81_text_normalize",
    r"""SELECT doc_id,
              length(trim(regexp_replace(
                  regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                  '\s+', ' ', 'g'))) AS n_norm_chars,
              substr(trim(regexp_replace(
                  regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                  '\s+', ' ', 'g')), 1, 40) AS norm_prefix
       FROM documents ORDER BY doc_id""",
)
def c81_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (lower/strip-punct/collapse-ws) as a single
    whole-stage-codegen projection — the canonical pre-dedup cleanup
    step feeding fingerprint()/minhash (operators/text.py:74)."""
    d = tables(spark, sf_dir)["documents"]
    norm = normalize_text(F.col("text"))
    return d.select(
        "doc_id",
        F.length(norm).alias("n_norm_chars"),
        F.substring(norm, 1, 40).alias("norm_prefix"),
    ).orderBy("doc_id")


@register(
    "c82_id_scrub",
    r"""SELECT event_type, COUNT(*) AS n_events,
              CAST(SUM(length(props) - length(regexp_replace(props, '[0-9]+', '#', 'g')))
                AS BIGINT) AS chars_scrubbed,
              COUNT(CASE WHEN props != regexp_replace(props, '[0-9]+', '#', 'g')
                         THEN 1 END) AS n_changed
       FROM events GROUP BY event_type ORDER BY event_type""",
)
def c82_id_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID/PII scrubbing audit: digit runs in event payloads replaced by
    '#', reporting how many characters each event type leaks. The scrub
    itself is a map-side regexp_replace; only the audit aggregates."""
    ev = tables(spark, sf_dir)["events"]
    scrubbed = scrub_ids(F.col("props"))
    removed = F.length("props") - F.length(scrubbed)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(removed).cast("long").alias("chars_scrubbed"),
            F.count(F.when(F.col("props") != scrubbed, 1)).alias("n_changed"),
        )
        .orderBy("event_type")
    )


@register(
    "c83_mix_weights",
    """WITH per_src AS (
         SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
       )
       SELECT source, n_docs,
              sqrt(CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE))
                AS mix_weight
       FROM per_src ORDER BY source""",
)
def c83_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing weights (sqrt of the source's doc
    share — the alpha=0.5 sampling temperature used for multilingual /
    multi-domain training mixes). sqrt(n/total) keeps the doubles
    bit-reproducible: integer counts convert exactly, and divide + sqrt
    are correctly-rounded, so no ROUND() is needed. The window total runs
    over the already-aggregated per-source frame (|sources| rows), not
    the corpus."""
    d = tables(spark, sf_dir)["documents"]
    per_src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    total = F.sum("n_docs").over(W.partitionBy())
    return per_src.select(
        "source",
        "n_docs",
        F.sqrt(F.col("n_docs").cast("double") / total.cast("double")).alias(
            "mix_weight"
        ),
    ).orderBy("source")


@register(
    "c86_gopher_filters",
    r"""WITH s AS (
         SELECT doc_id,
                string_split_regex(trim(text), '\s+') AS words,
                length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS n_sym,
                GREATEST(length(text), 1) AS n_chars_g,
                regexp_matches(lower(text), '\b(the|and|of|to|in|is)\b') AS has_stop
         FROM documents
       ),
       m AS (
         SELECT doc_id,
                len(words) AS n_words,
                CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
                  / GREATEST(len(words), 1) AS mwl,
                CAST(n_sym AS DOUBLE) / n_chars_g AS sym_ratio,
                has_stop
         FROM s
       )
       SELECT doc_id, n_words, mwl,
              (n_words BETWEEN 50 AND 100000)
              AND (mwl >= 3 AND mwl <= 10)
              AND (sym_ratio < 0.1)
              AND has_stop AS passes
       FROM m ORDER BY doc_id""",
)
def c86_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (word-count bounds, mean word
    length 3-10, symbol ratio < 0.1, contains a common English stopword)
    evaluated per doc in one codegen projection — the standard pretrain
    cleanup gate. All ratios are exact-operand double divisions, so the
    pass/fail booleans are bit-identical across engines."""
    d = tables(spark, sf_dir)["documents"]
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    char_sum = F.aggregate(
        F.transform(words, F.length), F.lit(0), lambda acc, x: acc + x
    )
    mwl = char_sum.cast("double") / F.greatest(n_words, F.lit(1))
    n_sym = F.length(F.regexp_replace(F.col("text"), r"[a-zA-Z0-9\s]", ""))
    sym_ratio = n_sym.cast("double") / F.greatest(F.length("text"), F.lit(1))
    has_stop = F.lower(F.col("text")).rlike(r"\b(the|and|of|to|in|is)\b")
    passes = (
        n_words.between(50, 100000)
        & (mwl >= 3)
        & (mwl <= 10)
        & (sym_ratio < 0.1)
        & has_stop
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl.alias("mwl"),
        passes.alias("passes"),
    ).orderBy("doc_id")


def _bigram_stats_batches(it):
    """mapInArrow kernel for c87: per-document bigram count and the
    most-frequent-bigram count, computed fully vectorized inside each
    Arrow batch (guide §4.2 — hand whole batches to native libraries).

    Semantics pinned to the JVM formulation it replaces:
    - words = split(lower(text), \\s+) with Java's limit=-1 (leading AND
      trailing empty tokens kept). Java ``\\s`` is the ASCII class
      ``[ \\t\\n\\x0b\\f\\r]``, spelled out here because RE2's ``\\s``
      omits ``\\x0b``.
    - docs with < 2 words emit nothing (explode of an empty shingle
      array dropped them).
    - rep_ratio = IEEE double division max_count/total of two exactly
      representable ints — bit-identical to the old cast+divide.

    Per batch: lower+split in Arrow C++, words dictionary-encoded, then
    (doc, bigram) run-lengths via one lexsort — no per-row Python, no
    per-gram JVM row ever reaches a shuffle."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    for rb in it:
        if rb.num_rows == 0:
            continue
        doc_id = rb.column(0).to_numpy(zero_copy_only=False)
        words = pc.split_pattern_regex(
            pc.utf8_lower(pc.fill_null(rb.column(1), "")),
            "[ \t\n\x0b\f\r]+",
        )
        lens = pc.list_value_length(words).to_numpy(zero_copy_only=False)
        lens = lens.astype(np.int64)
        flat = pc.list_flatten(words).dictionary_encode()
        codes = flat.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        ndocs = lens.shape[0]
        di = np.repeat(np.arange(ndocs, dtype=np.int64), lens)
        # adjacent pairs within a doc: mask out the cross-doc seams
        valid = di[:-1] == di[1:]
        u = np.int64(len(flat.dictionary))
        bg = (codes[:-1] * u + codes[1:])[valid]
        dib = di[:-1][valid]
        if bg.shape[0] == 0:
            continue
        order = np.lexsort((bg, dib))
        bgs, dis = bg[order], dib[order]
        new = np.empty(bgs.shape[0], dtype=bool)
        new[0] = True
        np.logical_or(bgs[1:] != bgs[:-1], dis[1:] != dis[:-1], out=new[1:])
        starts = np.flatnonzero(new)
        counts = np.diff(np.append(starts, bgs.shape[0]))
        cdi = dis[starts]
        dnew = np.empty(cdi.shape[0], dtype=bool)
        dnew[0] = True
        dnew[1:] = cdi[1:] != cdi[:-1]
        dstarts = np.flatnonzero(dnew)
        keep = cdi[dstarts]  # doc indices with >= 1 bigram, ascending
        maxc = np.maximum.reduceat(counts, dstarts)
        total = lens[keep] - 1
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_id[keep], type=pa.int64()),
                pa.array(total, type=pa.int64()),
                pa.array(maxc.astype(np.float64) / total.astype(np.float64)),
            ],
            ["doc_id", "n_bigrams", "rep_ratio"],
        )




@register(
    "c87_repetition_ratio",
    f"""WITH w AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words
          FROM documents
        ),
        bg AS (
          SELECT doc_id,
                 {_duck_shingles(2)} AS bigram
          FROM w WHERE len(words) >= 2
        ),
        counts AS (
          SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(MAX(c) AS DOUBLE) / SUM(c) AS rep_ratio
        FROM counts GROUP BY doc_id ORDER BY doc_id""",
)
def c87_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signal: most-frequent-bigram share of all bigrams —
    boilerplate/spam detector (high ratio = templated text).

    r11 (guide §4.2/§2.3 — move the boundary, not the rows): both
    aggregations are doc-local, so the whole statistic is computed
    IN-ROW by one Arrow kernel (``_bigram_stats_batches``) — the old
    shape exploded every bigram into a row and paid two corpus-sized
    hash aggregations ((doc, bigram) then doc); DuckDB never
    materializes that gram stream, which is exactly why it was 6.2x
    ahead at sf10. Now no per-gram row exists outside the batch kernel
    and the only shuffle is the final per-doc sort. Two JVM-side
    in-row variants were measured and rejected: higher-order
    array folds (r9: interpreted CodegenFallback, 2.6x slower) and the
    doc-clustered single-shuffle shape (r10: fewer exchanges but
    corpus-sized text rows shuffled, 0.88-0.93x)."""
    from one_stop_cdc_ingestion_toolkit_spark.operators import widen_narrow_scan

    d = widen_narrow_scan(tables(spark, sf_dir)["documents"].select("doc_id", "text"))
    return d.mapInArrow(
        _bigram_stats_batches, "doc_id long, n_bigrams long, rep_ratio double"
    ).orderBy("doc_id")


DECONTAM_K = 5  # overlap n-gram width (13 in practice; 5 fits the fixture)


@register(
    "c88_decontaminate",
    f"""WITH w AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words
          FROM documents
        ),
        grams AS (
          SELECT DISTINCT doc_id,
                 {_duck_shingles(DECONTAM_K)} AS g
          FROM w WHERE len(words) >= {DECONTAM_K}
        ),
        eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5),
        hits AS (
          SELECT c.doc_id, COUNT(*) AS n_overlap
          FROM grams c JOIN eval_grams e USING (g)
          WHERE c.doc_id >= 5
          GROUP BY c.doc_id
        )
        SELECT doc_id, n_overlap FROM hits ORDER BY doc_id""",
)
def c88_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination scan: flag corpus documents sharing any
    ``DECONTAM_K``-gram with the eval set (docs 0-4 stand in for a
    benchmark suite). The eval side is tiny by construction → broadcast;
    each doc's grams are deduped INSIDE the row (hashed_shingles, the r6
    discipline) so the corpus side is explode → map-side broadcast
    semi-join → per-doc count: no corpus-wide distinct shuffle, and the
    only shuffle carries hit rows. (An array_intersect-per-row variant
    with the eval set as one broadcast array row was A/B-measured ~1.8x
    SLOWER at sf0.1 — rebuilding the eval hash set per row loses to
    probing one broadcast hash table per gram.) The raw-gram oracle
    hash-checks the per-doc overlap counts."""
    from one_stop_cdc_ingestion_toolkit_spark.operators import (
        widen_narrow_scan,
    )
    from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
        hashed_shingles,
    )

    d = tables(spark, sf_dir)["documents"]
    # widen the CORPUS-side gram explode (r10): the toy corpus arrives
    # as one input split, so the shingle pipeline — ~all of c88's wall
    # per the r9 stage decomposition — ran on a single core. The
    # doc_id >= 5 predicate still pushes through the round-robin
    # exchange to the scan. The eval side stays narrow: it reads 5 docs
    # via its own pushed filter and feeds a broadcast build. Interleaved
    # A/B at sf0.1 min-of-5: 1.16 -> 0.62 s, identical output.
    grams = widen_narrow_scan(d).select(
        "doc_id",
        F.explode(hashed_shingles(F.col("text"), k=DECONTAM_K)).alias("g"),
    )
    eval_grams = F.broadcast(
        d.select(
            "doc_id",
            F.explode(hashed_shingles(F.col("text"), k=DECONTAM_K)).alias("g"),
        )
        .filter(F.col("doc_id") < 5)
        .select("g")
        .distinct()
    )
    return (
        grams.filter(F.col("doc_id") >= 5)
        .join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .orderBy("doc_id")
    )


def clean_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_quality: float = 0.2,
    near_dup: bool = True,
) -> DataFrame:
    """The composed training-data cleanup pipeline, end to end:

    1. quality gate  — drop docs below ``min_quality`` (text.quality_score)
    2. exact dedup   — keep the lowest id per normalization fingerprint
    3. near-dup pass — MinHash-LSH candidate pairs; greedily keep the
       lower id of every pair (after this, no candidate pair has both
       members surviving — re-running the pair generator on the output
       yields pairs only among already-kept docs, which is empty by
       construction of the drop set)

    Each stage is one of the engine's tested primitives; the composition
    adds no new shuffle beyond theirs. Deterministic: ids, not random
    choices, decide survivors — a re-run (or task retry) keeps exactly
    the same documents.
    """
    from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from one_stop_cdc_ingestion_toolkit_spark.operators.text import (
        fingerprint,
        quality_score,
    )

    from one_stop_cdc_ingestion_toolkit_spark.operators import track_cache

    good = df.filter(quality_score(F.col(text_col)) >= min_quality)
    w = W.partitionBy(fingerprint(F.col(text_col))).orderBy(id_col)
    uniq = (
        good.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if not near_dup:
        return uniq
    # uniq feeds BOTH the near-dup pair generator and the final
    # anti-join — uncached, the quality gate + fingerprint window (a
    # full-TEXT shuffle) ran twice (r10). persist() is MEMORY_AND_DISK,
    # so at scale this trades a second corpus-wide text shuffle for one
    # spillable materialization. Interleaved A/B at sf0.1 min-of-5
    # (c91): 1.37 -> 0.95 s, identical output.
    uniq = track_cache(uniq)
    pairs = minhash_lsh_pairs(uniq, id_col, text_col)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return uniq.join(losers, id_col, "left_anti")


def _clean_corpus_oracle() -> str:
    """DuckDB twin of clean_corpus(min_quality=0.2) + per-lang stats:
    quality gate → fingerprint keep-first → LSH candidate pairs (q43's
    oracle construction) → drop every id_b → aggregate."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_BANDS,
        MINHASH_P,
        SHINGLE_K,
    )

    mins = ", ".join(
        f"MIN((h*{a}+{b})%{MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_idx, mh{a} || '|' || mh{b} AS band_sig FROM sig"
        for i, (a, b) in enumerate(MINHASH_BANDS)
    )
    return rf"""WITH scored AS (
          SELECT *, {_duck_quality()} AS q
          FROM documents
        ),
        good AS (SELECT * FROM scored WHERE q >= 0.2),
        uniq AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
              ORDER BY doc_id) AS rn
            FROM good) WHERE rn = 1
        ),
        w AS (
          SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS words
          FROM uniq
        ),
        sh AS (
          SELECT doc_id,
                 {_duck_shingles()} AS shingle
          FROM w WHERE len(words) >= {SHINGLE_K}
        ),
        base AS (
          SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
          FROM sh
        ),
        sig AS (SELECT doc_id, {mins} FROM base GROUP BY doc_id),
        bands AS ({bands}),
        losers AS (
          SELECT DISTINCT b.doc_id
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
           AND a.doc_id < b.doc_id
        )
        SELECT lang, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM uniq ANTI JOIN losers USING (doc_id)
        GROUP BY lang ORDER BY lang"""


@register("c91_clean_corpus_stats", _clean_corpus_oracle())
def c91_clean_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked evidence for the COMPOSED cleanup pipeline: per-lang
    doc count and id-sum checksum of clean_corpus output, hash-matched
    against a full SQL re-derivation (quality gate → fingerprint dedup →
    LSH pair removal) in DuckDB."""
    d = tables(spark, sf_dir)["documents"]
    cleaned = clean_corpus(d, "doc_id", "text", min_quality=0.2)
    return (
        cleaned.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("lang")
    )


@register(
    "c89_vocabulary",
    r"""WITH words AS (
         SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
         FROM documents
       )
       SELECT w, COUNT(*) AS n
       FROM words WHERE w != ''
       GROUP BY w ORDER BY n DESC, w LIMIT 100""",
)
def c89_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 words by frequency (count-desc, word-asc
    tie-break for determinism) — the frequency table a tokenizer build
    starts from. Plan: explode → partial-agg shuffle on the word →
    TakeOrderedAndProject; the full vocabulary never sorts globally."""
    d = tables(spark, sf_dir)["documents"]
    return (
        d.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "w")
        .limit(100)
    )


@register(
    "c84_length_histogram",
    """SELECT CAST(floor(n_chars / 100.0) AS BIGINT) AS bucket,
              COUNT(*) AS n_docs,
              MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
       FROM documents GROUP BY 1 ORDER BY bucket""",
)
def c84_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (100-char buckets) — the evidence base
    for length-filter thresholds in a pretraining cleanup pipeline.
    Integer-only arithmetic; one partial-agg shuffle of |buckets| rows."""
    d = tables(spark, sf_dir)["documents"]
    bucket = F.floor(F.col("n_chars") / F.lit(100.0)).alias("bucket")
    return (
        d.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bucket")
    )
