"""Corpus-assembly operators (second training-data batch, ``f`` names):
token-budget selection, overlapping chunking, MinHash decontamination,
boilerplate-prefix detection, curriculum bucketing, and LSH candidate
verification by estimated Jaccard, plus the padding-waste audit per
candidate context length (a016).

These extend ``pipeline_ops.py``/``advanced.py`` toward a complete
corpus-assembly surface: after cleaning (c-batch) and dedup clustering
(d-batch), a pipeline still has to CHOOSE what goes into the training
mix (budget + curriculum), SHAPE it for the trainer (chunking), and
VERIFY its hygiene (decontamination, candidate-pair verification).

Scale notes (the shapes that survive 100 TB):

- Every text-derived key shuffled here is short (a prefix, a band
  signature, a source name) — never the document body.
- Budget selection and curriculum bucketing window per source/lang key;
  per-key volume bounds the window partition, and the docstrings name
  the approx-percentile alternative when one key dominates.
- Decontamination broadcasts the EVAL side (always tiny relative to the
  corpus) so the corpus scan stays shuffle-free.
- Chunking is a pure flatMap (explode) — no shuffle at all.

Registered names sort after the round-2 driver window (``e99`` < ``f``)
by design: they carry local oracle evidence this round and rotate into
the 50-slot driver window next round (PARITY.md "Driver-window
rotation").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import register, track_cache
from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_P,
    SHINGLE_K,
    _duck_shingles,
    band_pairs,
    minhash_band_rows,
    minhash_signatures,
    sig_band_rows,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.text import (
    _duck_quality,
    quality_score,
    token_count,
)

#: Greedy per-source token budget (f100).
TOKEN_BUDGET = 1_000
#: Chunk window / stride in words (f101): 8-word overlap between chunks.
CHUNK_SIZE = 32
CHUNK_STRIDE = 24
#: Source treated as the held-out eval set for decontamination (f102).
EVAL_SOURCE = "src0"
#: Boilerplate prefix width in words (f103).
PREFIX_WORDS = 3
#: Curriculum bucket count (f104).
N_BUCKETS = 4
#: Candidate pairs below this estimated Jaccard are rejected (f105).
EST_JACCARD_MIN = 0.5

#: DuckDB twin of text.token_count (q47/q48 use the same rendering).
_TOK_SQL = r"len(string_split_regex(trim(text), '\s+'))"


def _sig_sql() -> str:
    """DuckDB CTEs ``w``→``sig`` reproducing minhash_signatures bit-for-bit
    (same md5-derived base hash + affine rehash family as dedup.py)."""
    mins = ", ".join(
        f"MIN((h*{a}+{b})%{MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    return rf"""w AS (
          SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS words
          FROM documents
        ),
        sh AS (
          SELECT doc_id, source,
                 {_duck_shingles()} AS shingle
          FROM w WHERE len(words) >= {SHINGLE_K}
        ),
        base AS (
          SELECT doc_id, source,
                 CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
          FROM sh
        ),
        sig AS (SELECT doc_id, source, {mins} FROM base GROUP BY doc_id, source)"""


def _bands_sql() -> str:
    """DuckDB CTE ``bands`` over ``sig`` (twin of sig_band_rows)."""
    return " UNION ALL ".join(
        f"SELECT doc_id, source, {i} AS band_idx, mh{a} || '|' || mh{b} AS band_sig FROM sig"
        for i, (a, b) in enumerate(MINHASH_BANDS)
    )


# ---------------------------------------------------------------------------
# f100 — per-source token-budget selection
# ---------------------------------------------------------------------------


@register(
    "a100_token_budget",
    rf"""WITH t AS (
          SELECT source, doc_id, {_TOK_SQL} AS n_tok FROM documents
        ),
        c AS (
          SELECT source, n_tok,
                 SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
          FROM t
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens_kept
        FROM c WHERE cum - n_tok < {TOKEN_BUDGET}
        GROUP BY source ORDER BY source""",
)
def a100_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source token-budget selection: walk each source in
    doc_id order and keep documents until the budget is reached (a doc is
    kept iff it STARTS under budget, so the kept total overshoots by at
    most one document — the standard greedy contract).

    Scale: one window shuffle keyed on source; the running sum is O(1)
    state per row. Per-source volume bounds the window partition — with a
    pathological mega-source, pre-aggregate per (source, doc_id-range)
    chunk and prefix-sum the chunk totals (the d94_shard_packing
    formulation) instead of one window partition."""
    d = tables(spark, sf_dir)["documents"]
    t = d.select("source", "doc_id", token_count(F.col("text")).alias("n_tok"))
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    kept = t.withColumn("cum", F.sum("n_tok").over(w)).filter(
        F.col("cum") - F.col("n_tok") < TOKEN_BUDGET
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tok").cast("long").alias("n_tokens_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# f101 — overlapping chunking
# ---------------------------------------------------------------------------


@register(
    "a101_doc_chunks",
    rf"""WITH w AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
          FROM documents
        ),
        s AS (
          SELECT doc_id, words,
                 unnest(generate_series(1, len(words), {CHUNK_STRIDE})) AS start
          FROM w
        )
        SELECT doc_id,
               CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
               array_to_string(words[start:start+{CHUNK_SIZE - 1}], ' ') AS chunk_text,
               CAST(LEAST({CHUNK_SIZE}, len(words) - start + 1) AS BIGINT) AS n_words
        FROM s ORDER BY doc_id, chunk_idx""",
)
def a101_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into {CHUNK_SIZE}-word chunks advancing by
    {CHUNK_STRIDE} words (8-word overlap keeps context across chunk
    boundaries — the standard trainer-side windowing).

    Scale: a pure flatMap — sequence + posexplode + slice, zero shuffle,
    whole-stage codegen; output size is input size x (1 + overlap
    fraction). The final ORDER BY exists for the oracle contract only;
    a real pipeline writes chunks partition-local."""
    d = tables(spark, sf_dir)["documents"]
    w = d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("words"))
    s = w.select(
        "doc_id",
        "words",
        F.posexplode(
            F.sequence(F.lit(1), F.size("words"), F.lit(CHUNK_STRIDE))
        ).alias("pos", "start"),
    )
    return s.select(
        "doc_id",
        F.col("pos").cast("long").alias("chunk_idx"),
        F.array_join(F.slice("words", F.col("start"), CHUNK_SIZE), " ").alias(
            "chunk_text"
        ),
        F.least(
            F.lit(CHUNK_SIZE), F.size("words") - F.col("start") + 1
        ).cast("long").alias("n_words"),
    ).orderBy("doc_id", "chunk_idx")


# ---------------------------------------------------------------------------
# f102 — MinHash-LSH decontamination
# ---------------------------------------------------------------------------


@register(
    "a102_lsh_decontaminate",
    rf"""WITH {_sig_sql()},
        bands AS ({_bands_sql()}),
        flag AS (
          SELECT DISTINCT c.doc_id
          FROM bands c JOIN bands e
            ON c.band_idx = e.band_idx AND c.band_sig = e.band_sig
          WHERE c.source != '{EVAL_SOURCE}' AND e.source = '{EVAL_SOURCE}'
        )
        SELECT d.lang,
               CAST(COUNT(*) AS BIGINT) AS n_corpus,
               CAST(COUNT(f.doc_id) AS BIGINT) AS n_flagged
        FROM documents d LEFT JOIN flag f ON d.doc_id = f.doc_id
        WHERE d.source != '{EVAL_SOURCE}'
        GROUP BY d.lang ORDER BY d.lang""",
)
def a102_lsh_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate decontamination against a held-out eval set via
    MinHash banding — the fuzzy complement of c88's exact n-gram
    semi-join (catches lightly-edited eval contamination that exact
    n-gram overlap misses).

    Scale: the eval side is tiny relative to the corpus, so its distinct
    band signatures are BROADCAST — the corpus-side scan+signature
    pipeline runs shuffle-free except the signature groupBy, and no
    corpus-vs-corpus join ever happens (contrast q43, which self-joins).
    Since r10 both sides come from ONE signature pass over the table
    (``source`` carried in-row, split by filter) — one corpus scan, not
    two. The band-row call pins ``use_arrow=False`` — first measured
    here (~15% faster for this broadcast-feeding shape), and since r7
    the JVM explode path is the family-wide default anyway (2.1-2.3x
    once word_shingles' zip_with fix landed; see minhash_signatures)."""
    d = tables(spark, sf_dir)["documents"]
    corpus = d.filter(F.col("source") != EVAL_SOURCE)
    # ONE signature pipeline over the whole table with `source` carried
    # in-row, split by filter afterwards (r10) — the old shape ran two
    # separate scan→shingle→minhash pipelines (corpus and eval), i.e.
    # TWO passes over the same parquet at scale for disjoint row
    # subsets. Same per-doc signatures, one scan. Interleaved A/B at
    # sf0.1 min-of-5: 1.16 s → 0.93 s, identical output. The band
    # frame is cached (4 short rows/doc), released by release_caches.
    bands = track_cache(
        minhash_band_rows(d, "doc_id", "text", use_arrow=False, carry=("source",))
    )
    eval_sigs = (
        bands.filter(F.col("source") == EVAL_SOURCE)
        .select("band_idx", "band_sig")
        .distinct()
    )
    flagged = (
        bands.filter(F.col("source") != EVAL_SOURCE)
        .join(F.broadcast(eval_sigs), ["band_idx", "band_sig"], "left_semi")
        .select(F.col("id").alias("doc_id"))
        .distinct()
        .withColumn("flagged", F.lit(1))
    )
    return (
        corpus.join(flagged, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_corpus"),
            F.count("flagged").alias("n_flagged"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# f103 — boilerplate prefix detection
# ---------------------------------------------------------------------------


@register(
    "a103_prefix_dups",
    rf"""WITH p AS (
          SELECT array_to_string(
                   (string_split_regex(lower(trim(text)), '\s+'))[1:{PREFIX_WORDS}],
                   ' ') AS prefix
          FROM documents
        )
        SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM p GROUP BY prefix HAVING COUNT(*) >= 2
        ORDER BY n_docs DESC, prefix LIMIT 20""",
)
def a103_prefix_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared document prefixes ({PREFIX_WORDS} words): repeated openings
    are the signature of scraped boilerplate (cookie banners, license
    headers) that survives exact dedup because the tails differ.

    Scale: the shuffle key is a short prefix string, one partial-agg
    shuffle + TakeOrdered; document bodies never move."""
    d = tables(spark, sf_dir)["documents"]
    prefix = F.array_join(
        F.slice(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), 1, PREFIX_WORDS), " "
    )
    return (
        d.select(prefix.alias("prefix"))
        .groupBy("prefix")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "prefix")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# f104 — curriculum buckets
# ---------------------------------------------------------------------------


@register(
    "a104_curriculum_buckets",
    rf"""WITH q AS (
          SELECT lang, doc_id,
                 {_duck_quality()} AS quality
          FROM documents
        ),
        b AS (
          SELECT lang, quality,
                 NTILE({N_BUCKETS}) OVER (PARTITION BY lang
                                          ORDER BY quality, doc_id) AS bucket
          FROM q
        )
        SELECT lang, CAST(bucket AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(quality) AS min_quality, MAX(quality) AS max_quality
        FROM b GROUP BY lang, bucket ORDER BY lang, bucket""",
)
def a104_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: per-language quality quartiles (bucket 1 =
    lowest quality, trained first/least — the mix designer's knob), with
    exact min/max per bucket (no cross-row double summation, so the
    outputs are bit-stable across engines and partitionings).

    Scale: NTILE windows per lang — per-key volume bounds the partition.
    When one language dominates (it will: English), replace NTILE with
    approx_percentile cut points + a map-side bucket assignment; the
    NTILE formulation is kept here because it is oracle-exact."""
    d = tables(spark, sf_dir)["documents"]
    q = d.select("lang", "doc_id", quality_score(F.col("text")).alias("quality"))
    w = W.partitionBy("lang").orderBy("quality", "doc_id")
    b = q.withColumn("bucket", F.ntile(N_BUCKETS).over(w))
    return (
        b.groupBy("lang", F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# f105 — LSH candidate verification by estimated Jaccard
# ---------------------------------------------------------------------------


@register(
    "a105_est_jaccard_pairs",
    rf"""WITH {_sig_sql()},
        bands AS ({_bands_sql()}),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
           AND a.doc_id < b.doc_id
        )
        SELECT p.id_a, p.id_b,
               CAST(({" + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(len(MINHASH_A)))})
                    AS DOUBLE) / {len(MINHASH_A)} AS est_jaccard
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.id_a
        JOIN sig sb ON sb.doc_id = p.id_b
        WHERE CAST(({" + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(len(MINHASH_A)))})
                   AS DOUBLE) / {len(MINHASH_A)} >= {EST_JACCARD_MIN}
        ORDER BY id_a, id_b""",
)
def a105_est_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate VERIFICATION: banding over-generates (one colliding
    band admits a pair), so estimate Jaccard as the agreeing fraction of
    the full 8-component minhash signature and reject pairs under
    {EST_JACCARD_MIN}. This is the standard two-stage LSH pipeline
    (generate → verify) without ever re-reading document text — the
    verify stage touches only 8 longs per document.

    The estimate is k_agree/8, an exact multiple of 0.125 — bit-stable
    as a double on both engines with no rounding step.

    Scale: signatures are computed ONCE (cached, tracked for release)
    and reused by both stages; the verify join is keyed on doc_id —
    two shuffles of 8-long rows, never text."""
    d = tables(spark, sf_dir)["documents"]
    sigs = track_cache(minhash_signatures(d, "doc_id", "text"))
    pairs = band_pairs(sig_band_rows(sigs))
    sa = sigs.select(
        F.col("id").alias("id_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(8)]
    )
    sb = sigs.select(
        F.col("id").alias("id_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(8)]
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(8)
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (agree.cast("double") / 8).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= EST_JACCARD_MIN)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Padding waste per context length (a016)
# ---------------------------------------------------------------------------


#: candidate context lengths (tokens) for the e162 packing audit.
PACK_LENGTHS = (16, 32, 64, 128)


@register(
    "a016_padding_waste",
    f"""WITH t AS (
         SELECT doc_id,
                len(string_split_regex(trim(text), '\\s+')) AS n_tok
         FROM documents),
       l AS (SELECT unnest(ARRAY{list(PACK_LENGTHS)}) AS ctx_len),
       p AS (
         SELECT l.ctx_len, t.n_tok,
                CAST(CEIL(CAST(t.n_tok AS DOUBLE) / l.ctx_len) * l.ctx_len
                     AS BIGINT) AS padded
         FROM t CROSS JOIN l)
       SELECT ctx_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
              CAST(SUM(padded) AS BIGINT) AS total_padded,
              ROUND(CAST(SUM(padded) - SUM(n_tok) AS DOUBLE)
                    / SUM(padded), 4) AS waste_frac
       FROM p GROUP BY ctx_len ORDER BY ctx_len""",
)
def a016_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for choosing a training context length: for
    each candidate length L, every document occupies ceil(tokens/L)
    rows of L tokens (the pad-don't-concat packing regime) and the
    wasted fraction is (padded − real) / padded. The elbow of this
    curve is how max_seq_len actually gets picked; at 100 TB the audit
    is one scan with a 4-way literal explode and an exact-integer
    partial agg — no shuffle carries more than |PACK_LENGTHS| × sources
    rows."""
    d = tables(spark, sf_dir)["documents"]
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    t = d.select(n_tok.alias("n_tok"))
    exploded = t.select(
        "n_tok", F.explode(F.array(*[F.lit(x) for x in PACK_LENGTHS])).alias("ctx_len")
    )
    padded = (
        F.ceil(F.col("n_tok").cast("double") / F.col("ctx_len")) * F.col("ctx_len")
    ).cast("long")
    return (
        exploded.withColumn("padded", padded)
        .groupBy("ctx_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum("padded").cast("long").alias("total_padded"),
            F.round(
                (F.sum("padded") - F.sum("n_tok")).cast("double") / F.sum("padded"),
                4,
            ).alias("waste_frac"),
        )
        .orderBy("ctx_len")
    )
