"""Semantic tests for operators/corpus.py: budget-overshoot contract,
chunk reconstruction, decontamination recall on planted contamination,
and the estimated-Jaccard verification stage."""

from __future__ import annotations

from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.operators.corpus import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    TOKEN_BUDGET,
    a100_token_budget,
    a101_doc_chunks,
    a105_est_jaccard_pairs,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
    band_pairs,
    minhash_band_rows,
    minhash_signatures,
    sig_band_rows,
)
from tests.conftest import SF_DIR


def test_token_budget_overshoot_bound(spark):
    """Greedy contract: each source's kept total is >= budget only by the
    last document's tokens (overshoot < max doc length), and dropping the
    last kept doc would put it under budget."""
    rows = a100_token_budget(spark, SF_DIR).collect()
    assert rows, "budget selection returned nothing"
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            "source",
            "doc_id",
            F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok"),
        )
        .collect()
    )
    by_source: dict[str, list[tuple[int, int]]] = {}
    for r in docs:
        by_source.setdefault(r["source"], []).append((r["doc_id"], r["n_tok"]))
    for r in rows:
        seq = sorted(by_source[r["source"]])
        cum = kept = toks = 0
        for _, n in seq:
            if cum < TOKEN_BUDGET:
                kept += 1
                toks += n
            cum += n
        assert (r["n_docs_kept"], r["n_tokens_kept"]) == (kept, toks), r["source"]


def test_chunks_reconstruct_document(spark):
    """Stride-concatenation of chunks reproduces the document: chunk i
    contributes its first CHUNK_STRIDE words (all words for the last
    chunk) — no word lost or duplicated beyond the declared overlap."""
    chunks = a101_doc_chunks(spark, SF_DIR).collect()
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    by_doc: dict[int, list] = {}
    for c in chunks:
        by_doc.setdefault(c["doc_id"], []).append(c)
    assert set(by_doc) == set(texts)
    for doc_id, cs in list(by_doc.items())[:50]:
        cs.sort(key=lambda c: c["chunk_idx"])
        words: list[str] = []
        for i, c in enumerate(cs):
            cw = c["chunk_text"].split(" ") if c["chunk_text"] else [""]
            assert len(cw) == c["n_words"] <= CHUNK_SIZE
            take = cw if i == len(cs) - 1 else cw[:CHUNK_STRIDE]
            words.extend(take)
        assert words == texts[doc_id].strip().split(), doc_id


def test_lsh_decontaminate_flags_planted_dup(spark):
    """A corpus doc that IS an eval doc (verbatim) must be flagged —
    banding collides on every band for identical text."""
    eval_rows = [(1000 + i, f"held out evaluation prompt number {i} alpha beta gamma delta", "src0") for i in range(3)]
    corpus_rows = [
        # verbatim copy of eval doc 1001 -> must flag
        (1, "held out evaluation prompt number 1 alpha beta gamma delta", "web"),
        # unrelated -> must not flag
        (2, "completely different training document about spark shuffles", "web"),
    ]
    df = spark.createDataFrame(eval_rows + corpus_rows, "doc_id long, text string, source string")
    eval_bands = (
        minhash_band_rows(df.filter(F.col("source") == "src0"), "doc_id", "text")
        .select("band_idx", "band_sig")
        .distinct()
    )
    flagged = {
        r["id"]
        for r in minhash_band_rows(
            df.filter(F.col("source") != "src0"), "doc_id", "text"
        )
        .join(F.broadcast(eval_bands), ["band_idx", "band_sig"], "left_semi")
        .select("id")
        .distinct()
        .collect()
    }
    assert 1 in flagged
    assert 2 not in flagged


def test_est_jaccard_identical_docs_score_one(spark):
    """Identical texts agree on all 8 minhash components (est=1.0);
    disjoint texts produce no candidate pair at all."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "entirely unrelated words with zero overlap whatsoever here"),
        ],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(df, "doc_id", "text")
    pairs = band_pairs(sig_band_rows(sigs)).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(1, 2)}
    out = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in a105_est_jaccard_pairs(spark, SF_DIR).collect()
    }
    for (a, b), est in out.items():
        assert 0.5 <= est <= 1.0 and est * 8 == int(est * 8), (a, b, est)


def test_simhash_kernel_matches_duckdb_cte_bitwise(spark):
    """The Arrow SimHash kernel must reproduce the b45/a001 oracle's
    DuckDB SimHash CTEs EXACTLY — same md5 windows, same ±1 votes, same
    fingerprint bits — including whitespace-edge texts where the split
    emits empty-string words."""
    import duckdb

    from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
        _DUCK_SIMHASH_CTE,
        simhash_fps,
    )

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(300)
    edge = spark.createDataFrame(
        [
            (9001, " leading space"),
            (9002, "trailing space "),
            (9003, "double  space"),
            (9004, "MIXED Case Words mixed case words"),
            (9005, ""),
        ],
        "doc_id long, text string",
    )
    for frame in (df, edge):
        docs = [(r["doc_id"], r["text"]) for r in frame.collect()]
        a = {
            r["doc_id"]: (r["fp0"], r["fp1"])
            for r in simhash_fps(
                frame, "doc_id", "text", offsets=(0, 8)
            ).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
        b = dict(
            (i, (lo, hi))
            for i, lo, hi in con.execute(
                f"WITH {_DUCK_SIMHASH_CTE} SELECT doc_id, fp_lo, fp_hi FROM fp"
            ).fetchall()
        )
        assert a == b and len(a) > 0


def test_minhash_arrow_and_jvm_paths_identical(spark):
    """The Arrow MinHash kernel (default) must reproduce the JVM
    explode+8-min aggregate EXACTLY — same shingles, same md5 window,
    same (h*a+b)%p mins — including docs below the shingle width, which
    must DROP on both paths."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
        minhash_signatures,
    )

    cols = ["id"] + [f"mh{i}" for i in range(8)]
    corpus = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(300)
    edge = spark.createDataFrame(
        [(1, "one two"), (2, "one two three"), (3, " lead two  three four ")],
        "doc_id long, text string",
    )
    for frame in (corpus, edge):
        a = sorted(
            tuple(r[c] for c in cols)
            for r in minhash_signatures(
                frame, "doc_id", "text", use_arrow=True
            ).collect()
        )
        b = sorted(
            tuple(r[c] for c in cols)
            for r in minhash_signatures(
                frame, "doc_id", "text", use_arrow=False
            ).collect()
        )
        assert a == b and len(a) > 0
    # the two-word doc dropped on both paths
    assert {
        r["id"]
        for r in minhash_signatures(edge, "doc_id", "text").collect()
    } == {2, 3}


def test_padding_waste_monotone_in_ctx_len(spark):
    """Larger context length can only increase per-doc padding for docs
    shorter than it; the fixture's docs are 10-99 words, so waste_frac
    must rise with ctx_len across 16->128."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.corpus import a016_padding_waste

    res = {r["ctx_len"]: r for r in a016_padding_waste(spark, SF_DIR).collect()}
    assert set(res) == {16, 32, 64, 128}
    n_docs = {r["n_docs"] for r in res.values()}
    assert len(n_docs) == 1, "every L sees every doc"
    for r in res.values():
        assert r["total_padded"] >= r["total_tokens"]
        assert 0.0 <= r["waste_frac"] < 1.0
    assert res[128]["waste_frac"] > res[16]["waste_frac"]
