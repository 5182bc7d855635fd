"""Scale rehearsal for the dedup family (VERDICT r4 ask #5): run the
near-dup pipeline at 1x / 4x / 10x of the sf0.1 corpus size and check
that runtime grows ~linearly and the banding/df-cap bounds hold (pair
count stays orders of magnitude under corpus², no pair blowup).

Usage: python tools/scale_rehearsal.py [--sizes 5000,20000,50000]
       python tools/scale_rehearsal.py --hot 2000 [--sizes 20000]
       python tools/scale_rehearsal.py --sizes 20000,50000,200000 --reps 1

``--reps`` caps the per-cell repeat count (default 2 — min-of-2); use 1
for the 200k quadratic-regime cells (q44/a0007 run ~10 min each there,
see BASELINE "Appendix: 200k-doc decade").

``--hot N`` runs the SKEW rehearsal instead: the clustering consumers
(d96/a141, whose edge generation links every doc of an LSH bucket to
the bucket's min id) and the collapsed-output pair query (a0006) on
each base corpus with and without N identical copies of one boilerplate
template appended — the adversarial input whose LSH bucket is quadratic
(N²/2 pairs) without the collapse. Pair-OUTPUT queries (q43/q44) are
correctly quadratic there (the answer itself is the pair set) and are
excluded by design; a0006 IS their linear-space production shape. A
last row gives ``minhash_cc_edges``' edge count against the doc count
of each corpus, and the run fails if edges exceed 4 per doc (one per
band).

Prints a markdown table for the BASELINE.md appendix.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_scale import write_documents  # noqa: E402

QUERIES = (
    "q43_minhash_lsh_pairs",
    "q44_ngram_jaccard_dups",
    "a001_simhash_hamming_pairs",
    "d96_dup_clusters",
    "c88_decontaminate",
    # round-5 additions in the same family (inverted-index / sketch)
    "a0003_crosslang_dups",
    "a0005_kmv_overlap",
    # round-7 collapsed production shapes (r8: part of the 200k decade)
    "a0006_minhash_pairs_collapsed",
    "a0007_jaccard_pairs_collapsed",
)


def main() -> None:
    # Accept both "--sizes=5000,20000" and "--sizes 5000,20000" (the
    # docstring's form; previously only '=' parsed and the space form
    # raised IndexError / silently ignored the value).
    sizes = [5_000, 20_000, 50_000]
    hot = 0
    reps = 2
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a.startswith(("--sizes", "--hot", "--reps")):
            if "=" in a:
                val = a.split("=", 1)[1]
            elif i + 1 < len(argv):
                val = argv[i + 1]
            else:
                sys.exit(
                    "usage: scale_rehearsal.py [--sizes=5000,20000,50000]"
                    " [--hot=2000] [--reps=2]"
                )
            if a.startswith("--sizes"):
                sizes = [int(x) for x in val.split(",")]
            elif a.startswith("--reps"):
                reps = int(val)
                if reps < 1:
                    sys.exit("--reps must be >= 1")
            else:
                hot = int(val)

    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "32")
    import __spark_entry__ as entry_mod
    from one_stop_cdc_ingestion_toolkit_spark.operators import release_caches
    from one_stop_cdc_ingestion_toolkit_spark.session import get_session

    spark = get_session("scale-rehearsal")
    qs = entry_mod.queries()

    queries = (
        ("d96_dup_clusters", "a141_cluster_retention",
         "a0006_minhash_pairs_collapsed")
        if hot
        else QUERIES
    )
    variants = [(n, h) for n in sizes for h in ((0, hot) if hot else (0,))]
    dirs = {}
    for n, h in variants:
        d = f"/tmp/scale_docs_{n}" + (f"_hot{h}" if h else "")
        if not os.path.exists(os.path.join(d, "documents.parquet")):
            write_documents(d, n, hot_copies=h)
        dirs[(n, h)] = d

    def label(n: int, h: int) -> str:
        return f"{n} docs" + (f" +{h} hot" if h else "")

    # warm
    qs[queries[0]](spark, dirs[variants[0]]).count()
    release_caches()

    print(
        "| query | "
        + " | ".join(f"{label(n, h)} (s / rows)" for n, h in variants)
        + " |"
    )
    print("|---|" + "---|" * len(variants))
    for q in queries:
        cells = []
        for v in variants:
            best, rows = float("inf"), 0
            for _ in range(reps):
                t0 = time.time()
                rows = qs[q](spark, dirs[v]).count()
                best = min(best, time.time() - t0)
                release_caches()
            cells.append(f"{best:.2f} / {rows}")
        print(f"| {q} | " + " | ".join(cells) + " |")
    if hot:
        from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
            MINHASH_BANDS,
            minhash_cc_edges,
        )

        cells = []
        for v in variants:
            docs = spark.read.parquet(os.path.join(dirs[v], "documents.parquet"))
            n_docs = docs.count()
            n_edges = minhash_cc_edges(docs, "doc_id", "text").count()
            cells.append(f"{n_edges} / {n_docs}")
            bound = len(MINHASH_BANDS) * n_docs
            assert n_edges <= bound, f"{label(*v)}: {n_edges} edges"
        print("| minhash_cc_edges (edges / docs) | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main()
