"""Python user-defined TABLE functions (Spark 3.5+/4 ``@udtf``).

Completes the extensibility surface next to the SQL-language UDFs
(`functions/__init__.py`), the pandas UDAF (`operators/profiling.py
b68_geomean_udaf`) and the grouped-map UDF (`b58_zscore_pandas`): a UDTF
is the lateral-join shape — one input row fans out to N output rows with
a declared schema, callable from SQL.

Placement note (the UDF hierarchy rule, SURVEY §4.4): a UDTF executes in
Python — Arrow-batched, but still off the JVM hot path. Row expansion
that built-ins can express (posexplode over split — q78) stays JVM-side;
this UDTF earns its Python round-trip by carrying real per-row LOGIC
(stateful chunking with overlap) that SQL higher-order functions express
only as an unreadable sequence/transform pile.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf


@udtf(returnType="chunk_id int, n_tokens int, chunk string")
class TextChunks:
    """LATERAL ``text_chunks(text, size, overlap)`` → fixed-size token
    windows with overlap — the same packing IDEA as `a101_doc_chunks`,
    exposed as a SQL-callable table function, with one deliberate
    boundary difference (pinned by tests on both sides): this UDTF
    stops once a window REACHES the last token, while a101 emits a
    trailing stub window at every stride position — e.g. 7 tokens at
    size=3/overlap=1 give 3 chunks here and 4 there. Use one or the
    other consistently per pipeline.

    The final chunk is emitted even when short (no token is dropped);
    ``overlap`` tokens are shared between consecutive chunks.
    """

    def eval(self, text: str, size: int, overlap: int):  # noqa: D102
        # NULL numeric args behave like NULL text (row contributes no
        # chunks) — `None <= 0` raised an opaque TypeError (review r7)
        if text is None or size is None or overlap is None or size <= 0:
            return
        if overlap >= size or overlap < 0:
            # negative overlap would make step > size and silently drop
            # the tokens between windows, violating the contract above
            raise ValueError("overlap must be in [0, size)")
        toks = text.split()
        step = size - overlap
        i = 0
        chunk_id = 0
        while i < len(toks):
            window = toks[i : i + size]
            yield chunk_id, len(window), " ".join(window)
            chunk_id += 1
            if i + size >= len(toks):
                break
            i += step


def register_udtfs(spark: SparkSession) -> list[str]:
    """Register engine UDTFs on the session; returns registered names."""
    spark.udtf.register("text_chunks", TextChunks)
    return ["text_chunks"]
