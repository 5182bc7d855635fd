from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from one_stop_cdc_ingestion_toolkit_spark.catalog import TABLES
from one_stop_cdc_ingestion_toolkit_spark.session import get_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_session("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    from one_stop_cdc_ingestion_toolkit_spark.oracle import duck_connect

    con = duck_connect(SF_DIR, TABLES)
    yield con
    con.close()


def fold_order_embeddings(spark, dim: int = 64):
    """Embeddings whose ±1-signed projection sums depend on fold order,
    as a Spark frame and as a DuckDB ``embeddings`` table.

    Each row holds 1e30, ±1e30 and ±1 next to each other (at the head,
    or mirrored at the tail) and zeros elsewhere. Per plane, one of the
    ±1e30 variants cancels the 1e30 exactly: a fold that adds the two
    first keeps the ±1, a fold that adds ±1 to either first absorbs it.
    Left to right and right to left therefore give different doubles,
    which float32 corpus rows never do: their ±1 sums over 64 dims are
    exact in doubles."""
    import itertools

    import duckdb

    x = 1e30
    rows = []
    for k, (e1, e2) in enumerate(itertools.product((x, -x), (1.0, -1.0))):
        head = [x, e1, e2] + [0.0] * (dim - 3)
        rows += [(9001 + k, head), (9101 + k, head[::-1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    return df, con


def docs_dir(spark, tmp_path, rows):
    """Write ``rows`` as a one-file documents.parquet fixture under
    ``tmp_path``; returns the directory to pass as ``sf_dir``."""
    path = str(tmp_path / "fix")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{path}/documents.parquet")
    return path
