"""Round-12 gate queries under the exact driver-gate comparison (row
count + schema names + column-sorted, row-sorted value equality between
the Spark query and its DuckDB oracle on the fixture parquet), plus the
registration/rotation assertions every registration round pins."""

import duckdb
import pandas as pd
import pytest

from spdb_spark.suite_crawl import STAGED_R12
from spdb_spark.suite_llm import STAGED_R12_LLM
from tests.conftest import SF_DIR

ALL_R12 = {**STAGED_R12, **STAGED_R12_LLM}

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _oracle(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    # compressed materialization only packs intermediates; on the unrolled
    # unigram Viterbi SQL its statistics pass takes ~9x as long to plan as
    # the whole query takes to run without it (~60 s vs ~7 s on a 4-core
    # x86 host), and the result is identical
    con.execute("SET disabled_optimizers = 'compressed_materialization'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con.execute(sql).fetchdf()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(sorted(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", list(ALL_R12))
def test_r12_gate_exact(spark, name):
    fn, sql = ALL_R12[name]
    got = _canon(fn(spark, SF_DIR).toPandas())
    want = _canon(_oracle(sql))
    assert list(got.columns) == list(want.columns), name
    assert len(got) == len(want), name
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            assert (a.astype(float).values == b.astype(float).values).all(), (
                name,
                c,
            )
        else:
            assert (a.values == b.values).all(), (name, c)


def test_r12_registration_landed():
    """The r12 entries live in the registry with their exact (fn, sql)
    pairs; until a CORRECTNESS file records them, the rotation places
    them inside the driver's next 50-query window."""
    import spdb_spark.suite as suite

    for name, (fn, sql) in ALL_R12.items():
        assert suite._BASE.get(name) == (fn, sql), f"not registered: {name}"
        assert callable(fn) and isinstance(sql, str) and sql.strip()

    last = suite._last_checked_round()
    window = list(suite.REGISTRY)[:50]
    for name in ALL_R12:
        if last.get(name, 0) == 0:
            assert name in window, f"{name} missed the next rotation window"


def test_nav_block_leaves_extracted_text_unchanged(spark):
    """The ranked fixture's claim that adding the nav block changes no
    curation decision: main-text extraction of a linked payload equals
    that of the unlinked payload for every doc at the test SF."""
    from pyspark.sql import functions as F

    from spdb_spark.functions.html import html_main_text
    from spdb_spark.sources.warc import http_response_body
    from spdb_spark.suite_crawl import _crawl_warc_fixture

    def texts(links: bool):
        w = _crawl_warc_fixture(spark, SF_DIR, links=links)
        return (
            w.where(F.col("warc_type") == "response")
            .select(
                html_main_text(
                    http_response_body(F.col("payload"))
                ).alias("t")
            )
            .collect()
        )

    a = sorted(r.t for r in texts(False))
    b = sorted(r.t for r in texts(True))
    assert a == b
