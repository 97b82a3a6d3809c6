"""Round-13 gate queries under the exact driver-gate comparison (row
count + schema names + column-sorted, row-sorted value equality between
the Spark query and its DuckDB oracle on the fixture parquet), plus the
registration/rotation assertions every registration round pins."""

import duckdb
import pandas as pd
import pytest

from spdb_spark.suite_crawl import STAGED_R13
from tests.conftest import SF_DIR

ALL_R13 = dict(STAGED_R13)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _oracle(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con.execute(sql).fetchdf()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(sorted(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", list(ALL_R13))
def test_r13_gate_exact(gate_frame, name):
    fn, sql = ALL_R13[name]
    got = _canon(gate_frame(name, fn))
    want = _canon(_oracle(sql))
    assert list(got.columns) == list(want.columns), name
    assert len(got) == len(want), name
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            import numpy as np

            av = a.astype(float).values
            bv = b.astype(float).values
            # exact float equality, with NULL (NaN) matching NULL — the
            # driver compare's equal_nan semantics
            assert ((av == bv) | (np.isnan(av) & np.isnan(bv))).all(), (
                name,
                c,
            )
        else:
            assert (a.values == b.values).all(), (name, c)


def test_r13_registration_landed():
    """The r13 entry lives in the registry with its exact (fn, sql)
    pair; until a CORRECTNESS file records it, the rotation places it
    inside the driver's next 50-query window."""
    import spdb_spark.suite as suite

    for name, (fn, sql) in ALL_R13.items():
        assert suite._BASE.get(name) == (fn, sql), f"not registered: {name}"
        assert callable(fn) and isinstance(sql, str) and sql.strip()

    last = suite._last_checked_round()
    window = list(suite.REGISTRY)[:50]
    for name in ALL_R13:
        if last.get(name, 0) == 0:
            assert name in window, f"{name} missed the next rotation window"


def test_ranked_stream_shares_batch_oracle():
    """The stream gate's oracle IS the batch ranked gate's oracle — the
    shared-oracle pattern that makes the driver compare itself the
    stream == batch proof."""
    from spdb_spark.suite_crawl import SQL_CRAWL_CORPUS_RANKED, STAGED_R12

    assert STAGED_R13["llm_crawl_corpus_ranked_stream"][1] is (
        SQL_CRAWL_CORPUS_RANKED
    )
    assert STAGED_R12["llm_crawl_corpus_ranked"][1] is SQL_CRAWL_CORPUS_RANKED
