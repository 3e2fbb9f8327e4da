from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from kg.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: boots a second JVM / long-running end-to-end check"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="kg-tests", cores=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    # a query left running keeps its Python workers busy and slows every
    # test after it (tests stop theirs through await_then_stop)
    left = [q.id for q in s.streams.active]
    for q in s.streams.active:
        q.stop()
    assert not left, f"streaming queries left running: {left}"


def await_then_stop(query, timeout):
    """Wait for a streaming query (up to ``timeout`` s), then stop it even
    if it has not terminated. Returns awaitTermination's result."""
    try:
        return query.awaitTermination(timeout)
    finally:
        query.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    # every table the driver pre-registers (the round-5 oracle pins for
    # the demoted rotation rows reach beyond documents/embeddings/events)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con


def assert_df_equal(spark_df, duck_rel_or_pdf):
    """Driver-compare mirror: sort columns by name, sort rows, exact values."""
    import pandas as pd

    a = spark_df.toPandas()
    b = duck_rel_or_pdf.df() if hasattr(duck_rel_or_pdf, "df") else duck_rel_or_pdf
    a = a.reindex(sorted(a.columns), axis=1)
    b = b.reindex(sorted(b.columns), axis=1)
    assert list(a.columns) == list(b.columns), (list(a.columns), list(b.columns))
    a = a.sort_values(list(a.columns)).reset_index(drop=True)
    b = b.sort_values(list(b.columns)).reset_index(drop=True)
    assert a.shape == b.shape, (a.shape, b.shape)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
