"""Replicates the driver's DuckDB-oracle correctness gate locally.

For every ``queries()`` entry with an ``oracle_sql()`` pair: run the Spark
query and the DuckDB SQL on the same parquet tables, then compare
row count, sorted column names, and an order-insensitive value digest
(rows stringified with rounded floats, sorted, hashed).
"""

import hashlib
import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

from tests.conftest import TESTDATA_ROOT

SF_DIR = os.path.join(TESTDATA_ROOT, "sf0.001")
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    return str(v)


def _digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


@pytest.fixture(scope="module")
def ducks():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


ORACLES = entry_mod.oracle_sql()
ALL_QUERIES = entry_mod.queries()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_driver_window_is_priority():
    # the driver checks the first 50 names of queries(); _PRIORITY is
    # that window, so it must hold exactly 50 names and lead queries()
    from solarboat_data_pipeline_spark.driver_queries import _PRIORITY

    assert len(_PRIORITY) == 50
    assert list(ALL_QUERIES)[:50] == _PRIORITY


@pytest.mark.parametrize("name", sorted(ALL_QUERIES))
def test_query_matches_oracle(spark, ducks, name):
    q = ALL_QUERIES[name]
    sdf = q(spark, SF_DIR)
    srows = sdf.collect()
    scols = sdf.columns

    if name not in ORACLES:
        # rows-only contract: must run and return a stable schema
        assert len(scols) > 0
        assert len(srows) >= 0
        return

    res = ducks.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row counts differ"
    sd = _digest(scols, [[r[c] for c in scols] for r in srows])
    dd = _digest(dcols, drows)
    assert sd == dd, f"{name}: value digest mismatch"
