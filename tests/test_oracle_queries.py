"""Every driver query (``testdata_queries.QUERIES``) against its DuckDB
oracle SQL on the sf0.001 testdata, compared as ``scripts/check_oracle.py``
compares them: column names, row count and the order-insensitive value
hash."""

from __future__ import annotations

import duckdb
import pytest

from osmi_water_spark.plans.testdata_queries import ORACLES, QUERIES
from scripts.check_oracle import TABLES, norm_cell, table_hash
from test_plans import SF  # the sf0.001 testdata the plan audits read


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, con, name):
    sdf = QUERIES[name](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    if table_hash(srows, sdf.columns) != table_hash(drows, dcols):
        ss = {tuple(norm_cell(v) for v in r) for r in srows}
        dd = {tuple(norm_cell(v) for v in r) for r in drows}
        pytest.fail(f"value hash mismatch: spark-only {sorted(ss - dd)[:3]}, "
                    f"duckdb-only {sorted(dd - ss)[:3]}")
