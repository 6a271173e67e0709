"""Oracle parity of the fixed-k PageRank registry rows on the CSR engine.

Each row's Spark output must equal its unrolled-CTE DuckDB oracle with the
comparison ``tools/check_oracle.py`` applies: row count, column set, then
the order-insensitive ``canon()`` form.
"""

import inspect

import duckdb
import pytest

import __spark_entry__ as entrymod
from linkgraph.flagship import flagship
from linkgraph.io import TESTDATA_TABLES
from tools.check_oracle import canon

# the sf0.001 testdata that entry() smokes
SF_DIR = inspect.signature(flagship).parameters["sf_dir"].default


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    # An explicit cap makes a blow-up fail loudly (OutOfMemoryException)
    # instead of pressuring the host.  The host_pagerank and
    # rank_weighted_sample oracles (unrolled 5-step PageRank over the host
    # co-citation graph) need more than 6 GB at sf0.001: with DuckDB 1.0.0
    # on a 4-core host both fail at 6GB and pass at 6500MB (also at 1 thread
    # they fail at 5GB, so fewer threads do not lower the need).
    c.execute("SET memory_limit='6500MB'")
    c.execute("SET threads=2")
    for t in TESTDATA_TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield c
    c.close()


@pytest.mark.parametrize("name", [
    "pagerank_top10", "decayed_pagerank", "rank_stability",
    "host_pagerank", "rank_weighted_sample",
])
def test_fixed_k_pagerank_row_matches_oracle(spark, con, name):
    got = entrymod.queries()[name](spark, SF_DIR).toPandas()
    want = con.execute(entrymod.oracle_sql()[name]).df()
    assert len(got) == len(want)
    assert sorted(got.columns) == sorted(want.columns)
    assert canon(got).equals(canon(want))
