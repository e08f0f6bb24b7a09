"""Every ``__spark_entry__.queries()`` entry against its DuckDB twin.

Each twin in ``oracle_sql()`` runs on DuckDB over the same parquet
tables. A query matches when the column names, the row count and the
order-insensitive multiset of canonicalised rows all agree. Another
scale or a single query:

    SPARK_GRAFT_TEST_SF_DIR=/path/to/sf0.01 pytest tests/test_oracle.py -k name
"""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()
# Spark-hash signatures DuckDB cannot reproduce; their *_portable
# variants carry the twins. A new query without a twin fails below.
NO_TWIN = {"minhash_dedup", "simhash_dedup"}


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # kill -0.0 and ulp noise surviving upstream ROUND()s
        return f"{v + 0.0:.6g}"
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("T", " ")
    return str(v)


def row_key(row) -> str:
    return "|".join(canon(v) for v in row)


@pytest.fixture(scope="module")
def duck(spark, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    yield con
    con.close()
    # the hist_* builders persist their state frames; free them for the
    # tests that share this session
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    assert (name in ORACLES) != (name in NO_TWIN), "twin set changed"
    sdf = QUERIES[name](spark, sf_dir)
    scols = sdf.columns
    srows = sdf.collect()
    if name in NO_TWIN:
        assert srows
        return
    cur = duck.execute(ORACLES[name])
    assert scols == [d[0] for d in cur.description]
    orows = cur.fetchall()
    assert len(srows) == len(orows)
    skeys = sorted(row_key(r) for r in srows)
    okeys = sorted(row_key(r) for r in orows)
    diffs = [(s, o) for s, o in zip(skeys, okeys) if s != o][:3]
    assert not diffs, f"first diffs (spark, duckdb): {diffs}"
