"""Self-check of the driver contract: run every queries() entry on
Spark AND its oracle_sql() twin on DuckDB at sf0.01, then compare
row count, column names/order-insensitive values — a local replica of
the driver's CORRECTNESS gate."""

import hashlib
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from ctinexus_spark.demos import REFERENCE_DEMO_DIR

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["documents", "embeddings"]


@pytest.fixture(scope="module")
def ducks():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _value_hash(rows, colnames):
    """Order-insensitive value hash: sort columns by name, stringify,
    sort rows, md5."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon = sorted(
        "|".join(_cell(r[i]) for i in order)
        for r in rows
    )
    return hashlib.md5("\n".join(canon).encode()).hexdigest()


def _cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, list):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


# ie_demo_topk retrieves from the reference demonstration corpus, which
# is not shipped with this repository.
NEEDS_DEMO_CORPUS = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_DEMO_DIR), reason="reference demo corpus not available"
)
NAMES = [
    pytest.param(n, marks=NEEDS_DEMO_CORPUS) if n == "ie_demo_topk" else n
    for n in sorted(entry_mod.queries().keys())
]


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, ducks, name):
    sql = entry_mod.oracle_sql().get(name)
    assert sql is not None, f"{name}: no oracle_sql() twin"
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = ducks.sql(sql)
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    h_spark = _value_hash(spark_rows, spark_cols)
    h_duck = _value_hash(duck_rows, duck_cols)
    if h_spark != h_duck:
        # show a small diff for debugging
        s_set = {tuple(sorted(zip(spark_cols, map(_cell, r)))) for r in spark_rows}
        d_set = {tuple(sorted(zip(duck_cols, map(_cell, r)))) for r in duck_rows}
        only_s = list(s_set - d_set)[:3]
        only_d = list(d_set - s_set)[:3]
        pytest.fail(f"{name}: value-hash mismatch\nonly-spark: {only_s}\nonly-duck: {only_d}")


def test_every_query_has_exactly_one_oracle():
    """The two registries name the same queries: no orphan oracle is
    left behind by a deleted query and no query goes unchecked."""
    queries, oracles = set(entry_mod.queries()), set(entry_mod.oracle_sql())
    assert queries == oracles, (
        f"queries without oracle: {sorted(queries - oracles)}; "
        f"oracles without query: {sorted(oracles - queries)}"
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert {"subj", "pred", "obj", "source"} <= set(df.columns)
