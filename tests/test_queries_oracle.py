"""Every registry query vs its DuckDB oracle — the same comparison the driver
runs (row count + column names + order-insensitive values), at sf0.001 for
speed (the driver uses sf0.01)."""

import duckdb
import pytest

from od_database_spark.queries import REGISTRY

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'"
        )
    return con


def normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 4)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    fn, sql = REGISTRY[name]
    df = fn(spark, sf_dir)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]

    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    assert len(spark_rows) == len(duck_rows), (len(spark_rows), len(duck_rows))
    ns, nd = normalize(spark_rows, spark_cols), normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(ns, nd) if a != b]
    assert not mismatches, mismatches[:3]


def test_filtered_search_page_independent_of_partitioning(spark, sf_dir, duck):
    """filtered_search's window order is total, so its page is one set of
    rows on any shuffle partitioning, and it is the DuckDB oracle's page."""
    fn, sql = REGISTRY["filtered_search"]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    pages = []
    try:
        for n in ("1", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            pages.append(sorted(tuple(r) for r in fn(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(pages[0]) == 50
    assert pages[0] == pages[1]
    cols = fn(spark, sf_dir).columns
    duck_res = duck.execute(sql)
    duck_cols = [d[0] for d in duck_res.description]
    assert normalize(pages[0], cols) == normalize(duck_res.fetchall(), duck_cols)
