"""Driver-contract smoke tests: entry() and queries() vs oracle_sql()."""

from __future__ import annotations

import duckdb

import __spark_entry__ as entrymod

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"zone_id", "page_count", "n_domains"} <= set(df.columns)


def test_queries_have_oracles_and_run(spark, sf_dir):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # every oracle key must be a query key
    assert set(oracles) <= set(qs)
    # a fast representative subset runs + matches duckdb at sf0.001
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")
    for name in ["grid_counts", "tag_pivot", "token_count", "dedup_exact"]:
        spdf = qs[name](spark, sf_dir).toPandas()
        opdf = con.execute(oracles[name]).df()
        assert len(spdf) == len(opdf), name
        sc, oc = sorted(spdf.columns), sorted(opdf.columns)
        assert sc == oc, name
        a = sorted(map(tuple, spdf[sc].astype(str).values.tolist()))
        b = sorted(map(tuple, opdf[oc].astype(str).values.tolist()))
        assert a == b, name
