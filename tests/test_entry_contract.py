"""Driver-contract invariants for __spark_entry__: every oracle has a
matching query, and oracle column names equal the Spark result columns
(the driver's value-hash sorts by column name, so a mismatch silently
breaks comparison)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                  f"'{SF_DIR}/{t}.parquet'")
    return c


def test_every_oracle_has_a_query():
    qs = entry.queries()
    extra = set(entry.oracle_sql()) - set(qs)
    assert not extra, f"oracles without queries: {extra}"


def test_every_query_has_an_oracle():
    """queries() is every q_<name> of the module, and each has exactly
    one _sql_<name>."""
    names = [k[2:] for k in vars(entry) if k.startswith("q_")]
    assert list(entry.queries()) == names
    assert len(names) == 218
    missing = [n for n in names if not callable(getattr(entry, f"_sql_{n}",
                                                        None))]
    assert not missing, f"queries without oracles: {missing}"
    assert list(entry.oracle_sql()) == names


def test_bench_headline_is_queries_minus_exclusions():
    import bench
    qs = entry.queries()
    assert set(bench._EXCLUDE_REASONS) <= set(qs)
    assert bench.HEADLINE == [n for n in qs
                              if n not in bench._EXCLUDE_REASONS]
    assert len(bench.HEADLINE) == 214


def test_minhash_oracle_follows_mh_params(monkeypatch):
    """The oracle takes its hash and band counts from mh_params, as the
    query does: 128 hashes in rows of 8 give 16 bands of 8 rows."""
    monkeypatch.setattr(entry, "mh_params", lambda n_docs: (128, 8))
    sql = entry._sql_minhash_neardup()
    assert "(127, " in sql and "(128, " not in sql
    assert "generate_series(0, 15)" in sql
    assert "s[band * 8 + 8]" in sql and "s[band * 8 + 9]" not in sql


def test_oracle_sql_parses_and_columns_match(spark, con):
    qs = entry.queries()
    for name, sql in entry.oracle_sql().items():
        oracle_cols = [d[0] for d in
                       con.execute(f"SELECT * FROM ({sql}) LIMIT 0")
                       .description]
        spark_cols = qs[name](spark, SF_DIR).columns
        assert sorted(oracle_cols) == sorted(spark_cols), \
            f"{name}: oracle {sorted(oracle_cols)} != spark {sorted(spark_cols)}"


def test_entry_returns_rows(spark):
    df = entry.entry(spark)
    assert df.count() > 0
    assert df.columns == ["tile_x", "tile_y", "n_pages", "n_domains"]
