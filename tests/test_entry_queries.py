"""Self-check of the driver contract: every queries() entry has an
oracle_sql() twin, and its Spark result matches that twin under the driver's
comparison (row count + column names + order-insensitive values) on sf0.01."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    return str(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert "lang" in df.columns and "bytes" in df.columns


@pytest.fixture(scope="module")
def oracles():
    # built once: oracle_sql() reads the sf0.01 tables for its literal
    # twin-backed VALUES, seconds per call
    return entry_mod.oracle_sql()


def test_every_query_has_an_oracle(oracles):
    """Every queries() entry runs in test_oracle_match below, so no
    separate run-only pass is needed."""
    assert set(entry_mod.queries()) == set(oracles)


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_oracle_match(spark, ddb, oracles, name):
    fn = entry_mod.queries()[name]
    sdf = fn(spark, SF_DIR)
    srows = sdf.collect()
    scols = sdf.columns

    ores = ddb.sql(oracles[name])
    ocols = [c for c in ores.columns]
    orows = ores.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} != {len(orows)}"
    sc, sv = _canon(scols, [[r[c] for c in scols] for r in srows])
    oc, ov = _canon(ocols, [list(r) for r in orows])
    # align oracle column order to spark's sorted order
    if sv != ov:
        diffs = [i for i, (a, b) in enumerate(zip(sv, ov)) if a != b][:5]
        raise AssertionError(
            f"{name}: value mismatch at rows {diffs}; "
            f"spark={[sv[i] for i in diffs]} oracle={[ov[i] for i in diffs]}"
        )
