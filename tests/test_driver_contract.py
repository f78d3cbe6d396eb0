"""Local replica of the driver's correctness gate: run every
``queries()[name]`` against its ``oracle_sql()[name]`` in DuckDB at
sf0.01 and compare row count + column names + order-insensitive value
multiset.  Rows-only entries are smoke-checked for schema stability and
non-failure.
"""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style float normalization: fixed decimals
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def _multiset(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = [
        "|".join(_norm_cell(r[c]) for c in cols)
        for _, r in df_pandas[cols].iterrows()
    ]
    return sorted(rows)


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, duck, name):
    assert name in QUERIES, f"oracle {name} has no queries() entry"
    spark_df = QUERIES[name](spark, SF_DIR).toPandas()
    duck_df = duck.execute(ORACLES[name]).fetchdf()
    assert sorted(spark_df.columns) == sorted(duck_df.columns), (
        f"{name}: column mismatch {sorted(spark_df.columns)} vs "
        f"{sorted(duck_df.columns)}"
    )
    assert len(spark_df) == len(duck_df), (
        f"{name}: row count {len(spark_df)} vs {len(duck_df)}"
    )
    ms, md = _multiset(spark_df), _multiset(duck_df)
    if ms != md:
        diff = [(a, b) for a, b in zip(ms, md) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


@pytest.mark.parametrize(
    "name", sorted(set(QUERIES.keys()) - set(ORACLES.keys()))
)
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_registry_at_driver_recording_cap():
    """The driver records AT MOST 50 queries in dict order (observed in
    round 2: the 51st entry, kg_nodes, silently vanished from the
    CORRECTNESS artifact).  The registry is deliberately merged to sit
    exactly AT the cap — adding a 51st entry must fail HERE, loudly, so
    the author merges queries (the sanitize/json_extract column-merge
    pattern, SURVEY.md §10 #2) instead of silently losing a correctness
    row."""
    assert len(QUERIES) == 50, (
        f"queries() has {len(QUERIES)} entries; the driver records at most "
        "50 — merge entries instead of appending"
    )
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("scan_parts, spreads", [(1, True), (4, False)])
def test_spread_falls_back_to_scan_partitions(tmp_path, scan_parts, spreads):
    """When the row-group probe cannot read an input (a non-local store,
    or a local file that is not parquet), ``_spread`` decides from the
    scan's own partition count instead of assuming the input splits."""
    from unittest import mock

    junk = tmp_path / "junk.parquet"
    junk.write_bytes(b"not parquet")
    spark = mock.Mock()
    spark.sparkContext.defaultParallelism = 8
    for path in ("s3a://bucket/t.parquet", f"file:{junk}"):
        df = mock.Mock()
        df.inputFiles.return_value = [path]
        df.rdd.getNumPartitions.return_value = scan_parts
        with mock.patch.dict(entry_mod._SPREAD_CACHE, clear=True):
            out = entry_mod._spread(spark, df)
        if spreads:
            df.repartition.assert_called_once_with(8)
            assert out is df.repartition.return_value
        else:
            df.repartition.assert_not_called()
            assert out is df


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert {"url", "score", "content", "context"}.issubset(set(df.columns))
