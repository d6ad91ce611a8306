"""Loader smoke tests: every testdata table loads, events gets a real timestamp."""

from llmxmapreduce_spark import TABLES, load_table, load_tables

SF = "/root/testdata/sf0.001"


def test_all_tables_load(spark):
    dfs = load_tables(spark, SF)
    assert set(dfs) == set(TABLES)
    for name, df in dfs.items():
        assert df.count() > 0, name


def test_events_ts_is_timestamp(spark):
    ev = load_table(spark, SF, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    row = ev.selectExpr("min(ts) AS lo", "max(ts) AS hi").collect()[0]
    assert row["lo"].year == 2024

