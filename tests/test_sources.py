"""Source format fallbacks: the catalog binds to whatever the lake
holds — parquet primary, CSV/JSON accepted (reference reads JDBC
row stores; SURVEY §2.1 S1)."""

import os

import pytest

from mondrian_rest_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def multi_fmt_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("fmts")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", None)],
        ["id", "name", "score"])
    df.coalesce(1).write.option("header", "true").csv(str(d / "t_csv.csv"))
    df.coalesce(1).write.json(str(d / "t_json.json"))
    df.write.parquet(str(d / "t_parquet.parquet"))
    return str(d)


def test_parquet_primary(spark, multi_fmt_dir):
    assert load_table(spark, multi_fmt_dir, "t_parquet").count() == 3


def test_csv_fallback_with_schema_inference(spark, multi_fmt_dir):
    df = load_table(spark, multi_fmt_dir, "t_csv")
    assert df.count() == 3
    types = dict(df.dtypes)
    assert types["id"] == "int"
    assert types["score"] == "double"


def test_json_fallback(spark, multi_fmt_dir):
    df = load_table(spark, multi_fmt_dir, "t_json")
    assert df.count() == 3
    assert {r.name for r in df.collect()} == {"a", "b", "c"}


def test_missing_table_clear_error(spark, multi_fmt_dir):
    with pytest.raises(FileNotFoundError, match="no table file"):
        load_table(spark, multi_fmt_dir, "nope")


def test_engine_runs_on_csv_tables(spark, tmp_path_factory):
    """A whole cube over CSV-backed tables: the planner is
    format-agnostic end to end."""
    import pyspark.sql.functions as F

    from mondrian_rest_spark import tpch
    from mondrian_rest_spark.planner import aggregate
    from mondrian_rest_spark.query import QueryModel

    d = tmp_path_factory.mktemp("csv_engine")
    src = "/root/testdata/sf0.001"
    for t in ("region", "nation", "customer", "orders"):
        (load_table(spark, src, t).coalesce(1).write
         .option("header", "true")
         .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
         .csv(str(d / f"{t}.csv")))
    qm = QueryModel(cube="Orders", measures=["Order Count"],
                    drilldown=["Customer.Region"])
    got = {r.cust_region: r.order_count
           for r in aggregate(spark, str(d), tpch.CATALOG, qm).collect()}
    exp = {r.cust_region: r.order_count
           for r in aggregate(spark, src, tpch.CATALOG, qm).collect()}
    assert got == exp


def test_load_table_memoizes_plan_object(spark):
    """Repeated loads of an unchanged parquet table return the SAME
    immutable plan object (r14 optimization: building a parquet
    DataFrame costs a JVM schema-inference pass per call, and the
    engine loads 2-8 tables per query)."""
    sf = "/root/testdata/sf0.001"
    assert load_table(spark, sf, "region") is load_table(spark, sf, "region")


def test_load_table_memo_invalidates_on_rewrite(spark, tmp_path_factory):
    """The memo keys on file mtime: rewriting a table drops the stale
    plan, so a changed lake is never served from a dead plan."""
    d = tmp_path_factory.mktemp("memo_inval")
    p = str(d / "t.parquet")
    spark.createDataFrame([(1,), (2,)], ["x"]).write.parquet(p)
    assert load_table(spark, str(d), "t").count() == 2
    import os
    import time

    time.sleep(0.01)
    spark.createDataFrame([(1,), (2,), (3,)], ["x"]).write.mode(
        "overwrite").parquet(p)
    os.utime(p)   # ensure a visible mtime bump on coarse filesystems
    assert load_table(spark, str(d), "t").count() == 3


def test_maybe_rebalance_scopes_by_layout(spark, monkeypatch):
    """maybe_rebalance (r14 optimization, guide §2.5) repartitions a
    scan ONLY when the parquet layout has fewer row groups than the
    session has cores AND the input is small — the test layout
    qualifies; a layout with enough native splits (or at production
    size) must pass through untouched, so cluster plans never carry
    the extra exchange."""
    from mondrian_rest_spark.sources import registry
    from mondrian_rest_spark.sources.registry import maybe_rebalance

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    real = registry._scan_layout(os.path.join(sf, "documents.parquet"))

    def layout(record):
        monkeypatch.setattr(registry, "_scan_layout", lambda path: record)

    # a qualifying layout (small, 1 row group, enough rows):
    # rebalanced to defaultParallelism, rows untouched
    layout((real[0], 1_000_000, 1))
    out = maybe_rebalance(spark, sf, "documents", docs)
    assert out is not docs
    assert (out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)
    assert sorted(r.doc_id for r in out.collect()) == \
        sorted(r.doc_id for r in docs.collect())

    # a layout whose row-group count already covers the cores: no-op
    layout((real[0], 1_000_000, 10_000))
    assert maybe_rebalance(spark, sf, "documents", docs) is docs
    # production-size input (> 512 MB): no-op
    layout((1 << 40, 1_000_000, 1))
    assert maybe_rebalance(spark, sf, "documents", docs) is docs
    # tiny input (the shuffle costs more than it spreads): no-op
    layout(real)
    assert maybe_rebalance(spark, sf, "documents", docs) is docs
