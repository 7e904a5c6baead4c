"""Public plan-shape API."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from db_spark import plans
from db_spark.llm.text import spread_scan
from db_spark.sources import read_table


def test_plan_shape_counts_joins_and_exchanges(spark):
    a = spark.range(0, 1000).select(F.col("id").alias("k"),
                                    (F.col("id") % 7).alias("g"))
    b = spark.range(0, 10).select(F.col("id").alias("k"),
                                  F.lit("x").alias("name"))
    df = a.join(F.broadcast(b), "k").groupBy("g").count()
    shape = plans.plan_shape(df)
    assert shape["broadcast_hash_joins"] == 1
    assert shape["cartesian_products"] == 0
    assert shape["exchanges"] >= 1  # the groupBy shuffle


def test_plan_shape_counts_nodes_before_and_after_execution(spark):
    """One groupBy shuffle is one exchange: a column named like a node
    (Exchange_rate) is not counted, and an executed adaptive plan is
    walked once (its final plan), not final and initial plan both."""
    df = spark.range(0, 100).groupBy(
        (F.col("id") % 3).alias("Exchange_rate")).count()
    assert plans.plan_shape(df)["exchanges"] == 1
    df.collect()
    assert plans.plan_shape(df)["exchanges"] == 1


def test_assert_scale_safe_flags_cartesian(spark):
    a = spark.range(0, 5)
    b = spark.range(0, 5).select(F.col("id").alias("j"))
    # force the cartesian strategy (a tiny crossJoin would otherwise
    # plan as a broadcast nested loop, which the guard permits)
    cj = a.join(b.hint("shuffle_replicate_nl"), F.lit(True))
    with pytest.raises(AssertionError, match="CartesianProduct"):
        plans.assert_scale_safe(cj)


def test_assert_scale_safe_budget_and_smj(spark):
    a = spark.range(0, 100).select(F.col("id").alias("k"))
    shuffled = a.repartition(8, "k")
    ok = plans.assert_scale_safe(shuffled, max_exchanges=3)
    assert 1 <= ok["exchanges"] <= 3
    with pytest.raises(AssertionError, match="exchanges"):
        plans.assert_scale_safe(shuffled, max_exchanges=0)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    """A one-file scan: fewer input files than the session's cores."""
    df = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert 0 < len(df.inputFiles()) < spark.sparkContext.defaultParallelism
    return df


def test_spread_scan_spreads_a_plain_scan(docs):
    assert plans.plan_shape(docs)["exchanges"] == 0
    out = spread_scan(docs, "doc_id")
    assert out is not docs
    assert plans.plan_shape(out)["exchanges"] == 1


@pytest.mark.parametrize("shuffled", [
    lambda d: d.repartition(4),
    lambda d: d.groupBy("doc_id").count(),
    lambda d: d.join(d.select("doc_id"), "doc_id"),
    lambda d: d.withColumn(
        "_r", F.row_number().over(Window.orderBy("doc_id"))),
    lambda d: d.distinct(),
    lambda d: d.orderBy("doc_id"),
], ids=["repartition", "groupBy", "join", "window", "distinct", "orderBy"])
def test_spread_scan_skips_shuffled_input(docs, shuffled):
    df = shuffled(docs)
    assert spread_scan(df) is df


def test_spread_scan_skips_unknown_input_files(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert df.inputFiles() == []
    assert spread_scan(df) is df


def test_spread_scan_ignores_node_words_in_column_names(docs):
    """The gate reads plan NODES: a column named like a node (Sort_key)
    is still a plain scan and gets spread."""
    df = docs.select(F.col("doc_id").alias("Sort_key"), "text")
    out = spread_scan(df, "Sort_key")
    assert out is not df
    assert plans.plan_shape(out)["exchanges"] == 1
