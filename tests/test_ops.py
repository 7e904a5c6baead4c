"""Operator-parity unit tests on tiny inline DataFrames (SURVEY §2.1)."""

import pytest
from pyspark.sql import functions as F

from db_spark.ops import Q, SortDirection


@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [
            ("alice", 34, 10.5, True),
            ("bob", 12, 3.25, False),
            ("carol", 34, 7.0, True),
            ("dave", 51, 0.0, False),
            ("erin", 12, 9.9, True),
        ],
        ["name", "age", "score", "active"],
    )


def test_filter_closure_equiv(people):
    got = Q(people).filter(F.col("active")).collect()
    assert sorted(r["name"] for r in got) == ["alice", "carol", "erin"]


def test_select_projection_positional(people):
    got = Q(people).select(0, 2).df
    assert got.columns == ["name", "score"]


def test_take(people):
    assert len(Q(people).take(3).collect()) == 3


def test_skip(people):
    # our skip is a real OFFSET (reference bug documented SURVEY §2.1 #9)
    got = Q(people).in_memory_sort("name").skip(3).collect()
    assert [r["name"] for r in got] == ["dave", "erin"]


def test_in_memory_sort_named_semantics(people):
    asc = Q(people).in_memory_sort("age", SortDirection.ASCENDING).collect()
    assert [r["age"] for r in asc] == [12, 12, 34, 34, 51]
    desc = Q(people).in_memory_sort("age", SortDirection.DESCENDING).collect()
    assert [r["age"] for r in desc] == [51, 34, 34, 12, 12]


def test_distinct(people):
    assert Q(people).select("age").distinct().count() == 3


def test_concat(people):
    assert Q(people).concat(people).count() == 10


def test_nested_loop_join(spark, people):
    right = spark.createDataFrame([(34, "mid"), (51, "old")], ["age_key", "bucket"])
    got = Q(people).nested_loop(Q(right), 1, 0).df
    # left fields ++ right fields (Row::combine, log_entry.rs:153-158)
    assert got.columns == ["name", "age", "score", "active", "age_key", "bucket"]
    assert got.count() == 3


def test_hash_match_broadcast(spark, people):
    right = spark.createDataFrame([(34, "mid")], ["age_key", "bucket"])
    q = Q(people).hash_match(Q(right), "age", "age_key", broadcast_build=True)
    assert q.count() == 2
    plan = q.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_select_builder_group_agg(people):
    got = (
        Q(people)
        .select(builder=lambda b: b.column("age")
                .sum_value("score", "total")
                .count("n")
                .max_value("score", "mx")
                .min_value("score", "mn"))
        .in_memory_sort("age")
        .collect()
    )
    assert [(r["age"], r["n"]) for r in got] == [(12, 2), (34, 2), (51, 1)]
    by_age = {r["age"]: r for r in got}
    assert by_age[34]["total"] == 17.5
    assert by_age[34]["mx"] == 10.5
    assert by_age[34]["mn"] == 7.0  # intended min semantics (bug not copied)


def test_select_builder_global_agg(people):
    got = Q(people).select(builder=lambda b: b.count("n").sum_value("age", "s")).collect()
    assert got[0]["n"] == 5 and got[0]["s"] == 143


def test_count_when_truthiness(people):
    # intended decimal truthiness: |d| >= eps counts (reference inverts)
    got = Q(people).select(
        builder=lambda b: b.count_when("active", "n_active")
        .count_when("score", "n_score")
    ).collect()
    assert got[0]["n_active"] == 3
    assert got[0]["n_score"] == 4  # dave's 0.0 is falsy


def test_constant_scan(spark):
    q = Q.constant_scan(spark, [(1, "a"), (2, "b")], "id int, tag string")
    assert q.count() == 2


def test_outer_semi_anti_joins(spark, people):
    right = spark.createDataFrame([(34, "mid")], ["age_key", "bucket"])
    assert Q(people).join(right, F.col("age") == F.col("age_key"), "left").count() == 5
    assert Q(people).join(right, F.col("age") == F.col("age_key"), "left_semi").count() == 2
    assert Q(people).join(right, F.col("age") == F.col("age_key"), "left_anti").count() == 3


def test_deserialize_positional(people):
    class P:
        def __init__(self, name, age, score, active):
            self.name, self.age = name, age

    out = Q(people).in_memory_sort("name").take(1).deserialize(P)
    assert out[0].name == "alice" and out[0].age == 34


def test_deserialize_trailing_column_tolerance(people):
    """Parity with reference object_deserializer.rs:166-179 (tested at
    :229-276): extra trailing row columns are ignored; missing required
    fields raise."""
    import pytest

    class Two:
        def __init__(self, name, age):
            self.name, self.age = name, age

    # people has 4 columns; Two takes the first 2 — extras ignored
    out = Q(people).in_memory_sort("name").take(1).deserialize(Two)
    assert out[0].name == "alice" and out[0].age == 34

    class Six:
        def __init__(self, a, b, c, d, e, f):
            pass

    with pytest.raises(ValueError, match="needs 6 fields"):
        Q(people).take(1).deserialize(Six)

    # optional trailing params: satisfied by available columns, rest default
    class Five:
        def __init__(self, name, age, score, active, extra=None):
            self.name, self.extra = name, extra

    out = Q(people).in_memory_sort("name").take(1).deserialize(Five)
    assert out[0].name == "alice" and out[0].extra is None


def test_eq_values_reference_float_semantics():
    from db_spark.functions import eq_values

    nan = float("nan")
    assert eq_values(nan, nan)            # reference: NaN == NaN
    assert eq_values(1.0, 1.0 + 5e-7)     # |a-b| < 1e-6
    assert not eq_values(1.0, 1.0 + 2e-6)
    assert not eq_values(nan, 1.0)
    assert eq_values(float("inf"), float("inf"))
    assert eq_values([1.0, nan, "x"], (1.0 + 1e-7, nan, "x"))
    assert not eq_values([1.0], [1.0, 2.0])
    assert eq_values(3, 3) and not eq_values("a", "b")


def test_eps_eq_reference_float_semantics(spark):
    """The Column form of eq_values' float rule: NaN == NaN, |a-b| <
    eps, and NULL stays NULL like any Spark comparison."""
    from db_spark.functions import eps_eq

    nan = float("nan")
    rows = [(nan, nan, True), (1.0, 1.0 + 5e-7, True),
            (1.0, 1.0 + 2e-6, False), (nan, 1.0, False),
            (1.0, nan, False), (0.0, -0.0, True), (None, 1.0, None)]
    df = spark.createDataFrame(rows, "a double, b double, want boolean")
    got = df.select(eps_eq(F.col("a"), F.col("b")).alias("eq"),
                    eps_eq(F.col("a"), F.col("b"), eps=1e-5).alias("loose"),
                    "want").collect()
    assert [r.eq for r in got] == [w for _, _, w in rows]
    assert got[2].loose  # 2e-6 apart is equal at eps=1e-5


def test_pivot(people):
    got = Q(people).pivot(["active"], "age", [12, 34, 51], F.count(F.lit(1))).collect()
    by_active = {r["active"]: r for r in got}
    assert by_active[True]["34"] == 2 and by_active[True]["12"] == 1
    assert by_active[False]["51"] == 1 and by_active[False]["34"] is None


def test_unpivot(people):
    got = Q(people.select("name", F.col("age").cast("double").alias("age"), "score")) \
        .unpivot(["name"], ["age", "score"]).collect()
    vals = {(r["name"], r["metric"]): r["value"] for r in got}
    assert vals[("alice", "age")] == 34.0 and vals[("alice", "score")] == 10.5
    assert len(got) == 10


def test_filter_accepts_sql_string(people):
    got = Q(people).filter("age > 30 AND active").collect()
    assert sorted(r["name"] for r in got) == ["alice", "carol"]


def test_approx_fast_paths(spark):
    from db_spark.functions import approx_distinct, approx_quantiles

    df = spark.createDataFrame([(i % 100, float(i)) for i in range(10000)],
                               "k long, v double")
    n = df.agg(approx_distinct(F.col("k"), "nd")).collect()[0]["nd"]
    assert abs(n - 100) <= 10  # 5% rsd target
    q50, q95 = approx_quantiles(df, "v", [0.5, 0.95])
    assert abs(q50 - 5000) < 200 and abs(q95 - 9500) < 200


def test_storage_sql_surface(spark, tmp_path):
    from db_spark.engine import Storage

    st = Storage(spark, str(tmp_path))
    st.attach_dir("/root/testdata/sf0.001", ["region", "nation"])
    out = st.sql(
        "SELECT r_name, COUNT(*) AS n FROM nation "
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name").collect()
    assert len(out) == 5 and sum(r["n"] for r in out) == 25


def test_write_parquet_partitioned(spark, tmp_path):
    import os

    from db_spark.sources import write_parquet

    df = spark.createDataFrame([(i, i % 3, f"v{i}") for i in range(30)],
                               "k long, part int, v string")
    p = str(tmp_path / "pt")
    write_parquet(df, p, partition_by=["part"])
    assert sorted(d for d in os.listdir(p) if d.startswith("part=")) == \
        ["part=0", "part=1", "part=2"]
    back = spark.read.parquet(p)
    assert back.count() == 30


def test_dboperator_trait_tail(spark):
    """size_hint/cost_hint/reset parity (reference operators/mod.rs:11-40)."""
    from db_spark.ops import Q

    q = Q.constant_scan(spark, [(1,), (2,), (3,)], "x long")
    assert q.reset() is q                      # DataFrame = plan, not cursor
    lo, hi = q.size_hint()
    assert lo >= 0 and (hi is None or hi >= lo)
    cost = q.cost_hint()
    assert cost is None or cost > 0
