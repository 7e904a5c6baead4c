"""Codegen canary. The test session runs interpreted (conftest turns
whole-stage codegen off for speed), so a fault that only shows under
codegen would pass the whole suite. This one smoke test turns codegen
back on at runtime and checks that an MVCC snapshot and an
expression-heavy plan give the same rows compiled and interpreted."""

from pyspark.sql import functions as F

from db_spark.engine import Storage, StorageConfig
from db_spark.functions import ascii_lower, exact_sum
from db_spark.table import uuid7

_CODEGEN = {"spark.sql.codegen.wholeStage": "true",
            "spark.sql.codegen.factoryMode": "FALLBACK"}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_codegen_matches_interpreted(spark, tmp_path):
    c = Storage(spark, str(tmp_path / "cg"),
                StorageConfig(max_entries=64)).get_collection("t")
    schema = "_id string, name string, qty int"
    c.set_objects(None, spark.createDataFrame(
        [("a", "v1", 1), ("b", "v1", 2), ("c", "v1", 3)], schema))
    t_commit = uuid7()
    c.set_objects(t_commit, spark.createDataFrame(
        [("a", "v2", 10), ("d", "v1", 4)], schema))
    c.commit(t_commit)
    c.set_objects(uuid7(), spark.createDataFrame(  # pending: invisible
        [("e", "v1", 5)], schema))
    c.delete_objects(None, ["b"])
    docs = spark.createDataFrame(
        [(1, "The quick brown fox's den", 10.125),
         (2, "Jumps OVER the lazy dog", 0.1),
         (3, "", 2.675),
         (4, "a bb ccc dddd", 1e-3)],
        "doc int, text string, price double")

    def run():
        c._invalidate_snapshots()  # resolve again under the current mode
        snap = _rows(c.table_scan())
        tok = F.regexp_extract_all(
            ascii_lower(F.col("text")), F.lit(r"[a-z']+"), 0)
        per_doc = docs.select(
            "doc", "price",
            F.size(F.filter(tok, lambda t: F.length(t) > 2)).alias("long"),
            F.aggregate(F.transform(tok, lambda t: F.length(t)), F.lit(0),
                        lambda acc, n: acc + n).alias("chars"))
        agg = per_doc.groupBy((F.col("doc") % 2).alias("g")).agg(
            exact_sum(F.col("price"), "total"),
            F.sum("long").alias("long"), F.sum("chars").alias("chars"))
        return snap, _rows(agg), agg

    old = {k: spark.conf.get(k, None) for k in _CODEGEN}
    try:
        for k, v in _CODEGEN.items():
            spark.conf.set(k, v)
        snap_cg, agg_cg, agg = run()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "*(" in plan, plan  # whole-stage codegen stages ran
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    snap_int, agg_int, _ = run()
    assert snap_cg == snap_int == [("a", "v2", 10), ("c", "v1", 3),
                                   ("d", "v1", 4)]
    assert agg_cg == agg_int
