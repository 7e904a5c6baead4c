"""LLM-data, sketch and analytics tier operations, run inside olap_mix:
registry builders over sf0.01 documents (500), embeddings (200) and
events (10k). Each operation builds its registry query fresh through
``__spark_entry__.q_<key>`` (the builders run eager Spark work and
register plan caches), collects it, and then drops the builders' plan
caches. Expected results are the registry's own DuckDB oracles over the
same parquet files."""

from __future__ import annotations

import __spark_entry__ as E
from db_spark.llm import dedup

from perfbench.common import Op, duckdb_views, oracle_rows, spark_rows

TABLES = ["documents", "embeddings", "events"]
SCALE = 0.01

#: registry keys, one per tier module: llm.dedup (jaccard_join, with
#: plan caches), llm.text (text_stats), llm.corpus (bm25_topk),
#: llm.similarity (cosine_topk), sketch (cm_heavy_hitters) and analytics
#: (event_funnel). The multi-second builders (minhash_lsh_pairs,
#: ivf_kmeans_topk, semantic_dedup, curate_corpus) do not fit the run
#: budget: each costs 3-10 s per warm-up and per run.
KEYS = ["jaccard_join", "text_stats", "bm25_topk", "cosine_topk",
        "cm_heavy_hitters", "event_funnel"]


class LlmOps:
    """The registry operations and their expected results."""

    def __init__(self, spark, data_dir: str, stats):
        self.spark = spark
        self.data_dir = data_dir
        self.stats = stats  # the owning workload's counters
        self.expected: dict = {}

    def setup(self) -> None:
        con = duckdb_views(self.data_dir, TABLES)
        sql = E.oracle_sql()
        for key in KEYS:
            self.expected[key] = oracle_rows(con, sql[key])
        con.close()

    def _drop_caches(self) -> None:
        self.stats["plan_caches"] += dedup.unpersist_plan_caches()

    def op(self, key: str) -> Op:
        holder = {}

        def build():
            holder["df"] = getattr(E, "q_" + key)(self.spark, self.data_dir)
            return holder["df"]

        return Op(key, "query", build, deliver=lambda df: df.collect(),
                  check=lambda rows: spark_rows(holder["df"].columns, rows)
                  == self.expected[key],
                  after=self._drop_caches)

    def ops(self) -> list[Op]:
        return [self.op(k) for k in KEYS]

    def layer_metrics(self, n_ops: int) -> dict:
        return {"llm.dedup.plan_caches":
                (self.stats["plan_caches"] / max(n_ops, 1), "count/op")}
