"""olap_mix: relational queries over the sf0.1 tables, each built fresh
through ``Q`` / the condition DSL, planned, executed and delivered to
the driver, mixed with one run of each LLM-data, sketch and analytics
tier operation of ``perfbench.llm`` over sf0.01 inputs. Predicate
constants come from small seeded pools (two per kind), so operations
repeat exactly within a run."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import functions as F

from db_spark import conditions, ops, sources
from db_spark.functions import decimal_sum, money_sum

from perfbench import datagen, llm
from perfbench.common import Op, Workload, duckdb_views, oracle_rows, spark_rows
from perfbench.datagen import PART_TYPES, PRIORITIES, SEGMENTS

TABLES = ["region", "nation", "customer", "part", "orders", "lineitem"]

_LI_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate"]
_MONEY = {"l_quantity", "l_extendedprice", "l_discount", "l_tax"}
_TEXT = {"l_returnflag", "l_linestatus"}

_SCAN_COLS = [tuple(_LI_COLS),
              ("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
               "l_shipdate")]


def _day(rng, first: str, last: str) -> str:
    lo, hi = np.datetime64(first), np.datetime64(last)
    return str(lo + int(rng.integers(0, int((hi - lo).astype(int)))))


def draw_pools(rng) -> dict[str, list]:
    """Two seeded constants per kind. Each pool entry does the same
    amount of work whatever the seed (fixed window lengths, limits and
    column sets), so runs with different seeds stay comparable."""
    def pick(xs, k=2):
        return [xs[i] for i in rng.choice(len(xs), size=k, replace=False)]

    return {
        "scan_collect": list(_SCAN_COLS),
        "range_filter": [(d, str(np.datetime64(d) + 60), q) for d, q in zip(
            [_day(rng, "1995-02-01", "2001-06-01") for _ in range(2)],
            (20.0, 30.0))],
        "cond_filter": [(int(rng.integers(1, 31)), t, tuple(
            f"Brand#{b}" for b in rng.choice(np.arange(1, 26), 3, replace=False)))
            for t in pick(PART_TYPES)],
        "pricing_summary": [_day(rng, "1996-01-01", "2001-10-01") for _ in range(2)],
        "hash_join_agg": pick(PRIORITIES),
        "sort_topk": list(zip(pick(SEGMENTS), (20, 100))),
        "multi_join": pick(["F", "O", "P"]),
    }


def _checksum_sql(cols) -> str:
    parts = ["COUNT(*) AS n"]
    for c in cols:
        if c in _MONEY:
            parts.append(f"SUM(CAST(round({c} * 100) AS BIGINT)) AS {c}")
        elif c in _TEXT:
            parts.append(f"SUM(length({c})) AS {c}")
        elif c == "l_shipdate":
            parts.append(f"SUM(epoch_us({c}) // 1000000) AS {c}")
        else:
            parts.append(f"SUM({c}) AS {c}")
    return f"SELECT {', '.join(parts)} FROM lineitem"


def _arrow_checksum(table) -> tuple:
    """Per-column checksums of a collected Arrow table, in the same form
    as ``_checksum_sql``: exact integer sums (timestamps in whole
    seconds, so the sum fits in 64 bits), so any lost, duplicated or
    altered value changes the tuple."""
    out = [table.num_rows]
    for c in table.column_names:
        col = table.column(c)
        if c in _MONEY:
            col = pc.cast(pc.round(pc.multiply(col, 100.0)), "int64")
        elif c in _TEXT:
            col = pc.utf8_length(col)
        elif c == "l_shipdate":
            col = pc.divide(pc.cast(col, "int64"), 1_000_000)  # seconds
        out.append(pc.sum(col).as_py())
    return tuple(out)


def _oracle_sql(kind: str, p) -> str:
    if kind == "scan_collect":
        return _checksum_sql(p)
    if kind == "range_filter":
        lo, hi, q = p
        return f"""SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_shipdate
                   FROM lineitem WHERE l_shipdate >= TIMESTAMP '{lo}'
                   AND l_shipdate < TIMESTAMP '{hi}' AND l_quantity < {q}"""
    if kind == "cond_filter":
        size, ptype, brands = p
        return f"""SELECT p_partkey, p_name, p_brand, p_size FROM part
                   WHERE p_size BETWEEN {size} AND {size + 20}
                   AND p_type LIKE '%{ptype}%' AND p_brand IN {brands}"""
    if kind == "pricing_summary":
        return f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
                   CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
                   CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_charge,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '{p}'
            GROUP BY l_returnflag, l_linestatus"""
    if kind == "hash_join_agg":
        return f"""
            SELECT c_mktsegment,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
                   COUNT(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE o_orderpriority = '{p}' GROUP BY c_mktsegment"""
    if kind == "sort_topk":
        seg, k = p
        return f"""SELECT c_custkey, c_acctbal FROM customer
                   WHERE c_mktsegment = '{seg}'
                   ORDER BY c_acctbal DESC, c_custkey LIMIT {k}"""
    if kind == "multi_join":
        return f"""
            SELECT r_name,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
                   COUNT(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE o_orderstatus = '{p}' GROUP BY r_name"""
    raise KeyError(kind)


class OlapMix(Workload):
    name = "olap_mix"
    tables = TABLES
    scale = 0.1

    def __init__(self, spark, data_dir: str, run_dir: str, rng):
        super().__init__(spark, data_dir, run_dir, rng)
        self.pools = draw_pools(rng)
        self.expected: dict = {}
        llm_dir = os.path.join(run_dir, "llm-data")
        datagen.generate(llm_dir, int(rng.integers(2**31)), llm.SCALE, llm.TABLES)
        self.llm = llm.LlmOps(spark, llm_dir, self.stats)

    def setup(self) -> None:
        """Expected results; every operation reads its tables fresh."""
        self.llm.setup()
        con = duckdb_views(self.data_dir, TABLES)
        for kind, pool in self.pools.items():
            for p in pool:
                sql = _oracle_sql(kind, p)
                if kind == "scan_collect":
                    self.expected[(kind, p)] = tuple(con.sql(sql).fetchone())
                else:
                    self.expected[(kind, p)] = oracle_rows(con, sql)
        con.close()

    def corrupt(self) -> None:
        key = ("pricing_summary", self.pools["pricing_summary"][0])
        cols, rows = self.expected[key]
        self.expected[key] = (cols, rows[1:])

    # -- operation builders -------------------------------------------------
    def _t(self, name: str):
        return sources.read_table(self.spark, self.data_dir, name)

    def _build(self, kind: str, p):
        Q = ops.Q
        if kind == "scan_collect":
            return Q(self._t("lineitem")).select(*p).df
        if kind == "range_filter":
            lo, hi, q = p
            return (Q(self._t("lineitem"))
                    .filter((F.col("l_shipdate") >= F.lit(lo))
                            & (F.col("l_shipdate") < F.lit(hi))
                            & (F.col("l_quantity") < q))
                    .select("l_orderkey", "l_linenumber", "l_quantity",
                            "l_discount", "l_shipdate").df)
        if kind == "cond_filter":
            size, ptype, brands = p
            col, val = conditions.col, conditions.val
            brand = col("p_brand") == val(brands[0])
            for b in brands[1:]:
                brand = brand | (col("p_brand") == val(b))
            cond = ((col("p_size") >= val(size))
                    & (col("p_size") >= val(size - 3))
                    & (col("p_size") <= val(size + 20))
                    & col("p_type").like(f"%{ptype}%") & brand)
            return (conditions.Query(self._t("part")).filter(cond).df
                    .select("p_partkey", "p_name", "p_brand", "p_size"))
        if kind == "pricing_summary":
            disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
            return (Q(self._t("lineitem"))
                    .filter(F.col("l_shipdate") <= F.lit(p))
                    .group_agg(["l_returnflag", "l_linestatus"], [
                        money_sum(F.col("l_quantity"), "sum_qty"),
                        money_sum(F.col("l_extendedprice"), "sum_base_price"),
                        decimal_sum(disc, "sum_disc_price"),
                        decimal_sum(disc * (1 + F.col("l_tax")), "sum_charge"),
                        F.count(F.lit(1)).alias("count_order")]).df)
        if kind == "hash_join_agg":
            return (Q(self._t("orders"))
                    .filter(F.col("o_orderpriority") == p)
                    .hash_match(Q(self._t("customer")), "o_custkey",
                                "c_custkey", broadcast_build=True)
                    .group_agg(["c_mktsegment"], [
                        money_sum(F.col("o_totalprice"), "revenue"),
                        F.count(F.lit(1)).alias("n_orders")]).df)
        if kind == "sort_topk":
            seg, k = p
            return (Q(self._t("customer"))
                    .filter(F.col("c_mktsegment") == seg)
                    .in_memory_sort([F.col("c_acctbal").desc(), F.col("c_custkey")])
                    .take(k).select("c_custkey", "c_acctbal").df)
        if kind == "multi_join":
            return (Q(self._t("orders"))
                    .filter(F.col("o_orderstatus") == p)
                    .hash_match(Q(self._t("customer")), "o_custkey", "c_custkey",
                                broadcast_build=True)
                    .hash_match(Q(self._t("nation")), "c_nationkey",
                                "n_nationkey", broadcast_build=True)
                    .hash_match(Q(self._t("region")), "n_regionkey",
                                "r_regionkey", broadcast_build=True)
                    .group_agg(["r_name"], [
                        money_sum(F.col("o_totalprice"), "revenue"),
                        F.count(F.lit(1)).alias("n_orders")]).df)
        raise KeyError(kind)

    def _op(self, kind: str, p) -> Op:
        want = self.expected[(kind, p)]
        if kind == "scan_collect":
            return Op(kind, "query", lambda: self._build(kind, p),
                      deliver=lambda df: df.toArrow(),
                      check=lambda t: _arrow_checksum(t) == want)
        holder = {}

        def build():
            holder["df"] = self._build(kind, p)
            return holder["df"]

        return Op(kind, "query", build,
                  deliver=lambda df: df.collect(),
                  check=lambda rows: spark_rows(holder["df"].columns, rows) == want)

    def _all_ops(self) -> list[Op]:
        return ([self._op(kind, p) for kind, pool in self.pools.items() for p in pool]
                + self.llm.ops())

    def warmup_ops(self, rng) -> list[Op]:
        """Every operation of the cycle once, so that no timed cycle is
        the first to plan and compile one of them."""
        return self._all_ops()

    def cycle(self, rng) -> list[Op]:
        """Every (kind, constant) pair and every tier operation once, in
        seeded order."""
        out = self._all_ops()
        return [out[i] for i in rng.permutation(len(out))]

    def layer_metrics(self, n_ops: int) -> dict:
        return self.llm.layer_metrics(n_ops)
