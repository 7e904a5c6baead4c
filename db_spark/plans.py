"""Plan-shape introspection as a public API — the counters the scale
story argues from (docs/SCALE.md, docs/PLAN_AUDIT.md), available to
users designing their own pipelines: "how many shuffles does this plan
pay, did my dimension broadcast, is there a cartesian hiding in here?"

The same counters drive `scripts/measure.py audit` (the whole-registry
audit artifact) and the `tests/test_plan_shapes.py` regression guards;
exposing them keeps user pipelines auditable with the engine's own
vocabulary instead of eyeballing `explain()` output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The physical (executed) plan as text — what actually runs,
    after AQE's initial planning."""
    return df._jdf.queryExecution().executedPlan().toString()


def _node_names(plan):
    """The ``nodeName()`` of every node of a JVM plan tree, subquery
    and cached plans (inner children) included. An ``AdaptiveSparkPlan``
    contributes its current plan only — the final plan once it exists,
    the initial plan before — and a query stage the plan it wraps, so
    each node is seen once. Walking nodes, unlike a substring search of
    the plan text, cannot match a column name or a literal (a
    ``Sort_key`` column is not a Sort)."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        yield name
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))


def _analyzed_has_node(df: DataFrame, words) -> bool:
    """True when any node of the ANALYZED logical plan has a
    ``nodeName()`` containing one of ``words``."""
    return any(any(w in name for w in words) for name in
               _node_names(df._jdf.queryExecution().analyzed()))


def plan_shape(df: DataFrame) -> dict:
    """Shape counters for a DataFrame's physical plan, counted over its
    nodes (``_node_names``; after execution, the final adaptive plan):

    - ``exchanges``: Exchange operators (shuffles + broadcast
      materializations, reused ones included) — the expensive moves;
    - ``broadcast_hash_joins`` / ``sort_merge_joins`` /
      ``broadcast_nested_loop_joins``: join strategy mix (dims should
      broadcast; SMJ on a fact-dim join means a missed broadcast);
    - ``cartesian_products``: must be 0 in anything meant for scale;
    - ``top_k``: True when a LIMIT+ORDER planned as
      TakeOrderedAndProject (per-partition heads) instead of a global
      sort;
    - ``sorts``: Sort operators (window/SMJ sorts included — compare
      against expectation, not zero).
    """
    # "SortMergeJoin(skew=true)" counts as a SortMergeJoin
    names = [n.split("(")[0] for n in
             _node_names(df._jdf.queryExecution().executedPlan())]
    return {
        "exchanges": sum("Exchange" in n for n in names),
        "broadcast_hash_joins": names.count("BroadcastHashJoin"),
        "sort_merge_joins": names.count("SortMergeJoin"),
        "broadcast_nested_loop_joins": names.count("BroadcastNestedLoopJoin"),
        "cartesian_products": names.count("CartesianProduct"),
        "top_k": "TakeOrderedAndProject" in names,
        "sorts": names.count("Sort"),
    }


def assert_scale_safe(df: DataFrame, max_exchanges: int | None = None,
                      allow_smj: bool = True) -> dict:
    """Raise ``AssertionError`` when the plan contains a scale killer:
    any CartesianProduct, optionally any SortMergeJoin
    (``allow_smj=False`` for plans where every join side should
    broadcast), optionally more than ``max_exchanges`` Exchanges.
    Returns the shape dict on success so callers can log it."""
    shape = plan_shape(df)
    if shape["cartesian_products"]:
        raise AssertionError(
            f"plan contains {shape['cartesian_products']} CartesianProduct"
            "(s) — add a join key, a blocking key, or broadcast a side")
    if not allow_smj and shape["sort_merge_joins"]:
        raise AssertionError(
            f"plan contains {shape['sort_merge_joins']} SortMergeJoin(s) "
            "where every join was expected to broadcast")
    if max_exchanges is not None and shape["exchanges"] > max_exchanges:
        raise AssertionError(
            f"plan pays {shape['exchanges']} exchanges "
            f"(budget {max_exchanges})")
    return shape
