"""Dump registry-query plans into plans/<round>/<key>_<tag>.txt (tag =
before/after, or any label).

Each file holds the key's .explain("formatted") text followed by its
analyzed and optimized logical plans, all three normalized the same
way: expression ids, plan ids, RDD ids, lambda-variable counters,
UUIDs, temp paths and the data directory become placeholders. Dumps of
the same keys from two trees therefore ``diff`` cleanly when their
plans are the same:

    diff plans/<round>/<key>_before.txt plans/<round>/<key>_after.txt

Usage: python scripts/dump_round_plans.py <round> <tag> key [key ...]
with SPARK_GRAFT_SF_DIR set to the test-data directory to plan against
(the committed dumps under plans/ were planned on sf0.01; those in
plans/r12 and plans/r13 predate the normalized sections).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from db_spark.plans import plan_shape
from db_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR")


def norm(text: str, root: str) -> str:
    """The plan normalization of the verify notes (§5 plan identity)."""
    text = text.replace(root, "<ROOT>")
    text = re.sub(r"#\d+L?", "#", text)                   # expression ids
    text = re.sub(r"plan_id=\d+", "plan_id=#", text)      # exchange ids
    text = re.sub(r"RDD\[\d+\]", "RDD[#]", text)           # RDD ids
    text = re.sub(r"(lambda [A-Za-z]+)_\d+", r"\1_#", text)  # lambda vars
    text = re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}",
                  "<UUID>", text)                        # txids, uuid7()
    return re.sub(r"/tmp/[^\s,\]]*", "<TMP>", text)       # temp paths


def main() -> None:
    if len(sys.argv) < 4 or not SF_DIR:
        sys.exit(__doc__)
    rnd, tag, keys = sys.argv[1], sys.argv[2], sys.argv[3:]
    spark = get_spark(app_name="dump_round_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(outdir, exist_ok=True)
    for key in keys:
        if key not in qs:
            print(f"skip {key}: no registry key", file=sys.stderr)
            continue
        df = qs[key](spark, SF_DIR)
        qe = df._jdf.queryExecution()
        plan = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
        path = os.path.join(outdir, f"{key}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {key} @ {norm(SF_DIR, SF_DIR)}\n")
            fh.write(norm(plan, SF_DIR))
            fh.write("\n== Analyzed Logical Plan (normalized) ==\n")
            fh.write(norm(qe.analyzed().toString(), SF_DIR))
            fh.write("\n== Optimized Logical Plan (normalized) ==\n")
            fh.write(norm(qe.optimizedPlan().toString(), SF_DIR))
            fh.write("\n")
        print(f"wrote {path} ({plan_shape(df)['exchanges']} exchanges)")


if __name__ == "__main__":
    main()
