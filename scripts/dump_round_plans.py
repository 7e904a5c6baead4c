"""Dump .explain("formatted") for registry queries into
plans/<round>/<key>_<tag>.txt (tag = before/after, or any label).

Usage: python scripts/dump_round_plans.py <round> <tag> key [key ...]
with SPARK_GRAFT_SF_DIR set to the test-data directory to plan against
(the committed plans/r12 and plans/r13 dumps were planned on sf0.01).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from db_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR")


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
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
        path = os.path.join(outdir, f"{key}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {key} @ {SF_DIR} — {tag}\n")
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
