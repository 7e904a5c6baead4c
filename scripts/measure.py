"""One measurement harness for the ``queries()`` registry.

    python scripts/measure.py sweep [SF_DIR [OUT.json]]
    python scripts/measure.py keys SF_DIR REPS [KEY ...]
    python scripts/measure.py dump ROUND TAG KEY [KEY ...]
    python scripts/measure.py audit

- ``sweep`` builds and times EVERY registry key at one sf dir (default
  sf0.1): the builder call (``build_s``, and ``build_jobs``, the Spark
  jobs it ran before returning a DataFrame), the first noop-sink write
  (``first_s``, the key's cold execution) and a second, timed noop
  write (``noop_s``, warm re-execution). ``-1`` marks what a failing
  key did not reach. It is a straggler detector: one run per key. The
  JSON line (also written to OUT.json) ends with the calibration probe.
- ``keys`` re-times named keys (default: the LLM-data tier list below).
  Each of REPS reps runs a fresh build, an untimed warm-up write and a
  timed noop write (min/median/max); then one warm ``collect`` with its
  row count, and a total over the keys.
- ``dump`` writes ``plans/<ROUND>/<KEY>_<TAG>.txt``: the key's
  ``explain("formatted")`` text plus its analyzed and optimized plans,
  all normalized (expression, plan and RDD ids, lambda-variable
  counters, UUIDs, temp paths, the data directory), so dumps of the same
  keys from two trees ``diff`` cleanly. Needs ``SPARK_GRAFT_SF_DIR``.
- ``audit`` writes docs/PLAN_AUDIT.md: one row of ``plans.plan_shape``
  counters per key, planned at ``SPARK_GRAFT_SF_DIR`` (default sf0.001;
  shape is scale-invariant).

``sweep`` and ``keys`` release each key's plan caches before the next
key, so one key's cached state never slows another.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as E
from bench import _calibration_probe
from db_spark.llm import dedup
from db_spark.plans import plan_shape
from db_spark.session import get_spark

# ``keys`` default: the training-data (LLM) tier
LLM_KEYS = [
    "text_stats", "dedup_exact", "ngram_jaccard", "minhash_lsh_pairs",
    "dedup_corpus", "simhash_near_dup", "cosine_topk", "ivf_topk",
    "embedding_near_dup", "chunk_docs", "pack_sequences",
    "repetition_stats", "unigram_surprisal", "token_budget",
    "importance_sample", "keywords_tfidf", "skipgram_counts",
    "centroid_outliers", "kmv_set_ops", "jaccard_join", "dedup_keep_best",
    "weighted_sample", "mmr_rerank", "normalize_text", "curate_corpus",
    "cm_join_size", "psi_drift", "seasonal_decompose", "dq_report",
    "skyline", "bfs_hops", "hashed_features", "interval_join",
    "decontaminate", "stratified_sample", "bm25_topk",
    "embedding_quantize", "span_dup", "span_dedup", "collocations",
    "temperature_sample", "domain_cap", "redact_pii", "bigram_surprisal",
    "kcenter", "hybrid_rrf", "lsh_probe", "kcore", "communities", "linreg",
    "cusum", "attribution", "transitions", "survival", "ab_test",
    "holt_forecast", "weighted_paths", "funnel_latency",
    "entity_resolution", "benford", "holt_backtest", "rolling_corr", "ppr",
    "skew_profile", "conversion_ci", "top_paths", "ivf_rbo", "dbscan",
    "bootstrap", "simhash_grouped", "jaccard_grouped",
    "winnow_fingerprints", "winnow_overlap", "semantic_dedup",
    "winnow_spans", "mjpeg_features", "classifier_score", "pca_project",
    "nb_train", "pca_topk", "winnow_cut", "pq_topk", "ivfpq_topk",
    "pq_sampled", "winnow_probe", "curate_corpus_v2", "pq_subspace_var",
    "embedding_decontaminate",
]

COLD = ("first_s is the key's first execution after its build, in a "
        "session where the keys sorted before it already ran (JVM, "
        "codegen and shared parquet footers warm); build_s/build_jobs "
        "are the builder call and the Spark jobs it ran before "
        "returning; noop_s is a second, warm execution")


def session(mode: str):
    # audit plans on local[8] x 8 partitions; the timing modes on the
    # driver-sized default (SPARK_GRAFT_CPUS, 32)
    kw = {"cpus": "8", "shuffle_partitions": 8} if mode == "audit" else {}
    spark = get_spark(app_name=f"measure-{mode}", **kw)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def build(spark, name: str, sf_dir: str):
    """(df, build_s, build_jobs): one call of the key's builder, under a
    fresh job group so its Spark jobs can be counted."""
    sc = spark.sparkContext
    group = f"measure-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    try:
        df = E.queries()[name](spark, sf_dir)
    finally:
        build_s = time.perf_counter() - t0
        sc.setJobGroup(None, None)
    # the status store fills from the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, build_s, len(sc.statusTracker().getJobIdsForGroup(group))


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def release(spark) -> None:
    dedup.unpersist_plan_caches()
    spark.catalog.clearCache()


def sweep(spark, sf_dir: str, names=None) -> dict:
    keys = {}
    for name in names or sorted(E.queries()):
        rec = dict.fromkeys(("build_s", "build_jobs", "first_s", "noop_s"),
                            -1)
        try:
            df, rec["build_s"], rec["build_jobs"] = build(spark, name, sf_dir)
            rec["first_s"] = noop(df)
            rec["noop_s"] = noop(df)
        except Exception:
            traceback.print_exc()
        finally:
            release(spark)
        keys[name] = {k: round(v, 3) if isinstance(v, float) else v
                      for k, v in rec.items()}
        print(f"  {name}: {keys[name]}", file=sys.stderr)
    ok = [r for r in keys.values() if r["noop_s"] >= 0]
    total = {f: round(sum(r[f] for r in ok), 2)
             for f in ("build_s", "first_s", "noop_s")}
    total["build_jobs"] = sum(r["build_jobs"] for r in ok)
    total["keys_with_build_jobs"] = sum(r["build_jobs"] > 0 for r in ok)
    return {"sf_dir": sf_dir, "cold": COLD, "keys": keys,
            "errors": [n for n, r in keys.items() if r["noop_s"] < 0],
            "total": total, "calibration": _calibration_probe(spark)}


def time_keys(spark, sf_dir: str, reps: int, names) -> dict:
    out = {}
    for name in names:
        ts = []
        for rep in range(reps):
            df, _, _ = build(spark, name, sf_dir)
            noop(df)  # warm-up: materializes the plan caches
            ts.append(noop(df))
            if rep == reps - 1:
                t0 = time.perf_counter()
                rows = len(df.collect())
                t_collect = time.perf_counter() - t0
            release(spark)
        out[name] = {"min": round(min(ts), 3),
                     "median": round(statistics.median(ts), 3),
                     "max": round(max(ts), 3),
                     "collect": round(t_collect, 3), "rows": rows}
        print(f"  {name}: {out[name]}", file=sys.stderr)
    total = {f: round(sum(r[f] for r in out.values()), 3)
             for f in ("median", "collect")}
    return {"sf_dir": sf_dir, "reps": reps, "keys": out, "total": total,
            "calibration": _calibration_probe(spark)}


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


def dump(spark, sf_dir: str, outdir: str, tag: str, names) -> None:
    os.makedirs(outdir, exist_ok=True)
    qs = E.queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    for name in names:
        if name not in qs:
            print(f"skip {name}: no registry key", file=sys.stderr)
            continue
        df = build(spark, name, sf_dir)[0]
        qe = df._jdf.queryExecution()
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {norm(sf_dir, sf_dir)}\n")
            fh.write(norm(qe.explainString(mode), sf_dir))
            fh.write("\n== Analyzed Logical Plan (normalized) ==\n")
            fh.write(norm(qe.analyzed().toString(), sf_dir))
            fh.write("\n== Optimized Logical Plan (normalized) ==\n")
            fh.write(norm(qe.optimizedPlan().toString(), sf_dir))
            fh.write("\n")
        print(f"wrote {path} ({plan_shape(df)['exchanges']} exchanges)")


AUDIT_HEAD = """\
# PLAN_AUDIT — physical-plan shape counters, all registry queries

Generated by `scripts/measure.py audit` at sf0.001 (shape is
scale-invariant). Columns: exch = Exchange nodes (shuffles and
broadcasts); BHJ/SMJ/BNLJ = BroadcastHash/SortMerge/BroadcastNestedLoop
joins; cart = CartesianProduct (must be 0 everywhere); topk =
TakeOrderedAndProject present; sorts = Sort nodes, window and
sort-merge-join sorts included. Keys that write runtime state
(mvcc/matview/index families) do so while building and are audited on
their final read plan."""


def audit(spark, sf_dir: str) -> str:
    rows, failures = [], []
    for name in E.queries():
        try:
            s = plan_shape(build(spark, name, sf_dir)[0])
        except Exception as ex:  # noqa: BLE001 - runtime-only builders
            failures.append((name, str(ex).splitlines()[0][:100]))
            continue
        rows.append((name, s["exchanges"], s["broadcast_hash_joins"],
                     s["sort_merge_joins"], s["broadcast_nested_loop_joins"],
                     s["cartesian_products"], "y" if s["top_k"] else "",
                     s["sorts"]))
    out = [AUDIT_HEAD,
           f"**{len(rows)} queries audited, "
           f"{sum(r[5] for r in rows)} cartesian products.**", "",
           "| query | exch | BHJ | SMJ | BNLJ | cart | topk | sorts |",
           "|---|---|---|---|---|---|---|---|"]
    for r in sorted(rows, key=lambda r: (-r[5], -r[3], -r[1])):
        out.append("| " + " | ".join(map(str, r)) + " |")
    if failures:
        out += ["", "Not plannable without runtime state (audited via their "
                    "module tests instead):", ""]
        out += [f"- `{name}`: {msg}" for name, msg in failures]
    return "\n".join(out) + "\n"


def main(argv) -> None:
    if not argv or argv[0] not in ("sweep", "keys", "dump", "audit"):
        sys.exit(__doc__)
    mode, args = argv[0], argv[1:]
    sf_env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if mode == "dump" and (len(args) < 3 or not sf_env):
        sys.exit(__doc__)
    if mode == "keys" and len(args) < 2:
        sys.exit(__doc__)
    spark = session(mode)
    if mode == "dump":
        dump(spark, sf_env, os.path.join(ROOT, "plans", args[0]), args[1],
             args[2:])
    elif mode == "audit":
        dest = os.path.join(ROOT, "docs", "PLAN_AUDIT.md")
        text = audit(spark, sf_env or "/root/testdata/sf0.001")
        with open(dest, "w") as f:
            f.write(text)
        print("wrote", dest)
    else:
        if mode == "sweep":
            doc = sweep(spark, args[0] if args else "/root/testdata/sf0.1")
        else:
            doc = time_keys(spark, args[0], int(args[1]), args[2:] or LLM_KEYS)
        line = json.dumps(doc)
        if mode == "sweep" and len(args) > 1:
            with open(args[1], "w") as f:
                f.write(line + "\n")
        print(line)


if __name__ == "__main__":
    main(sys.argv[1:])
