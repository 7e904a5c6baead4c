"""pysparkdb benchmark: time-to-result of whole operations, end to end,
and (with ``--trace 1``) split across the library's layers.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Workloads: olap_mix, mvcc_rw (see perfbench/README.md). One
client in this process drives ``local[<cores>]`` in a closed loop. A run
generates its inputs from ``--seed``, sets up, then runs whole cycles of
the workload's operation mix until ``--seconds`` of operation time have
been measured, checking every result. Every metric is printed as
``name value unit``; the last line is one JSON object with the
end-to-end metrics (``--trace 0``) or, with every operation traced,
the per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

#: name -> (module, class); imported lazily, after the checkout check
WORKLOADS = {"olap_mix": ("olap", "OlapMix"),
             "mvcc_rw": ("mvcc", "MvccRW")}
MIN_P90_SAMPLES = 100  # p90 is reported only with at least ten samples above it


def _checkout_ok() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "db_spark"))
            and os.path.isfile(os.path.join(ROOT, "scripts", "check_oracle.py")))


def _session(cpus: int):
    from db_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf={
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (f[7] if len(f) > 7 else 0), sum(f)


def _host_probe(spark, probe_dir: str) -> float:
    """Min of three re-executions of the data-invariant sf0.001
    pricing_summary plan — the same probe as bench.py's."""
    import __spark_entry__ as E

    df = E.q_pricing_summary(spark, probe_dir)
    df.collect()
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        df.collect()
        samples.append(time.perf_counter() - t0)
    return min(samples)


class Runner:
    """Runs operations and keeps their outcomes for one phase."""

    def __init__(self, tracer=None, probe=None):
        self.tracer = tracer
        self.probe = probe
        self.records: list[dict] = []

    def run(self, op) -> dict:
        if op.before:
            op.before()
        if self.tracer is None:
            rec = self._timed(op)
        else:
            rec = self._traced(op)
        try:
            rec["ok"] = rec["ok"] and bool(op.check(rec.pop("result")))
        except Exception:  # noqa: BLE001 - a failed check is a failed op
            traceback.print_exc()
            rec["ok"] = False
        if not rec["ok"]:
            print(f"perfbench: {op.kind} failed", file=sys.stderr)
        if op.after:
            op.after()
        self.records.append(rec)
        return rec

    def _timed(self, op) -> dict:
        result, ok = None, True
        t0 = time.perf_counter()
        try:
            df = op.build()
            result = op.deliver(df) if op.deliver else None
        except Exception:  # noqa: BLE001 - the op failed; keep running
            traceback.print_exc()
            ok = False
        wall = time.perf_counter() - t0
        return dict(kind=op.kind, category=op.category, wall=wall, ok=ok,
                    result=result)

    def _traced(self, op) -> dict:
        from db_spark import plans

        tr, op_id = self.tracer, len(self.records)
        group = self.probe.start(op_id, op.kind)
        df = result = None
        ok = True
        deliver = tr.wrap(op.deliver, "action", "deliver") if op.deliver else None
        t0 = time.perf_counter()
        root = tr.begin_op(op_id, op.kind)
        try:
            df = op.build()
            if deliver:
                result = deliver(df)
        except Exception:  # noqa: BLE001 - the op failed; keep running
            traceback.print_exc()
            ok = False
        finally:
            tr.end_op(root)
        wall = time.perf_counter() - t0
        action = tr.last_span(op_id, "deliver")
        self.probe.stop()
        rec = dict(kind=op.kind, category=op.category, wall=wall, ok=ok,
                   result=result, phases={}, shape={}, rows=0, bytes=0)
        rec["counters"], jobs = self.probe.counters(group)
        if ok and action is not None:
            self._split_action(rec, df, action, result, jobs, plans)
        rec["self"] = tr.self_times(tr.op_spans(op_id))
        rec["root"] = tr.spans[root][5] - tr.spans[root][4]
        return rec

    def _split_action(self, rec, df, action, result, jobs, plans) -> None:
        """Catalyst phases, plan shape and driver transfer of the
        delivered DataFrame, read after the operation (untimed).
        Transfer is the part of the action after its last Spark job."""
        tr = self.tracer
        a0, a1 = tr.spans[action][4], tr.spans[action][5]
        phases = self.probe.phases(df)
        rec["phases"] = {k: b - a for k, (a, b) in phases.items()}
        for name in ("optimization", "planning"):
            if name in phases:
                a, b = phases[name]
                tr.add(action, "catalyst." + name, "catalyst",
                       a - tr.offset, b - tr.offset)
        ends = [b - tr.offset for _a, b in jobs if a0 <= b - tr.offset <= a1]
        if ends:
            tr.add(action, "transfer", "transfer", max(ends), a1)
        rec["shape"] = plans.plan_shape(df)
        if hasattr(result, "nbytes"):  # Arrow table
            rec["rows"], rec["bytes"] = result.num_rows, result.nbytes
        else:
            import pickle

            rec["rows"], rec["bytes"] = len(result), len(pickle.dumps(result))


def _run_cycles(wl, runner, rng, seconds: float, max_cycles: int | None) -> None:
    """Whole cycles of the mix: at least one, and another while it is
    expected to end within ``seconds`` of operation time."""
    spent, cycles = 0.0, 0
    while cycles == 0 or (spent * (cycles + 1) / cycles <= seconds
                          and (max_cycles is None or cycles < max_cycles)):
        for op in wl.cycle(rng):
            rec = runner.run(op)
            rec["cycle"] = cycles
            spent += rec["wall"]
        cycles += 1


def end_to_end(records, setup_s: float) -> dict:
    """The gated end-to-end metrics (BENCHMARK.json)."""
    walls = [r["wall"] for r in records]
    ok = [r["wall"] for r in records if r["ok"]]
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ok) / sum(walls) if walls else 0.0, "1/s"),
    }


def extra_lines(records) -> list[str]:
    """Metrics printed for reading but not gated: p50s, p90s (only with
    at least MIN_P90_SAMPLES samples), per-category latency, failed_ratio."""
    from perfbench.common import median, percentile

    lines = []
    groups = {"latency": records,
              "write": [r for r in records if r["category"] == "write"],
              "read": [r for r in records if r["category"] == "read"]}
    for name, recs in groups.items():
        walls = [r["wall"] for r in recs]
        if not walls:
            continue
        lines.append(f"{name}_p50_s {median(walls):.6f} s (n={len(walls)})")
        if len(walls) >= MIN_P90_SAMPLES:
            lines.append(f"{name}_p90_s {percentile(walls, 0.9):.6f} s (n={len(walls)})")
        else:
            lines.append(f"{name}_p90_s n/a (n={len(walls)} < {MIN_P90_SAMPLES})")
    failed = sum(1 for r in records if not r["ok"])
    lines.append(f"failed_ratio {failed / max(len(records), 1):.6f} ratio")
    return lines


def per_layer(records, cores: int) -> dict:
    from perfbench.tracer import SELF_METRICS

    n = max(len(records), 1)
    out = {}
    for layer, name in SELF_METRICS.items():
        out[name] = (sum(r["self"].get(layer, 0.0) for r in records) / n, "s/op")
    delivered = [r for r in records if r["phases"]]
    nd = max(len(delivered), 1)
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_s"] = (
            sum(r["phases"].get(ph, 0.0) for r in delivered) / nd, "s/op")
    for key, name in (("exchanges", "plans.exchanges"),
                      ("broadcast_hash_joins", "plans.broadcast_joins"),
                      ("sort_merge_joins", "plans.sort_merge_joins")):
        out[name] = (sum(r["shape"].get(key, 0) for r in delivered) / nd, "count/op")
    tot = {k: sum(r["counters"][k] for r in records) for k in records[0]["counters"]}
    out["exec.wall_s"] = (tot["wall_s"] / n, "s/op")
    out["exec.task_s"] = (tot["task_s"] / n, "s/op")
    out["exec.busy_ratio"] = (
        tot["task_s"] / (tot["wall_s"] * cores) if tot["wall_s"] else 0.0, "ratio")
    out["exec.tasks"] = (tot["tasks"] / n, "count/op")
    out["exec.jobs"] = (tot["jobs"] / n, "count/op")
    for k in ("input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes"):
        out[f"exec.{k}"] = (tot[k] / n, "bytes/op")
    out["transfer.rows"] = (sum(r["rows"] for r in records) / n, "count/op")
    out["transfer.bytes"] = (sum(r["bytes"] for r in records) / n, "bytes/op")
    writes = [r for r in records if r["category"] == "write"]
    out["table.jobs_per_write"] = (
        sum(r["counters"]["jobs"] for r in writes) / len(writes) if writes else 0.0,
        "count/op")
    return out


def call_metrics(tracer) -> dict:
    from perfbench.tracer import CALL_METRICS

    out = {}
    for span_name, metric in CALL_METRICS.items():
        d = [s[5] - s[4] for s in tracer.spans if s[2] == span_name and s[6] is not None]
        out[metric] = (sum(d) / len(d) if d else 0.0, "s/call")
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, *,
        scale: float | None = None, max_cycles: int | None = None,
        corrupt: bool = False) -> tuple[dict, list[str]]:
    """One benchmark run; returns (result object, report lines)."""
    import importlib

    import numpy as np

    from perfbench import datagen
    from perfbench.common import RssSampler, median

    mod, cls = WORKLOADS[workload]
    wl_cls = getattr(importlib.import_module(f"perfbench.{mod}"), cls)
    run_dir = os.path.join(WORK, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    probe_dir = os.path.join(run_dir, "probe")
    lines = []
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    rows = datagen.generate(data_dir, seed, scale if scale is not None else wl_cls.scale,
                            wl_cls.tables)
    # fixed seed: the host probe is data-invariant
    datagen.generate(probe_dir, 0, 0.001, ["lineitem"])
    lines.append(f"inputs {json.dumps({t: rows[t] for t in wl_cls.tables})}")
    lines.append(f"gen_s {time.perf_counter() - t0:.6f} s")

    t0 = time.perf_counter()
    spark = _session(cores)
    session_s = time.perf_counter() - t0
    try:
        rng = np.random.default_rng(seed)
        t0 = time.perf_counter()
        wl = wl_cls(spark, data_dir, run_dir, rng)
        wl.setup()
        load_s = time.perf_counter() - t0
        if corrupt:
            wl.corrupt()
        warm = Runner()
        t0 = time.perf_counter()
        for op in wl.warmup_ops(rng):
            warm.run(op)
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + load_s + warmup_s
        lines.append(f"setup_parts session_s={session_s:.3f} load_expected_s="
                     f"{load_s:.3f} warmup_s={warmup_s:.3f}")
        lines.append("warmup_wall_by_kind " + json.dumps(_by_kind(warm.records)))

        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        tracer = None
        if trace:
            from perfbench.tracer import JvmProbe, Tracer

            tracer = Tracer()
            timed = Runner(tracer, JvmProbe(spark))
            tracer.install()
        else:
            timed = Runner()
        wl.stats.clear()
        # start the timed sequence from collected heaps, so its peak RSS
        # reflects the sequence rather than when set-up garbage was freed
        gc.collect()
        spark.sparkContext._jvm.java.lang.System.gc()
        steal0, total0 = _cpu_ticks()
        try:
            with RssSampler([os.getpid(), int(jvm_pid)]) as rss:
                _run_cycles(wl, timed, rng, seconds, max_cycles)
        finally:
            if tracer is not None:
                tracer.uninstall()
        steal1, total1 = _cpu_ticks()
        recs = timed.records
        e2e = end_to_end(recs, setup_s)
        lines.append(f"peak_rss_mb {rss.peak / 2**20:.6f} MB")
        lines.append(f"host.steal_share {(steal1 - steal0) / max(total1 - total0, 1):.6f}"
                     " ratio (CPU time taken by other guests of the host)")
        for k, v in wl.end_metrics().items():
            lines.append(f"{k} {v[0]:.6f} {v[1]}")
        lines.extend(extra_lines(recs))
        lines.append("wall_by_kind " + json.dumps(_by_kind(recs)))
        lines.append("coverage " + json.dumps(wl.coverage()))
        probe_s = _host_probe(spark, probe_dir)
        from bench import PROBE_ENVELOPE_SEC

        lines.append(f"host.probe_s {probe_s:.6f} s" + (
            f" ABOVE ENVELOPE {PROBE_ENVELOPE_SEC} s: host contention suspected"
            if probe_s > PROBE_ENVELOPE_SEC else ""))
        all_records = warm.records + recs

        metrics = e2e
        if trace:
            metrics = per_layer(recs, cores)
            metrics.update(call_metrics(tracer))
            metrics.update(wl.layer_metrics(len(recs)))
            defaults = {"table.log_files": "count", "table.compactions": "count",
                        "table.write_amp": "ratio",
                        "table.snapshot_hit_ratio": "ratio",
                        "llm.dedup.plan_caches": "count/op"}
            for k, unit in defaults.items():
                metrics.setdefault(k, (0.0, unit))
            metrics["host.probe_s"] = (probe_s, "s")
            # operation time over operation time without the tracing
            # wrappers' own time (see Tracer.overhead_s)
            walls = sum(r["wall"] for r in recs)
            metrics["trace.overhead_ratio"] = (
                walls / (walls - tracer.overhead_s), "ratio")
            # checks: self times add up to each root span, and each root
            # span matches the operation's wall time
            gap = max(abs(sum(r["self"].values()) - r["root"]) for r in recs)
            lines.append(f"trace.self_sum_max_gap_s {gap:.6f} s (ops={len(recs)})")
            gap = max(abs(r["root"] - r["wall"]) for r in recs)
            lines.append(f"trace.root_vs_wall_max_gap_s {gap:.6f} s (ops={len(recs)})")
            os.makedirs(WORK, exist_ok=True)
            path = os.path.join(WORK, f"trace-{workload}-seed{seed}.jsonl")
            tracer.write(path)
            lines.append(f"trace_file {os.path.relpath(path, ROOT)}")
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for r in all_records if not r["ok"])
    result = {"correct": failed == 0, "attempted": len(all_records),
              "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    for k, (v, u) in e2e.items():
        lines.append(f"{k} {v:.6f} {u}")
    if trace:
        for k, (v, u) in metrics.items():
            lines.append(f"{k} {v:.6f} {u}")
    return result, lines


def _by_kind(records) -> dict:
    """Mean wall and, in a traced run, per-layer self time (s) per
    operation kind."""
    out = {}
    for r in records:
        d = out.setdefault(r["kind"], {"n": 0, "wall": 0.0})
        d["n"] += 1
        d["wall"] += r["wall"]
        for layer, s in r.get("self", {}).items():
            d[layer] = d.get(layer, 0.0) + s
    return {k: {f: (round(v / d["n"], 4) if f != "n" else v) for f, v in d.items()}
            for k, d in out.items()}


def open_work() -> None:
    """Point every scratch location of Python, Spark and the JVM at
    WORK inside the checkout; call before the first session starts."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")


def close_work() -> None:
    """Stop the py4j gateway JVM this process launched, wait for it to
    exit, and remove the scratch locations (traces stay)."""
    _shutdown_jvm()
    for d in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


def _shutdown_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - already gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - did not exit on its own
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _checkout_ok():
        print(f"perfbench: {ROOT} is not a pysparkdb checkout "
              "(db_spark/, __spark_entry__.py, scripts/ missing)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    open_work()
    try:
        result, lines = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        close_work()
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
