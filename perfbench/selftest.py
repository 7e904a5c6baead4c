"""Self-test of the benchmark: every workload at sf0.001 with one cycle
of operations, untraced and traced, must emit every metric that
BENCHMARK.json names, with its unit, and no failed operation; mvcc_rw
must read states older than the latest, see non-empty CDC, refresh its
view incrementally, compact and evict from the snapshot cache; and a
deliberately corrupted expected result must make failed_ratio > 0.

Run from the root of a checkout (takes a few minutes):

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as R  # noqa: E402

#: printed end-to-end metrics per workload beyond BENCHMARK.json's
_ALL = ["latency_p50_s", "latency_p90_s", "peak_rss_mb", "failed_ratio",
        "host.probe_s"]
PRINTED = {"olap_mix": _ALL,
           "mvcc_rw": _ALL + ["write_p50_s", "write_p90_s", "read_p50_s",
                              "read_p90_s", "space_amp"]}
#: coverage counts that must be non-zero in a workload's timed sequence
COVERED = {"mvcc_rw": ["compactions", "historical_differs", "cdc_nonempty",
                       "refresh_incremental", "snapshot_evictions"]}
SCALE = 0.001


def _printed(lines: list[str]) -> dict[str, str]:
    """name -> unit of every ``name value unit`` report line."""
    out = {}
    for line in lines:
        m = re.match(r"^(\S+) (\S+) (\S+)", line)
        if m:
            out[m.group(1)] = m.group(3)
    return out


def main() -> int:
    with open(os.path.join(R.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems = []

    def expect(cond: bool, what: str) -> None:
        print(("ok    " if cond else "FAIL  ") + what, flush=True)
        if not cond:
            problems.append(what)

    R.open_work()
    try:
        for wl in spec["workloads"]:
            name = wl["name"]
            res, lines = R.run(name, 1, 0.1, True, scale=SCALE, max_cycles=1)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == layer, f"{name}: traced run emits exactly the "
                   f"per_layer metrics with their units (missing "
                   f"{sorted(set(layer) - set(got))}, extra "
                   f"{sorted(set(got) - set(layer))})")
            printed = _printed(lines)
            for m, unit in e2e.items():
                expect(printed.get(m) == unit, f"{name}: prints {m} in {unit}")
            for m in PRINTED[name]:
                expect(m in printed, f"{name}: prints {m}")
            covered = _coverage(lines)
            for k in COVERED.get(name, []):
                expect(covered.get(k, 0) > 0, f"{name}: {k} = {covered.get(k)} > 0")
            expect(res["failed"] == 0 and res["correct"],
                   f"{name}: no failed operation ({res['failed']} of "
                   f"{res['attempted']})")
            res, lines = R.run(name, 1, 0.1, False, scale=SCALE, max_cycles=1)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == e2e, f"{name}: untraced run emits exactly the "
                   "end_to_end metrics with their units")
            res, lines = R.run(name, 1, 0.1, False, scale=SCALE, max_cycles=1,
                               corrupt=True)
            ratio = float(_ratio(lines))
            expect(res["failed"] > 0 and not res["correct"] and ratio > 0,
                   f"{name}: corrupted expected result gives failed_ratio "
                   f"{ratio} > 0")
    finally:
        R.close_work()
    print(f"\n{len(problems)} problem(s)")
    return 1 if problems else 0


def _coverage(lines: list[str]) -> dict:
    for line in lines:
        if line.startswith("coverage "):
            return json.loads(line[len("coverage "):])
    return {}


def _ratio(lines: list[str]) -> str:
    for line in lines:
        if line.startswith("failed_ratio "):
            return line.split()[1]
    return "nan"


if __name__ == "__main__":
    sys.exit(main())
