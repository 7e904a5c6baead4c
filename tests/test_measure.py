"""Smoke test of the registry measurement harness (scripts/measure.py):
the sweep record of a key and the determinism of a plan dump."""

import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import measure

KEYS = ["filter", "global_agg"]


def test_sweep_records_build_cold_and_warm_run(spark, sf_dir):
    doc = measure.sweep(spark, sf_dir, KEYS)
    assert list(doc["keys"]) == KEYS and doc["errors"] == []
    for rec in doc["keys"].values():
        assert set(rec) == {"build_s", "build_jobs", "first_s", "noop_s"}
        assert isinstance(rec["build_jobs"], int) and rec["build_jobs"] >= 0
        assert min(rec["build_s"], rec["first_s"], rec["noop_s"]) >= 0
    assert doc["total"]["build_jobs"] == sum(
        r["build_jobs"] for r in doc["keys"].values())
    assert doc["calibration"]["probe_sec_min"] > 0


def test_dump_of_same_key_is_byte_identical(spark, sf_dir, tmp_path):
    measure.dump(spark, sf_dir, str(tmp_path), "a", ["filter"])
    measure.dump(spark, sf_dir, str(tmp_path), "b", ["filter"])
    a = (tmp_path / "filter_a.txt").read_bytes()
    assert a == (tmp_path / "filter_b.txt").read_bytes()
    assert b"== Optimized Logical Plan (normalized) ==" in a
    assert b"<ROOT>" in a
