"""Smoke test of the benchmark: two keys at a tiny scale, untraced and
traced, plus the generator's determinism and the bare-directory refusal.

    python3 -m pytest enginebench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from enginebench.datagen import TABLES, write_tables  # noqa: E402
from enginebench.run import MAX_SLOTS  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "enginebench/run.py", "--workload", "smoke", "--seed", "1",
           "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)


def parse(p: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


def assert_result(ctx: dict, res: dict, declared: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert all(v == "match" or v.startswith("rows-only") for v in ctx["checks"].values())
    assert set(res["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_untraced_run_prints_every_end_to_end_metric():
    ctx, res = parse(run_bench(0))
    assert_result(ctx, res, spec()["end_to_end"])
    assert all(res["metrics"][m]["value"] > 0 for m in res["metrics"])
    for field in ("load_before", "load_after", "host_speed_s", "nproc", "slots",
                  "engine_digest", "seed", "sf", "warm_passes", "warm_samples"):
        assert field in ctx, field
    assert ctx["slots"] <= MAX_SLOTS


def test_traced_run_prints_every_per_layer_metric_and_spans():
    ctx, res = parse(run_bench(1))
    assert_result(ctx, res, spec()["per_layer"])
    assert res["metrics"]["plans.bytes_written"]["value"] > 0  # sink_bulk_put writes
    assert res["metrics"]["spark.python_bytes"]["value"] == 0  # no Python keys
    with open(os.path.join(ROOT, ctx["spans"])) as f:
        spans = json.load(f)["spans"]
    names = {s["name"] for s in spans}
    assert {"pass", "key", "operators.build", "operators.action"} <= names
    for s in spans:
        assert -1e-6 <= s["self_s"] <= s["dur_s"] + 1e-6


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    write_tables(a, 3, 0.001, 50, 20)
    write_tables(b, 3, 0.001, 50, 20)
    write_tables(c, 4, 0.001, 50, 20)
    names = [f"{t}.parquet" for t in TABLES]
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    assert filecmp.cmpfiles(a, c, ["lineitem.parquet"], shallow=False)[1]


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "enginebench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench(0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert "metrics" not in p.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
