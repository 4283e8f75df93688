"""The benchmark's own tests: digests, an sf0.001 smoke run of every
workload in both modes, a planted wrong digest, and the no-program exit.

    python3 -m pytest perfbench/tests -q

Each smoke run starts its own Spark JVM in a subprocess (~30 s each).
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

#: the smoke corpus: sf0.001 tables, the OLAP tier still amplified
SMOKE = {
    "olap_sf0.15": {"sf": 0.001, "docs": 500, "vecs": 500, "copies": 2},
    "curate_ingest_sf0.01": {"sf": 0.001, "docs": 500, "vecs": 500, "copies": 1},
}

#: runs ``run.main`` on the smoke corpus; argv[1] names the op whose
#: expected digest is replaced by a wrong one ("" plants nothing)
_RUN_SCRIPT = """
import dataclasses, json, sys
sys.path.insert(0, {bench!r})
import check, run, workloads
planted, name = sys.argv[1], sys.argv[3]
workloads.WORKLOADS[name] = dataclasses.replace(
    workloads.WORKLOADS[name], corpus=json.loads({smoke!r})[name])
real = check.oracle_digests
def oracle_digests(path, oracles):
    out = real(path, oracles)
    if planted:
        out[planted] = "0" * 64
    return out
check.oracle_digests = oracle_digests
sys.exit(run.main(sys.argv[2:]))
"""


def _smoke(workload: str, trace: int, planted: str = "") -> subprocess.CompletedProcess:
    code = _RUN_SCRIPT.format(bench=BENCH, smoke=json.dumps(SMOKE))
    return subprocess.run(
        [sys.executable, "-c", code, planted, "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )


def test_digest_ignores_row_and_column_order():
    cols, rows = ["b", "a"], [(1, "x"), (2, "y")]
    assert check.digest(cols, rows) == check.digest(["a", "b"], [("y", 2), ("x", 1)])
    assert check.digest(cols, rows) != check.digest(cols, [(1, "x"), (3, "y")])
    assert check.digest(cols, rows) != check.digest(cols, rows + [(1, "x")])


def test_digest_canonicalises_engine_representations():
    utc = dt.timezone.utc
    spark_row = [(decimal.Decimal("1.50"), -0.0, dt.datetime(2024, 1, 1, 5), float("nan"))]
    duck_row = [(1.5, 0.0, dt.datetime(2024, 1, 1, 5, tzinfo=utc), None)]
    cols = ["m", "z", "ts", "n"]
    assert check.digest(cols, spark_row) == check.digest(cols, duck_row)


def test_workloads_match_benchmark_json():
    assert sorted(WORKLOADS) == sorted(w["name"] for w in SPEC["workloads"])
    assert sorted(SMOKE) == sorted(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SMOKE))
def test_smoke_run_emits_every_metric_with_its_unit(workload, trace):
    proc = _smoke(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in wanted)
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in wanted)
        for m in wanted:
            assert f"{workload} {m['name']} = " in proc.stdout


def test_planted_wrong_digest_fails_the_run():
    op = WORKLOADS["olap_sf0.15"].ops[0]
    proc = _smoke("olap_sf0.15", 0, planted=op)
    assert proc.returncode == 1
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert not result["correct"]
    # the op fails in every set-up warm-up and in every timed call
    assert result["failed"] >= 4
    assert f"FAILED {op}" in proc.stderr


def test_without_the_program_it_exits_non_zero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("work", "data", "results", "__pycache__"))
    proc = subprocess.run(
        SPEC["command"] + ["--workload", "olap_sf0.15", "--seed", "1",
                               "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
