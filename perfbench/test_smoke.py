"""Smoke tests of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

The toy runs start one Spark session each (about a minute apiece);
the check and contract tests need no Spark.
"""

from __future__ import annotations

import copy
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import checks

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# Runs its arguments as a command under a child subreaper, so every
# process the command leaves running is re-parented to it; it names
# those on its last stderr line, then kills and reaps them.
PROBE = r"""
import ctypes, os, signal, subprocess, sys, time
ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
code = subprocess.run(sys.argv[1:]).returncode


def children():
    out = []
    for entry in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{entry}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except OSError:
            continue
        if int(ppid) == os.getpid() and state != "Z":
            out.append(int(entry))
    return out


left = children()
live = left
while live:  # a killed process's own children re-parent here in turn
    for pid in live:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    time.sleep(0.1)
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                break
        except ChildProcessError:
            break
    live = children()
print(f"left running: {left}", file=sys.stderr)
sys.exit(code)
"""


def _run(args: list, cwd: str = ROOT) -> subprocess.CompletedProcess:
    p = subprocess.run(
        [sys.executable, "-c", PROBE, sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert p.stderr.rstrip().endswith("left running: []"), p.stderr[-3000:]
    return p


# ---- the correctness check fails on corrupted counts --------------------

KERNEL = {"docs": 3, "spans": 40, "chars": 900, "malformed": 1}
JOB = {"rows": 3, "metrics": {"docs_parsed": 3, "spans_emitted": 40, "malformed_fallbacks": 1}}
TABLE = {"rows": 3, "docs": 3, "spans": 40, "chars": 900, "malformed": 1}


def test_extraction_check_passes_on_equal_totals():
    assert checks.extraction(3, KERNEL, [JOB, JOB], TABLE) == (6, 0, [])


@pytest.mark.parametrize("field", ["docs_parsed", "spans_emitted", "malformed_fallbacks"])
def test_extraction_check_fails_on_corrupted_job_total(field):
    bad = copy.deepcopy(JOB)
    bad["metrics"][field] += 1
    attempted, failed, problems = checks.extraction(3, KERNEL, [JOB, bad], TABLE)
    assert (attempted, failed) == (6, 3) and len(problems) == 1


def test_extraction_check_counts_missing_rows():
    bad = dict(JOB, rows=2)
    assert checks.extraction(3, KERNEL, [bad], TABLE)[1] == 1


@pytest.mark.parametrize("field", ["rows", "docs", "spans", "chars", "malformed"])
def test_extraction_check_fails_on_corrupted_table(field):
    bad = dict(TABLE, **{field: TABLE[field] + 1})
    attempted, failed, problems = checks.extraction(3, KERNEL, [JOB], bad)
    assert failed == 3 and problems


def test_query_check_fails_on_wrong_hash_and_on_raise():
    oracle = {"a": "h1", "b": "h2"}
    assert checks.queries(oracle, [{"a": "h1", "b": "h2"}]) == (2, 0, [])
    assert checks.queries(oracle, [{"a": "h1", "b": "x"}])[1] == 1
    assert checks.queries(oracle, [{"a": ValueError("boom"), "b": "h2"}])[1] == 1


def test_result_hash_ignores_row_order_and_column_case():
    assert checks.result_hash(["B", "a"], [(1, "x"), (2, "y")]) == checks.result_hash(
        ["b", "A"], [(2, "y"), (1, "x")]
    )


# ---- the inputs are a function of the seed --------------------------------

def test_sf_tables_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    from perfbench.inputs import SF_ROWS, make_sf_tables

    def tables(seed, name):
        d = str(tmp_path / f"{name}")
        assert make_sf_tables(d, SF_ROWS["toy"], seed) == SF_ROWS["toy"]
        return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}

    a, b, c = tables(1, "a"), tables(1, "b"), tables(2, "c")
    assert all(a[f].equals(b[f]) for f in a)
    assert not a["documents.parquet"].equals(c["documents.parquet"])


# ---- BENCHMARK.json holds to its contract --------------------------------

def test_benchmark_json_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    names = [w["name"] for w in spec["workloads"]]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in spec["end_to_end"]
    metrics = spec["end_to_end"] + spec["per_layer"]
    names += [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) and m["better"] in ("higher", "lower") for m in metrics)
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_without_the_program_it_fails_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "html_job", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# ---- every workload at toy size ------------------------------------------

@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_toy_run_prints_every_metric_and_passes_its_check(workload, trace):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--size", "toy"])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in _spec()[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        # every layer was measured: no time, rate or output count is 0
        measured = {k: v["value"] for k, v in result["metrics"].items()
                    if v["unit"] in ("s", "ms", "MB/s", "bytes") or k.endswith("_out")}
        assert measured and all(v > 0 for v in measured.values()), measured
