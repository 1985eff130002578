"""The benchmark's own test. Runs in a few minutes (each workload at a tiny
size, plus one traced run):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import ledger  # noqa: E402
import workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload, trace=0, cwd=ROOT, script=None):
    cmd = [sys.executable, script or os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "1",
           "--trace", str(trace), "--size", str(W.TINY[workload])]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=cwd, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    return p, lines


def test_benchmark_json_names_workloads_and_layers():
    assert {w["name"] for w in SPEC["workloads"]} <= set(W.WORKLOADS)
    assert [m["name"] for m in SPEC["per_layer"]] == ledger.PER_LAYER
    for m in SPEC["per_layer"]:
        assert m["unit"] == ledger.unit_of(m["name"]), m["name"]
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_workload_smoke_with_oracle_gate(workload):
    p, lines = _run(workload)
    assert p.returncode == 0, p.stderr[-3000:]
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["scrub_exact_frac"]["value"] == 1.0
    if W.WORKLOADS[workload].kind == "pages":
        assert report["accuracy"]["keep_f1"]["value"] == 1.0
    assert report["host"]["nproc"] >= 1 and report["host"]["scaling_label"]


def test_traced_run_prints_the_pinned_ledger():
    p, lines = _run("csv_redact", trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert report["scaling"]["label"] and result["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["core.csv_detect_us_per_cell"]["value"] > 0
    assert result["metrics"]["csvops.reassembly_shuffle_bytes_per_row"]["value"] > 0


def test_oracle_gate_flags_a_changed_cell(tmp_path):
    wl = W.WORKLOADS["csv_redact"]
    inp = W.ensure_input(wl, 5, 20, str(tmp_path))
    ora = W.ensure_oracle(wl, inp)
    out = tmp_path / "out"
    out.mkdir()
    rows = [list(r) for r in ora["rows"]]
    rows[3][2] = rows[3][2] + "x"
    with open(out / "part-00000.csv", "w") as fh:
        fh.write("header\n" + "\n".join(",".join(r) for r in rows) + "\n")
    res = W.check(wl, ora, str(out), {})
    assert res["errors"] and res["exact"] == res["scored"] - 1


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p, lines = _run("crawl_scrub", cwd=str(tmp_path),
                    script=str(tmp_path / "perfbench" / "run.py"))
    assert p.returncode != 0 and not lines
