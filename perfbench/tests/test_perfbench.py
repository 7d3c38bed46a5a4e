"""Self-test of the benchmark at the tiny input scale.

Run from the repository root (about two minutes, four cores):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each case runs ``run.main`` in its own Python process, as the command
line does, and reads the JSON object on its last output line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(code: str) -> tuple[dict, str]:
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


def _main(*args: str, patch: str = "") -> str:
    argv = ["--seed", "1", "--seconds", "1", "--scale", "tiny", *args]
    return ("import sys; sys.path[:0] = ['perfbench', '.']\n"
            "import run, workloads\n" + patch
            + f"sys.exit(run.main({argv!r}))\n")


def _assert_metrics(result: dict, stdout: str, spec: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, unit in want.items():
        assert f"metric {name} " in stdout and stdout.count(
            f"metric {name} ") == 1
        assert isinstance(result["metrics"][name]["value"], float)


def test_wrong_expected_answer_counts_as_failed_and_metrics_named():
    """A wrong expected checksum fails every scan and the final check,
    so the error rate rises; every end-to-end metric is still printed
    by name and unit."""
    patch = ("orig = workloads.orders_checksum\n"
             "workloads.orders_checksum = "
             "lambda pdf: (orig(pdf)[0] + 1,) + orig(pdf)[1:]\n")
    result, stdout = _run(_main("--workload", "cdc_merge", "--trace", "0",
                                patch=patch))
    assert result["correct"] is False
    assert 0 < result["failed"] < result["attempted"]
    assert "error_rate 0.0000" not in stdout
    _assert_metrics(result, stdout, SPEC["end_to_end"])


def test_traced_run_prints_every_layer_metric():
    """The traced run of the pipeline workload is correct on the
    current code and prints every per-layer metric by name and unit,
    with the operator layer non-zero."""
    result, stdout = _run(_main("--workload", "curate_pipeline",
                                "--trace", "1"))
    assert result["correct"] is True and result["failed"] == 0
    _assert_metrics(result, stdout, SPEC["per_layer"])
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert metrics["ops.minhash_s"] > 0 and metrics["py4j.calls"] > 0
    assert metrics["spark_jobs.count"] > 0


def test_workloads_match_spec():
    import importlib

    sys.path[:0] = [os.path.join(ROOT, "perfbench")]
    try:
        workloads = importlib.import_module("workloads")
        layers = importlib.import_module("layers")
        run = importlib.import_module("run")
    finally:
        del sys.path[0]
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(
        workloads.WORKLOADS)
    assert [m["name"] for m in SPEC["per_layer"]] == [
        n for n, _ in layers.LAYER_METRICS]
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == \
        run.E2E_UNITS
