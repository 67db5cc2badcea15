"""Self-test of the benchmark at a tiny size (~1k docs per workload).

    python3 -m pytest perfbench -q

Each workload goes through one traced invocation (a warm-up, a timed
and a traced run over Spark's rolling, uncompressed event log), and
``near-dup`` through one untraced invocation; the results must be
correct, carry every metric ``BENCHMARK.json`` names, and the traced
spans must cover at least 90% of the traced wall.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import eventlog, procstat

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

# The benchmark's workloads, shrunk to ~1k docs.
_TINY = f"""
import functools, sys
sys.path.insert(0, {str(ROOT)!r})
from perfbench import run, workloads
workloads.WORKLOADS = {{
    "near-dup": functools.partial(workloads.near_dup, n_sources=25),
    "web-mixed": functools.partial(workloads.web_mixed, n_docs=1000),
}}
sys.exit(run.main(sys.argv[1:]))
"""


def _bench(*args: str, cwd: Path = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "-c", _TINY, *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.splitlines()


def _names(kind: str) -> set[str]:
    return {m["name"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run(workload):
    rc, lines = _bench("--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", "1")
    assert rc == 0, lines[-20:]
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == 3
    metrics = result["metrics"]
    assert set(metrics) == _names("per_layer")
    assert metrics["trace.coverage"]["value"] >= 0.9
    for layer in ("quality", "exact", "fingerprints", "lsh", "simhash_block", "components"):
        assert metrics[f"{layer}.wall_s"]["value"] > 0, layer
        assert metrics[f"{layer}.jobs"]["value"] > 0, layer
    assert metrics["fingerprints.python_sent_mb"]["value"] > 0
    assert metrics["lsh.candidates"]["value"] >= metrics["lsh.pairs"]["value"]
    if workload == "web-mixed":
        assert metrics["substring.pairs"]["value"] > 0
        assert metrics["quality.quarantined_rows"]["value"] > 0


def test_timed_run():
    rc, lines = _bench("--workload", "near-dup", "--seed", "3", "--seconds", "1",
                       "--trace", "0")
    assert rc == 0, lines[-20:]
    result = json.loads(lines[-1])
    assert result["correct"] and result["attempted"] == 1 and result["failed"] == 0
    assert set(result["metrics"]) == _names("end_to_end")
    assert all(m["value"] > 0 for m in result["metrics"].values())
    for name in _names("end_to_end"):
        assert any(line.startswith(f"# {name} ") for line in lines), name


def test_refuses_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(ROOT / path, tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(SPEC["command"] + ["--workload", "near-dup", "--seed", "1",
                                          "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_event_log_rolling_layout(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    job = {"Event": "SparkListenerJobStart", "Submission Time": 100,
           "Stage IDs": [7], "Properties": {"spark.jobGroup.id": "perfbench:lsh"}}
    stray = {"Event": "SparkListenerJobStart", "Submission Time": 5,
             "Stage IDs": [8], "Properties": {}}

    def task(stage, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
                "Task Info": {"Accumulables": [
                    {"Name": eventlog.PY_SENT, "Update": "1048576"}]},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}}

    # file index 10 sorts after 2 numerically, not as text
    (d / "events_2_local-1").write_text(
        "\n".join(json.dumps(e) for e in (stray, job, task(7, 10))) + "\n")
    (d / "events_10_local-1").write_text(
        "\n".join(json.dumps(e) for e in (task(7, 30), task(7, 20), task(8, 99))) + "\n")
    log = eventlog.summarize(eventlog.read_events(str(tmp_path)), 50, 200)
    g = log.groups["perfbench:lsh"]
    assert log.untagged_jobs == 0 and set(log.groups) == {"perfbench:lsh"}
    assert (g.jobs, g.shuffle_write_bytes) == (1, 30)
    assert sorted(g.stage_tasks[(7, 0)]) == [10, 20, 30]
    assert g.task_skew == 1.5
    assert g.python[eventlog.PY_SENT] == 3 * 2**20


def test_procstat_counts_reaped_children():
    c0 = procstat.tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert procstat.tree_cpu_s() - c0 >= 0.4
