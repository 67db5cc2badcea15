"""Scaling-evidence protocol: run the identical bench job (bench.py, one
``run_pipeline`` call) on the identical input at 1 and 4 cores, each
leg pinned with ``taskset`` to exactly its core count, in interleaved
pairs (1c, 4c, 1c, 4c, ...). Writes every leg to
BENCH/leg_c{cores}_x{expansion}[_pin]_r{i}.json and the paired
efficiencies to BENCH/BASELINE.md.

Usage: python scripts/scaling_run.py
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_EXPANSION (as bench.py),
SPARK_GRAFT_SCALE_REPEATS (pairs, default 3), SPARK_GRAFT_SCALE_RESUME=1
(reuse persisted legs measured on the same code and input),
SPARK_GRAFT_PIN_CPUS (0/1, default: on when taskset exists).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N, FOUR_N = 1, 4


def _git_sha() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip()
    except Exception:
        return "unknown"


def _measured_code_identical(a: str, b: str) -> bool:
    """True when the code a leg actually executes — the packaged
    ``image_dedup_spark`` sources plus ``bench.py`` — is byte-identical
    between two commits. Doc/test/script commits landing between the
    legs of one protocol must not burn a measurement, but ANY change
    under the measured paths must."""
    if a == b:
        return True
    if not a or not b:
        return False
    try:
        d = subprocess.run(
            ["git", "diff", "--stat", a, b, "--",
             "image_dedup_spark", "bench.py"],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=10,
        )
        return d.returncode == 0 and not d.stdout.strip()
    except Exception:
        return False


def _pin_cpus() -> bool:
    """True when legs are pinned to exactly `cores` CPUs. An unpinned
    local[N] leg lets the JVM's GC/shuffle threads and the Python
    workers soak up extra cores, which inflates the low-core leg and
    understates scaling efficiency."""
    v = os.environ.get("SPARK_GRAFT_PIN_CPUS")
    if v is not None:
        return v == "1"
    return shutil.which("taskset") is not None


def run_bench(
    cores: int,
    expansion: int,
    sf_dir: str,
    pyfiles: str | None,
    suffix: str = "",
) -> dict:
    """One bench leg, launched with ``spark-submit --py-files`` when
    spark-submit is on PATH and ``python bench.py`` otherwise."""
    pinned = _pin_cpus()
    leg_path = os.path.join(
        REPO, "BENCH", f"leg_c{cores}_x{expansion}{suffix}.json"
    )
    # Resume only when opted in AND the persisted leg's stamp matches
    # the current code, input dir and pinning mode: a leg measured on
    # other code or input is not current evidence.
    if os.environ.get("SPARK_GRAFT_SCALE_RESUME") == "1" and os.path.exists(
        leg_path
    ):
        with open(leg_path) as f:
            prior = json.load(f)
        stamp = prior.get("_meta", {})
        if (
            _measured_code_identical(stamp.get("git_sha", ""), _git_sha())
            and stamp.get("sf_dir") == sf_dir
            and stamp.get("pinned", False) == pinned
        ):
            return prior
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_BENCH_EXPANSION=str(expansion),
        SPARK_GRAFT_SF_DIR=sf_dir,
    )
    submit = shutil.which("spark-submit")
    if submit and pyfiles:
        cmd = [
            submit,
            "--master", f"local[{cores}]",
            # spark.driver.memory set by the session builder is ignored
            # under spark-submit (the JVM is already up), so set it here.
            "--driver-memory", os.environ.get("SPARK_DRIVER_MEM", "8g"),
            "--py-files", pyfiles,
            os.path.join(REPO, "bench.py"),
        ]
    else:
        cmd = [sys.executable, os.path.join(REPO, "bench.py")]
    if pinned:
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(
        cmd, env=env, capture_output=True, text=True, timeout=7200
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(
            f"bench produced no JSON (cmd={cmd[0]}):\n{out.stdout[-2000:]}\n{out.stderr[-4000:]}"
        )
    res = json.loads(lines[-1])
    # Persist each leg at once (a crashed later leg never loses this
    # one), stamped for the resume check above.
    res["_meta"] = {"git_sha": _git_sha(), "sf_dir": sf_dir, "pinned": pinned}
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(leg_path, "w") as f:
        json.dump(res, f)
    return res


def _median(vals: list[float]) -> float:
    return sorted(vals)[len(vals) // 2]


def write_report(runs_n: list[dict], runs_4n: list[dict], expansion: int) -> float:
    """Headline: the median of the per-pair efficiencies. Each 1c leg
    runs next to its 4c leg, so a pair shares one window of this box's
    speed drift; comparing per-level medians would mix windows."""
    paired = [
        b["docs_per_sec"] / (FOUR_N * a["docs_per_sec"])
        for a, b in zip(runs_n, runs_4n)
    ]
    eff = _median(paired)
    stages = sorted(set(runs_n[0]["queries"]) & set(runs_4n[0]["queries"]))
    stage_rows = []
    for key in stages:
        a = _median([r["queries"][key] for r in runs_n])
        b = _median([r["queries"][key] for r in runs_4n])
        speedup = a / b if b else float("nan")
        stage_rows.append(f"| {key} | {a} | {b} | {speedup:.2f}× |")
    leg_rows = [
        f"| {i} | {a['value']} | {a['docs_per_sec']} | {b['value']} "
        f"| {b['docs_per_sec']} | {p:.3f} |"
        for i, (a, b, p) in enumerate(zip(runs_n, runs_4n, paired))
    ]
    stamp = datetime.now(timezone.utc).isoformat(timespec="seconds")
    r0 = runs_n[0]
    nl = "\n"
    report = f"""# BENCH/BASELINE — scaling evidence ({stamp})

Identical job (`bench.py`: one `run_pipeline` call) on identical input
({r0['n_docs']} docs = sf{r0['sf']} documents × {expansion}), {N} vs
{FOUR_N} cores, {len(paired)} interleaved pairs,
{"each leg pinned with taskset to its core count" if _pin_cpus() else "unpinned"}.
Code: `{r0['_meta']['git_sha']}`; clusters {r0['n_clusters']}
(`cluster_fp` {r0['cluster_fp']}).

**Scaling efficiency (median of paired efficiencies) = {eff:.3f}**

| pair | {N}c sec | {N}c docs/s | {FOUR_N}c sec | {FOUR_N}c docs/s | efficiency |
|---|---|---|---|---|---|
{nl.join(leg_rows)}

## Per-stage medians

| stage | {N}c sec | {FOUR_N}c sec | speedup |
|---|---|---|---|
{nl.join(stage_rows)}
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(report)
    return eff


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    expansion = int(os.environ.get("SPARK_GRAFT_BENCH_EXPANSION", "40"))
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "3"))
    from make_pyfiles_zip import build

    pyfiles = build()
    pin_tag = "_pin" if _pin_cpus() else ""
    runs_n, runs_4n = [], []
    for i in range(repeats):
        runs_n.append(run_bench(N, expansion, sf_dir, pyfiles, f"{pin_tag}_r{i}"))
        runs_4n.append(
            run_bench(FOUR_N, expansion, sf_dir, pyfiles, f"{pin_tag}_r{i}")
        )
    eff = write_report(runs_n, runs_4n, expansion)
    print(
        json.dumps(
            {
                "eff": eff,
                "tp_n": _median([r["docs_per_sec"] for r in runs_n]),
                "tp_4n": _median([r["docs_per_sec"] for r in runs_4n]),
            }
        )
    )


if __name__ == "__main__":
    main()
