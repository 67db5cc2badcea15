"""Pinned-CPU platform-ceiling control for the scaling protocol.

The scaling headline compares taskset-pinned local[1] vs local[4] Spark
legs (scripts/scaling_run.py). This control measures what PERFECT
software would score under the exact same pinning: K worker processes
pinned to CPUs 0..K-1 (the same cores the Spark legs get), each running
a fixed amount of (a) pure-CPU work and (b) memory-bandwidth-bound work,
at K=1 and K=4. Any efficiency lost HERE is hypervisor steal, turbo
clocking, or shared-DRAM contention — a platform property no Spark plan
can recover — so the Spark legs' efficiency should be read against this
ceiling, not against a theoretical 1.0.

Two workloads bracket the engine's stages:
* cpu  — tight integer hashing loop (no memory traffic): brackets the
         Arrow fingerprint stage.
* mem  — repeated large-array copies (~6x LLC size, pure DRAM traffic):
         brackets the shuffle-bound verify/CC stages, which move GBs
         through one memory controller that a real cluster multiplies
         per executor.

Writes BENCH/burn_ceiling.json and prints it.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpu_worker(n_iter: int, out) -> None:
    h = 0x9E3779B97F4A7C15
    x = 1
    for _ in range(n_iter):
        x = (x * h + 0xB5) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 29
    out.put(x)


def _mem_worker(n_iter: int, out) -> None:
    import numpy as np

    a = np.arange(24_000_000, dtype=np.int64)  # ~192MB >> LLC
    s = 0
    for _ in range(n_iter):
        b = a.copy()  # DRAM-bound stream
        s ^= int(b[-1])
    out.put(s)


def _run(kind: str, cores: int, n_iter: int) -> float:
    """Aggregate work/sec with `cores` workers pinned to CPUs 0..cores-1
    (the scaling legs' exact core set)."""
    os.sched_setaffinity(0, set(range(cores)))
    try:
        worker = _cpu_worker if kind == "cpu" else _mem_worker
        q: mp.Queue = mp.Queue()
        procs = [
            mp.Process(target=worker, args=(n_iter, q)) for _ in range(cores)
        ]
        t0 = time.monotonic()
        for p in procs:
            p.start()
        for p in procs:
            p.join()
        dt = time.monotonic() - t0
        while not q.empty():
            q.get()
        return cores * n_iter / dt
    finally:
        os.sched_setaffinity(0, set(range(os.cpu_count() or 32)))


def main() -> None:
    n, four_n = 1, 4
    repeats = int(os.environ.get("BURN_REPEATS", "3"))
    res: dict = {"n": n, "four_n": four_n, "repeats": repeats}
    for kind, n_iter in (("cpu", 3_000_000), ("mem", 40)):
        effs, tn_l, t4_l = [], [], []
        for _ in range(repeats):  # interleaved, like the Spark legs
            tn = _run(kind, n, n_iter)
            t4 = _run(kind, four_n, n_iter)
            tn_l.append(tn)
            t4_l.append(t4)
            effs.append(t4 / (4 * tn))
        med = sorted(effs)[len(effs) // 2]
        res[kind] = {
            "tput_n": [round(t, 1) for t in tn_l],
            "tput_4n": [round(t, 1) for t in t4_l],
            "eff_per_repeat": [round(e, 3) for e in effs],
            "eff_median": round(med, 3),
        }
    sha = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()
    res["_meta"] = {"git_sha": sha, "pinned": True}
    with open(os.path.join(REPO, "BENCH", "burn_ceiling.json"), "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps(res))


if __name__ == "__main__":
    sys.exit(main())
