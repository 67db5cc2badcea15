"""Benchmark of the shipped ``run_pipeline`` on seeded crawl shapes.

    python3 perfbench/run.py --workload near-dup --seed 1 --seconds 10 --trace 0

One invocation measures one workload in a fresh process: the session
set-up, the input generation (untimed), then timed ``run_pipeline`` runs
until ``--seconds`` have passed (at least one). The first timed run is
the process's first ``run_pipeline`` call, cold as every CLI
``pipeline`` job pays it. Every run goes through the output check
(:mod:`perfbench.outcheck`) and starts from the same session confs and
an empty block store.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` warms up with one untimed run, makes the timed runs, then
one traced run, and reports the per-layer metrics
(:mod:`perfbench.layers`) and the tracing overhead against the warm
timed runs. The last stdout line is the JSON result; the lines before
it are a readable report.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_DIR = ROOT / ".perfbench_work"
# Modules that import the program (pyspark, image_dedup_spark, the other
# perfbench modules) are imported inside functions, after main() has put
# ROOT on sys.path and checked that the program is there.

E2E_UNITS = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s",
    "setup_s": "s",
    "pair_recall": "ratio",
}


@dataclass
class Run:
    timed: bool
    wall_s: float
    cpu_s: float
    peak_rss_mb: float
    outcome: object         # outcheck.Outcome, or None when the run raised
    error: str = ""

    @property
    def ok(self) -> bool:
        return self.outcome is not None and self.outcome.ok

    def describe(self) -> str:
        head = (f"{'timed' if self.timed else 'untimed'}: wall {self.wall_s:.2f} s, "
                f"cpu {self.cpu_s:.1f} s, peak rss {self.peak_rss_mb:.0f} MB, ")
        o = self.outcome
        if o is None:
            return head + f"FAILED {self.error}"
        return head + (f"clusters {o.n_clusters} cluster_fp {o.cluster_fp} "
                       f"recall {o.pair_recall:.4f} {'ok' if o.ok else o.errors}")


def _isolate(spark, conf0: dict) -> None:
    """Return the session to its set-up state: runtime confs as they were
    (``tune_for_corpus`` rewrites some in every run) and no cached or
    checkpointed blocks."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    gc.collect()
    sc._jvm.System.gc()  # lets Spark's ContextCleaner drop dead shuffle files
    for k, v in spark.conf.getAll.items():
        if k not in conf0:
            spark.conf.unset(k)
        elif v != conf0[k]:
            spark.conf.set(k, conf0[k])
    if spark.conf.getAll != conf0:
        raise RuntimeError("session confs differ from the set-up state")
    if len(sc._jsc.sc().getRDDStorageInfo()):
        raise RuntimeError("block store is not empty before a run")


def _run(spark, wl, pages, conf0, timed, tracer=None):
    """One checked ``run_pipeline`` call -> (Run, PipelineResult or None)."""
    from contextlib import nullcontext

    from image_dedup_spark.plans.pipeline import run_pipeline

    from perfbench import layers, outcheck, procstat

    _isolate(spark, conf0)
    res, err = None, ""
    hooks = nullcontext() if tracer is None else layers.instrument(tracer)
    with procstat.PeakRss() as rss:
        cpu0 = procstat.tree_cpu_s()
        t0 = time.monotonic()
        try:
            with hooks:
                res = run_pipeline(
                    spark, pages, wl.cfg, include_substring=wl.include_substring
                )
        except Exception as exc:  # a failed run is counted, not fatal
            err = f"{type(exc).__name__}: {exc}".splitlines()[0]
        wall = time.monotonic() - t0
        cpu = procstat.tree_cpu_s() - cpu0
    outcome = None
    if res is not None:
        if tracer is not None:
            spark.sparkContext.setJobGroup(layers.GROUP_PREFIX + "check", "output check")
        try:
            outcome = outcheck.check(pages, wl.truth, res.clusters, res.quarantine)
        except Exception as exc:  # e.g. a result schema the check cannot read
            err = f"check: {type(exc).__name__}: {exc}".splitlines()[0]
    return Run(timed, wall, cpu, rss.peak_mb, outcome, err), res


def _setup(conf: dict):
    """``get_spark`` plus a first trivial job that starts a Python worker."""
    from image_dedup_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.range(8, numPartitions=1).rdd.map(lambda r: r.id).sum()
    return spark, time.monotonic() - t0


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM (it exits when its stdin closes), then any
    process still left under this one."""
    from perfbench import procstat

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    for pid in procstat.tree_pids():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    while procstat.tree_pids() and time.monotonic() < deadline:
        time.sleep(0.1)


def bench(workload: str, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    from perfbench import eventlog, layers, workloads

    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        (work / "eventlog").mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark, setup_s = _setup(conf)
    runs: list[Run] = []
    try:
        conf0 = spark.conf.getAll
        cores = spark.sparkContext.defaultParallelism
        t0 = time.monotonic()
        wl = workloads.WORKLOADS[workload](spark, seed, str(work / "input"))
        print(f"# {workload} seed={seed}: {wl.n_docs} docs, bucket_cap={wl.cfg.bucket_cap}, "
              f"cores={cores}, setup {setup_s:.2f} s, inputs {time.monotonic() - t0:.2f} s")
        pages = spark.read.parquet(wl.pages_path)

        if trace:
            runs.append(_run(spark, wl, pages, conf0, timed=False)[0])
        t_meas = time.monotonic()
        while len(runs) == int(trace) or time.monotonic() - t_meas < seconds:
            runs.append(_run(spark, wl, pages, conf0, timed=True)[0])
        if trace:
            tracer = layers.Tracer(spark.sparkContext, f"{workload}-{seed}-traced")
            w0 = time.time() * 1e3
            traced, res = _run(spark, wl, pages, conf0, timed=False, tracer=tracer)
            w1 = time.time() * 1e3
            runs.append(traced)
            if res is not None:
                spark.sparkContext.setJobGroup(layers.GROUP_PREFIX + "count", "counting pass")
                counts = layers.count_pairs(tracer.fingerprints, wl.cfg)
                stage_rows = {m["stage"]: m["rows_out"] for m in res.metrics}
    finally:
        _shutdown(spark)  # also closes the event log

    for i, r in enumerate(runs):
        print(f"# run {i} {r.describe()}")
    timed = [r for r in runs if r.timed and r.ok]
    attempted, failed = len(runs), sum(not r.ok for r in runs)
    identities = {(r.outcome.n_clusters, r.outcome.cluster_fp) for r in runs if r.ok}
    correct = failed == 0 and len(identities) == 1
    if len(identities) > 1:
        print(f"# cluster identities differ across runs: {sorted(identities)}")

    if not trace:
        units = E2E_UNITS
        values = {
            "docs_per_s": [wl.n_docs / r.wall_s for r in timed],
            "cpu_s_per_kdoc": [r.cpu_s / (wl.n_docs / 1e3) for r in timed],
            "setup_s": [setup_s],
            "pair_recall": [r.outcome.pair_recall for r in timed],
        }
    elif traced.ok and timed:
        log = eventlog.summarize(eventlog.read_events(str(work / "eventlog")), w0, w1)
        per_layer = layers.layer_metrics(tracer, log, stage_rows, counts, cores)
        per_layer["trace.wall_s"] = traced.wall_s
        per_layer["trace.overhead_s"] = (
            traced.wall_s - statistics.median(r.wall_s for r in timed)
        )
        per_layer["trace.coverage"] = (
            sum(s.end - s.start for s in tracer.spans) / traced.wall_s
        )
        for s in tracer.spans:
            print(f"# span {s.parent} {s.stage} {s.layer}: "
                  f"{s.end - s.start:.3f} s, cpu {s.cpu_s:.2f} s")
        if log.untagged_jobs:
            print(f"# {log.untagged_jobs} jobs of the traced run had no layer tag")
            correct = False
        units = layers.metric_units()
        values = {k: [v] for k, v in per_layer.items()}
    else:
        units, values = layers.metric_units(), {}

    metrics = {}
    for name, unit in units.items():
        xs = values.get(name)
        if xs:
            metrics[name] = {"value": statistics.median(xs), "unit": unit}
            print(f"# {name:34s} {metrics[name]['value']:14.4f} {unit:7s} n={len(xs)}")
    if not trace and timed:
        # reported, not a contract metric: G1's stepwise heap growth spreads
        # it 15-25% across identical runs
        rss = statistics.median(r.peak_rss_mb for r in timed)
        print(f"# {'peak_rss_mb':34s} {rss:14.4f} {'MB':7s} n={len(timed)}")
    print(f"# failed_frac {failed / attempted:.4f} ({failed} of {attempted} runs)")
    correct = correct and len(metrics) == len(units)
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not (ROOT / "image_dedup_spark" / "__init__.py").is_file():
        print(f"image_dedup_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = WORK_DIR / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # Workers import the package from this checkout; shuffle and spill stay
    # inside it too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])
    )
    os.environ["SPARK_GRAFT_NO_TMPFS"] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    try:
        result = bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
