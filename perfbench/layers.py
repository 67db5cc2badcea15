"""Per-layer tracing of one ``run_pipeline`` call, from outside the
program.

:func:`instrument` swaps the module attributes ``plans.pipeline`` looks
up at call time for wrappers. Each wrapper switches the current layer:
it closes the open span (wall and /proc CPU), opens one for its layer
and tags the Spark jobs that follow with ``setJobGroup``. Every stage
opens as ``pipeline`` when ``IO.stage_exists`` is called and a layer
call switches to its layer, so the stage's materialization runs under
the layer that built it; stage work outside any layer call
(``07_all_pairs``, ``09_survivors``) stays ``pipeline``. Spark's event log, grouped by job group, supplies the
task-side numbers (:mod:`perfbench.eventlog`).
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from image_dedup_spark.config import DedupConfig
from image_dedup_spark.operators import lsh as LSH
from image_dedup_spark.operators import simhash_block as SB
from image_dedup_spark.plans import pipeline as P

from perfbench import eventlog, procstat

GROUP_PREFIX = "perfbench:"
LAYERS = (
    "quality", "exact", "fingerprints", "lsh", "simhash_block",
    "substring", "components", "pipeline",
)
COMMON = (
    ("wall_s", "s"), ("cpu_s", "s"), ("core_util", "ratio"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("jobs", "count"),
    ("task_skew", "ratio"),
)
PAIR_COUNTS = (
    ("docs_in", "count"), ("candidates", "count"), ("pairs", "count"),
    ("verify_yield", "ratio"), ("forgone_pairs", "count"),
)
EXTRA = {
    "quality": (("quarantined_rows", "count"),),
    "exact": (("survivor_frac", "ratio"),),
    "fingerprints": (
        ("python_sent_mb", "MB"), ("python_returned_mb", "MB"),
        ("python_run_s", "s"), ("docs_per_cpu_s", "docs/s"),
    ),
    "lsh": PAIR_COUNTS,
    "simhash_block": PAIR_COUNTS,
    "substring": (("pairs", "count"),),
    "components": (("rounds", "count"), ("edges_in", "count")),
    "pipeline": (("glue_s", "s"), ("sql_executions", "count")),
}
TRACE = (("wall_s", "s"), ("overhead_s", "s"), ("coverage", "ratio"))


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    units = {}
    for layer in LAYERS:
        for name, unit in COMMON + EXTRA[layer]:
            units[f"{layer}.{name}"] = unit
    del units["pipeline.wall_s"]  # reported as pipeline.glue_s
    for name, unit in TRACE:
        units[f"trace.{name}"] = unit
    return units


@dataclass
class Span:
    layer: str
    stage: str | None
    start: float        # time.monotonic()
    end: float
    cpu_s: float
    parent: str         # id of the traced run


class Tracer:
    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stage: str | None = None
        self.fingerprints: DataFrame | None = None
        self.cc_metrics: list[dict] = []
        self._open: tuple | None = None

    def switch(self, layer: str) -> None:
        now, cpu = time.monotonic(), procstat.tree_cpu_s()
        self._close(now, cpu)
        self._open = (layer, self.stage, now, cpu)
        self.sc.setJobGroup(GROUP_PREFIX + layer, f"{self.stage} ({layer})")

    def close(self) -> None:
        self._close(time.monotonic(), procstat.tree_cpu_s())

    def _close(self, now: float, cpu: float) -> None:
        if self._open is not None:
            layer, stage, t0, cpu0 = self._open
            self.spans.append(Span(layer, stage, t0, now, cpu - cpu0, self.run_id))
            self._open = None


def _switching(fn, layer: str, tracer: Tracer, before=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if before is not None:
            before(args, kwargs)
        tracer.switch(layer)
        return fn(*args, **kwargs)

    return wrapper


@contextmanager
def instrument(tracer: Tracer):
    """Route every layer call ``run_pipeline`` makes through ``tracer``
    for the duration of the block."""

    def on_stage(args, kwargs):
        tracer.stage = args[1]

    def capture_fp(args, kwargs):
        tracer.fingerprints = args[0]

    def cc_rounds(args, kwargs):
        kwargs["metrics_out"] = tracer.cc_metrics

    make_udf = P.make_fingerprint_udf

    def make_fingerprint_udf(*args, **kwargs):
        udf = make_udf(*args, **kwargs)

        def apply(*cols):
            tracer.switch("fingerprints")
            return udf(*cols)

        return apply

    plan = [
        (P.IO, "stage_exists", "pipeline", on_stage),
        (P.Q, "keep", "quality", None),
        (P.Q, "quarantine", "quality", None),
        (P.EX, "labels", "exact", None),
        (P.EX, "pairs_from_labels", "exact", None),
        (P.EX, "survivors_from_labels", "exact", None),
        (P.LSH, "minhash_dup_pairs", "lsh", capture_fp),
        (P.SB, "simhash_dup_pairs", "simhash_block", capture_fp),
        (P.SUB, "substring_dup_pairs", "substring", None),
        (P.CC, "assign_clusters_via_labels", "components", cc_rounds),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in plan]
    try:
        for mod, attr, layer, before in plan:
            setattr(mod, attr, _switching(getattr(mod, attr), layer, tracer, before))
        P.make_fingerprint_udf = make_fingerprint_udf
        yield tracer
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
        P.make_fingerprint_udf = make_udf
        tracer.close()


def count_pairs(fp: DataFrame, cfg: DedupConfig) -> dict[str, dict[str, int]]:
    """Untimed counting pass over the captured fingerprint table: the
    candidate pairs each blocking family emits and the all-vs-all pairs
    its bucket caps forgo, through the public LSH helpers."""
    out = {}
    for layer, bands, star in (
        ("lsh", LSH.minhash_band_table(fp, cfg), True),
        ("simhash_block", SB.simhash_band_table(fp, cfg), False),
    ):
        forgone = LSH.bucket_stats(bands, cfg, star=star).agg(
            F.sum("pairs_dropped")
        ).first()[0]
        out[layer] = {
            "candidates": LSH.candidate_pairs(bands, cfg, star=star).count(),
            "forgone_pairs": int(forgone or 0),
        }
    out["docs_in"] = fp.count()
    return out


def layer_metrics(
    tracer: Tracer,
    log: eventlog.LogSummary,
    stage_rows: dict[str, int],
    counts: dict,
    cores: int,
) -> dict[str, float]:
    """Every per-layer metric of one traced run (0 for a layer that did
    no work on this workload)."""
    m: dict[str, float] = {}
    mb = 2**20
    for layer in LAYERS:
        spans = [s for s in tracer.spans if s.layer == layer]
        wall = sum(s.end - s.start for s in spans)
        cpu = sum(s.cpu_s for s in spans)
        g = log.groups.get(GROUP_PREFIX + layer, eventlog.GroupStats())
        m[f"{layer}.wall_s"] = wall
        m[f"{layer}.cpu_s"] = cpu
        m[f"{layer}.core_util"] = cpu / (wall * cores) if wall else 0.0
        m[f"{layer}.shuffle_write_mb"] = g.shuffle_write_bytes / mb
        m[f"{layer}.spill_mb"] = g.spill_bytes / mb
        m[f"{layer}.jobs"] = g.jobs
        m[f"{layer}.task_skew"] = g.task_skew
    rows = stage_rows.get
    m["quality.quarantined_rows"] = rows("01_quarantine", 0)
    m["exact.survivor_frac"] = rows("02_exact_survivors", 0) / max(rows("01_filtered", 0), 1)
    fp = log.groups.get(GROUP_PREFIX + "fingerprints", eventlog.GroupStats())
    m["fingerprints.python_sent_mb"] = fp.python[eventlog.PY_SENT] / mb
    m["fingerprints.python_returned_mb"] = fp.python[eventlog.PY_RETURNED] / mb
    m["fingerprints.python_run_s"] = fp.python[eventlog.PY_RUN] / 1e3
    fp_cpu = m["fingerprints.cpu_s"]
    m["fingerprints.docs_per_cpu_s"] = rows("03_fingerprints", 0) / fp_cpu if fp_cpu else 0.0
    for layer, stage in (("lsh", "04_minhash_pairs"), ("simhash_block", "05_simhash_pairs")):
        cands = counts[layer]["candidates"]
        m[f"{layer}.docs_in"] = counts["docs_in"]
        m[f"{layer}.candidates"] = cands
        m[f"{layer}.pairs"] = rows(stage, 0)
        m[f"{layer}.verify_yield"] = rows(stage, 0) / cands if cands else 0.0
        m[f"{layer}.forgone_pairs"] = counts[layer]["forgone_pairs"]
    m["substring.pairs"] = rows("06_substring_pairs", 0)
    m["components.rounds"] = sum(1 for r in tracer.cc_metrics if r["mode"] != "narrow_repin")
    m["components.edges_in"] = sum(
        rows(s, 0) for s in ("04_minhash_pairs", "05_simhash_pairs", "06_substring_pairs")
    )
    m["pipeline.glue_s"] = m.pop("pipeline.wall_s")
    m["pipeline.sql_executions"] = log.sql_executions
    return m
