"""Benchmark harness — the shipped ``run_pipeline`` on the bench corpus.

Prints ONE JSON line:
  {"metric": "...", "value": <pipeline sec>, "unit": "sec",
   "queries": {...per-stage sec...}, "sf": ..., "n_docs": ...,
   "n_clusters": ..., "cluster_fp": ..., "docs_per_sec": ...,
   "cores": ..., "_meta": {"git_sha": ...}}

The corpus is a deterministic in-Spark expansion of
$SPARK_GRAFT_SF_DIR's documents table (exact copies + seeded
near-variants; image_dedup_spark.corpus.expanded_documents) — the same
input at any parallelism level, which the 1c→4c scaling protocol
(scripts/scaling_run.py) requires. Expansion factor:
$SPARK_GRAFT_BENCH_EXPANSION (default 40 → ~200k docs at sf0.1).
``cluster_fp`` is the decimal(38,0) sum of ``cluster_id`` over the
cluster table: equal values across runs mean the same labelling.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F

from image_dedup_spark.corpus import expanded_documents
from image_dedup_spark.plans.pipeline import run_pipeline
from image_dedup_spark.session import get_spark


def _git_sha() -> str:
    """HEAD sha for stamping the bench JSON ("unknown" outside git)."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    expansion = int(os.environ.get("SPARK_GRAFT_BENCH_EXPANSION", "40"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    spark = get_spark(app_name="image_dedup_bench")
    scratch_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="dedup_bench_", dir=scratch_root)
    try:
        # Materialize the corpus outside the timing, in a fixed 128-file
        # layout: identical physical input at every parallelism level,
        # and enough splits that the scan parallelizes at any core count.
        corpus_path = os.path.join(workdir, "corpus")
        expanded_documents(spark, sf_dir, expansion).repartition(
            128
        ).write.parquet(corpus_path)
        pages = spark.read.parquet(corpus_path)
        n_docs = pages.count()

        t0 = time.monotonic()
        res = run_pipeline(spark, pages)
        seconds = round(time.monotonic() - t0, 3)

        n_clusters = res.survivors.count()
        cluster_fp = res.clusters.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)"))
        ).first()[0]
        record = {
            "metric": "end_to_end_dedup_bench",
            "value": seconds,
            "unit": "sec",
            "queries": {m["stage"]: round(m["seconds"], 3) for m in res.metrics},
            "sf": sf,
            "n_docs": n_docs,
            "n_clusters": n_clusters,
            "cluster_fp": str(cluster_fp),
            "docs_per_sec": round(n_docs / seconds, 1),
            "cores": spark.sparkContext.defaultParallelism,
            "_meta": {"git_sha": _git_sha()},
        }
    finally:
        # the corpus sits in /dev/shm (memory): never leave it behind
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()
    print(json.dumps(record))

if __name__ == "__main__":
    main()
