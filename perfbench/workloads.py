"""Seeded benchmark inputs: each workload writes its pages table to
parquet before anything is timed, and names its planted duplicate
groups for the recall check.

* ``near-dup`` — ``corpus.expanded_documents`` ×40 over a seeded source
  table: cohorts of 8, 1/4 exact copies and 3/4 ~4% near-variants of
  the cohort base. Shipped ``run_pipeline`` defaults (exact verify,
  union mode, no checkpoint dir).
* ``web-mixed`` — ``corpus.generate_corpus`` with its singletons, exact
  and near clusters, substring pairs, quality rejects and boilerplate
  skew bomb, run with ``include_substring=True``.

Both run well below the sizes the pipeline is tuned for, so the LSH
bucket caps are scaled with the corpus (:func:`scaled_config`) to keep
the bucket regimes of the full-size corpora.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from image_dedup_spark import corpus
from image_dedup_spark.config import DEFAULT, DedupConfig

# Docs per workload, and the full-size corpus whose bucket regime it keeps.
NEAR_DUP_SOURCES = 400          # x40 expansion -> 16,000 docs
NEAR_DUP_EXPANSION = 40
NEAR_DUP_REF_DOCS = 200_000     # sf0.1 x 40
WEB_MIXED_DOCS = 4_000
WEB_MIXED_REF_DOCS = 100_000

# Language mix of the sf0.1 documents table.
_LANGS = ["en", "zh", "fr", "es", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


@dataclass(frozen=True)
class Workload:
    n_docs: int
    pages_path: str
    truth: DataFrame            # (doc_id, planted): planted duplicate groups
    cfg: DedupConfig
    include_substring: bool


def scaled_config(n_docs: int, n_ref: int) -> DedupConfig:
    """DEFAULT with the bucket caps scaled from an ``n_ref``-doc corpus to
    ``n_docs``. Band-bucket sizes grow linearly with the corpus (SimHash
    has a fixed 256 values per band), so a linear ``bucket_cap`` keeps
    the over/under-cap split of the reference size: at 200k docs the
    SimHash buckets exceed the cap and are dropped, the MinHash cohort
    buckets stay under it. The salted-pair budget is quadratic in the
    bucket size and scales with its square."""
    s = n_docs / n_ref
    return replace(
        DEFAULT,
        bucket_cap=max(2, round(DEFAULT.bucket_cap * s)),
        max_pairs_per_bucket=max(1, round(DEFAULT.max_pairs_per_bucket * s * s)),
    )


def source_documents(n: int, seed: int) -> pa.Table:
    """A documents table shaped like sf0.1's: 8-76 words from the corpus
    vocabulary (~300 chars), the same language mix."""
    rng = np.random.default_rng(seed)
    vocab = np.array(corpus.VOCAB)
    lens = rng.integers(8, 77, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
        }
    )


def near_dup(
    spark: SparkSession, seed: int, work: str, n_sources: int = NEAR_DUP_SOURCES
) -> Workload:
    src = os.path.join(work, "src")
    os.makedirs(src, exist_ok=True)
    pq.write_table(source_documents(n_sources, seed), f"{src}/documents.parquet")
    pages = corpus.expanded_documents(spark, src, NEAR_DUP_EXPANSION, seed)
    pages_path = f"{work}/pages"
    pages.write.parquet(pages_path)
    # doc_id = src_id * 40 + rep and cohort = rep // 8, so with 40 a
    # multiple of 8 the cohort is doc_id // 8
    truth = spark.read.parquet(pages_path).select(
        "doc_id", (F.col("doc_id") / 8).cast("long").alias("planted")
    )
    n = n_sources * NEAR_DUP_EXPANSION
    return Workload(
        n, pages_path, truth,
        scaled_config(n, NEAR_DUP_REF_DOCS),
        include_substring=False,
    )


def web_mixed(
    spark: SparkSession, seed: int, work: str, n_docs: int = WEB_MIXED_DOCS
) -> Workload:
    pages, truth = corpus.generate_corpus(spark, n_docs, seed)
    pages_path = f"{work}/pages"
    pages.write.parquet(pages_path)
    # the truth table is arithmetic on doc ids only: cheap to recompute
    truth = truth.filter(F.col("kind").isin("exact", "near", "substring")).select(
        "doc_id", F.col("cluster_id").alias("planted")
    )
    return Workload(
        n_docs, pages_path, truth,
        scaled_config(n_docs, WEB_MIXED_REF_DOCS),
        include_substring=True,
    )


WORKLOADS = {"near-dup": near_dup, "web-mixed": web_mixed}
