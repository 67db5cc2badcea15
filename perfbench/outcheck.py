"""Output check of one ``run_pipeline`` result, run after the timed
region.

Invariants: every input doc appears exactly once in clusters ∪
quarantine; each ``cluster_id`` is the min ``doc_id`` of its members and
``is_representative`` marks exactly that doc; docs with byte-identical
text share a cluster. The result's identity is ``n_clusters`` plus
``cluster_fp`` = Σ xxhash64(doc_id, cluster_id) as decimal(38,0), which
must repeat exactly across runs of one commit on one seed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class Outcome:
    n_clusters: int
    cluster_fp: str
    pair_recall: float
    errors: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.errors


_ERRORS = {
    "extra": "docs in clusters ∪ quarantine that are not input docs",
    "missing": "input docs missing from clusters ∪ quarantine",
    "repeated": "input docs repeated in clusters ∪ quarantine",
    "bad_rep": "rows with a wrong is_representative",
    "bad_min": "clusters whose id is not their min doc_id",
    "split": "identical-text groups split across clusters",
}


def _rows(agg: DataFrame) -> DataFrame:
    """A one-row aggregate as (name, value) rows, so that every check
    unions into one Spark action."""
    kv = [x for c in agg.columns for x in (F.lit(c), F.col(c).cast("decimal(38,0)"))]
    return agg.select(F.explode(F.create_map(*kv)).alias("name", "value"))


def check(pages: DataFrame, truth: DataFrame, clusters: DataFrame,
          quarantine: DataFrame) -> Outcome:
    out = clusters.select("doc_id").unionByName(quarantine.select("doc_id"))
    cover = (
        pages.select("doc_id", F.lit(1).alias("inp"))
        .join(out.groupBy("doc_id").agg(F.count("*").alias("n")), "doc_id", "full")
        .agg(
            F.sum(F.col("inp").isNull().cast("int")).alias("extra"),
            F.sum(F.col("n").isNull().cast("int")).alias("missing"),
            F.sum((F.col("n") > 1).cast("int")).alias("repeated"),
        )
    )
    ident = (
        clusters.groupBy("cluster_id")
        .agg(
            F.min("doc_id").alias("m"),
            F.sum(
                (F.col("is_representative") != (F.col("doc_id") == F.col("cluster_id")))
                .cast("int")
            ).alias("bad_rep"),
            F.sum(F.xxhash64("doc_id", "cluster_id").cast("decimal(38,0)")).alias("fp"),
        )
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum((F.col("m") != F.col("cluster_id")).cast("int")).alias("bad_min"),
            F.sum("bad_rep").alias("bad_rep"),
            F.sum("fp").alias("fp"),
        )
    )
    split = (
        pages.select("doc_id", F.xxhash64("text").alias("h"))
        .join(clusters.select("doc_id", "cluster_id"), "doc_id")
        .groupBy("h")
        .agg(F.countDistinct("cluster_id").alias("k"))
        .agg(F.sum((F.col("k") > 1).cast("int")).alias("split"))
    )
    # twice the planted pairs, and twice those whose two docs share a
    # cluster (a quarantined doc has no cluster and misses its pairs)
    recall = (
        truth.join(clusters.select("doc_id", "cluster_id"), "doc_id", "left")
        .groupBy("planted", "cluster_id")
        .agg(F.count("*").alias("n"))
        .groupBy("planted")
        .agg(
            F.sum(
                F.when(F.col("cluster_id").isNotNull(), F.col("n") * (F.col("n") - 1))
            ).alias("f"),
            F.sum("n").alias("m"),
        )
        .agg(
            F.sum("f").alias("found2"),
            F.sum(F.col("m") * (F.col("m") - 1)).alias("planted2"),
        )
    )
    v = {
        r["name"]: r["value"]
        for r in _rows(cover).unionByName(_rows(ident)).unionByName(_rows(split))
        .unionByName(_rows(recall)).collect()
    }
    n = {k: int(x or 0) for k, x in v.items()}
    errors = [f"{n[k]} {msg}" for k, msg in _ERRORS.items() if n[k]]
    recall = n["found2"] / n["planted2"] if n["planted2"] else 1.0
    return Outcome(n["n_clusters"], str(v["fp"]), recall, errors)
