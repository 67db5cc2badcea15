"""Brute-force all-pairs oracle — the reference's exact O(n²/2)
lower-triangle scan (/root/reference/samples.cpp:580-633) re-expressed
as a Spark theta-join. NOT the scale path: it exists (a) as the recall
oracle for the LSH paths at n <= a few thousand and (b) as the honest
small-n compatibility mode, exactly as SURVEY.md §2.4 D2 prescribes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from image_dedup_spark.config import DEFAULT, DedupConfig
from image_dedup_spark.functions.hashing import hamming, popcount
from image_dedup_spark.operators.lsh import jaccard_score, keep_scored


def triangle_pairs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """All (src_id < dst_id) pairs — the lower-triangle pair space."""
    a = df.select([F.col(c).alias(f"a_{c}") for c in df.columns])
    b = df.select([F.col(c).alias(f"b_{c}") for c in df.columns])
    return a.join(b, F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))


def exact_jaccard_pairs(
    fingerprints: DataFrame, cfg: DedupConfig = DEFAULT
) -> DataFrame:
    """Exact-Jaccard all-pairs (shingle sketches), threshold >= cfg value."""
    t = triangle_pairs(fingerprints.select("doc_id", "shingles", "n_shingles"))
    return (
        keep_scored(
            t,
            F.size(F.array_intersect("a_shingles", "b_shingles")),
            jaccard_score(F.col("a_n_shingles"), F.col("b_n_shingles")),
            cfg.jaccard_threshold,
        )
        .select(
            F.col("a_doc_id").alias("src_id"),
            F.col("b_doc_id").alias("dst_id"),
            "score",
        )
    )


def hamming_pairs(
    fingerprints: DataFrame, cfg: DedupConfig = DEFAULT
) -> DataFrame:
    """Exact Hamming all-pairs over simhash, strict '<' threshold, with
    the reference's popcount prefilter ordered first
    (samples.cpp:584-585, 616-617)."""
    fp = fingerprints.select(
        "doc_id", "simhash", popcount(F.col("simhash")).alias("pop")
    )
    t = triangle_pairs(fp)
    return (
        t.filter(F.abs(F.col("a_pop") - F.col("b_pop")) < cfg.simhash_threshold)
        .withColumn("dist", hamming(F.col("a_simhash"), F.col("b_simhash")))
        .filter(F.col("dist") < cfg.simhash_threshold)
        .select(
            F.col("a_doc_id").alias("src_id"),
            F.col("b_doc_id").alias("dst_id"),
            F.col("dist").cast("double").alias("score"),
        )
    )
