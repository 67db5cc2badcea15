"""LSH recall vs the brute-force oracle — the BASELINE.json gate:
dup-pair recall >= 0.99 at the same shingle/signature/band config
(reference exact scan: samples.cpp:580-633)."""

import pyspark.sql.functions as F
import pytest

from image_dedup_spark.config import DEFAULT
from image_dedup_spark.operators import bruteforce as BF
from image_dedup_spark.operators import exact as EX
from image_dedup_spark.operators import lsh as LSH
from image_dedup_spark.operators import simhash_block as SB


def test_minhash_lsh_recall_vs_exact_jaccard_oracle(spark, fingerprints):
    fp = EX.survivors(fingerprints).cache()
    oracle = {
        (r.src_id, r.dst_id) for r in BF.exact_jaccard_pairs(fp).collect()
    }
    got = {
        (r.src_id, r.dst_id)
        for r in LSH.minhash_dup_pairs(fp, mode="exact").collect()
    }
    assert len(oracle) > 20, "fixture must plant enough near-dups"
    recall = len(oracle & got) / len(oracle)
    assert recall >= 0.99, f"recall={recall} ({len(oracle)} oracle pairs)"
    # verified pairs are never false vs the oracle's own predicate
    assert got <= oracle or len(got - oracle) / max(len(got), 1) < 0.01


def test_simhash_block_recall_vs_hamming_oracle(spark, fingerprints):
    fp = EX.survivors(fingerprints).cache()
    oracle = {(r.src_id, r.dst_id) for r in BF.hamming_pairs(fp).collect()}
    got = {
        (r.src_id, r.dst_id) for r in SB.simhash_dup_pairs(fp).collect()
    }
    assert len(oracle) > 10
    recall = len(oracle & got) / len(oracle)
    assert recall >= 0.99, f"recall={recall} ({len(oracle)} oracle pairs)"
    assert got <= oracle  # verify is the same exact predicate


def test_bucket_stats_account_for_skew(spark):
    """A giant bucket (boilerplate collapse) is starred (O(n) edges to
    the bucket minimum for connectivity) PLUS, while affordable, paired
    all-vs-all inside salt_factor sub-buckets (direct-edge recovery);
    bucket_stats' emitted/dropped accounting must match candidate_pairs
    EXACTLY — same salt assignment, overlap subtracted."""
    from dataclasses import replace

    small_cfg = replace(DEFAULT, bucket_cap=8, salt_factor=8)
    # 40 docs in one band bucket (over cap, affordable: 40 <= 8*8),
    # 3 in another (under cap)
    rows = [(i, 111) for i in range(40)] + [(100 + i, 222) for i in range(3)]
    bands = spark.createDataFrame(rows, "doc_id long, band_key long")

    got = {
        (r.src_id, r.dst_id)
        for r in LSH.candidate_pairs(bands, small_cfg).collect()
    }
    # star to min doc (0) always present; small bucket pairs fully
    assert {(0, i) for i in range(1, 40)} <= got
    assert {(100, 101), (101, 102), (100, 102)} <= got

    # expected salted pairs: same-sub members of the giant bucket,
    # derived with the operator's own salt expression
    subs = {
        r.doc_id: r.sub
        for r in bands.filter("band_key = 111")
        .withColumn("sub", LSH._salt(small_cfg))
        .collect()
    }
    salted = {
        (a, b)
        for a in range(40)
        for b in range(a + 1, 40)
        if subs[a] == subs[b]
    }
    assert salted  # 40 docs into 8 subs must collide somewhere
    expected = (
        {(0, i) for i in range(1, 40)}
        | salted
        | {(100, 101), (101, 102), (100, 102)}
    )
    assert got == expected

    # accounting is exact, not an estimate
    s = {r.band_key: r for r in LSH.bucket_stats(bands, small_cfg).collect()}
    assert s[111].starred and not s[222].starred
    assert s[222].pairs_dropped == 0
    emitted_111 = len({p for p in got if p[0] < 100 and p[1] < 100})
    assert 40 * 39 // 2 - s[111].pairs_dropped == emitted_111


def test_salting_unaffordable_falls_back_to_star_only(spark):
    """Past the affordability bound (sub-buckets would exceed bucket_cap
    or max_pairs_per_bucket) an over-cap bucket emits the star only."""
    from dataclasses import replace

    cfg = replace(DEFAULT, bucket_cap=4, salt_factor=2)  # 40 > 4*2
    rows = [(i, 111) for i in range(40)]
    bands = spark.createDataFrame(rows, "doc_id long, band_key long")
    got = {
        (r.src_id, r.dst_id)
        for r in LSH.candidate_pairs(bands, cfg).collect()
    }
    assert got == {(0, i) for i in range(1, 40)}
    s = {r.band_key: r for r in LSH.bucket_stats(bands, cfg).collect()}
    assert s[111].pairs_dropped == 40 * 39 // 2 - 39

    # max_pairs_per_bucket alone can also veto salting
    cfg2 = replace(DEFAULT, bucket_cap=8, salt_factor=8, max_pairs_per_bucket=10)
    got2 = {
        (r.src_id, r.dst_id)
        for r in LSH.candidate_pairs(bands, cfg2).collect()
    }
    assert got2 == {(0, i) for i in range(1, 40)}


def test_candidate_pairs_star_false_drops_overcap_buckets(spark):
    """star=False (the simhash contract): over-cap buckets produce NO
    pairs at all — neither all-vs-all nor star edges — because for
    low-precision band keys star edges to a random bucket-min just die
    in the downstream verify; small buckets still pair fully."""
    from dataclasses import replace

    small_cfg = replace(DEFAULT, bucket_cap=8)
    rows = [(i, 111) for i in range(40)] + [(100 + i, 222) for i in range(3)]
    bands = spark.createDataFrame(rows, "doc_id long, band_key long")
    got = {
        (r.src_id, r.dst_id)
        for r in LSH.candidate_pairs(bands, small_cfg, star=False).collect()
    }
    assert got == {(100, 101), (101, 102), (100, 102)}
    # the forgone giant-bucket pairs stay visible in the accounting:
    # star=False emits NOTHING from an over-cap bucket, so every one of
    # its n-choose-2 pairs is reported dropped
    s = {
        r.band_key: r
        for r in LSH.bucket_stats(bands, small_cfg, star=False).collect()
    }
    assert s[111].starred and s[111].pairs_dropped == 40 * 39 // 2


def test_hybrid_verify_matches_exact(spark, fingerprints):
    """mode='hybrid' must equal mode='exact' on the fixture (the
    estimate prefilter at threshold-delta loses a true pair only with
    probability exp(-2·delta²·128) ≈ 3.6e-5), and must be a subset of
    exact by construction at ANY delta (same final predicate on the
    same sketches)."""
    from dataclasses import replace

    fp = EX.survivors(fingerprints).cache()
    exact = {
        (r.src_id, r.dst_id, round(r.score, 9))
        for r in LSH.minhash_dup_pairs(fp, mode="exact").collect()
    }
    hybrid = {
        (r.src_id, r.dst_id, round(r.score, 9))
        for r in LSH.minhash_dup_pairs(fp, mode="hybrid").collect()
    }
    assert hybrid == exact
    tight = replace(DEFAULT, hybrid_delta=0.02)
    tight_pairs = {
        (r.src_id, r.dst_id, round(r.score, 9))
        for r in LSH.minhash_dup_pairs(fp, tight, mode="hybrid").collect()
    }
    assert tight_pairs <= exact


def _plan_count(df, name: str) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count(name)


@pytest.mark.parametrize(
    "query, expr",
    [
        ("exact", "array_intersect"),
        ("hybrid", "array_intersect"),
        ("estimate", "zip_with"),
        ("bruteforce", "array_intersect"),
    ],
)
def test_verify_scores_each_pair_once(spark, query, expr):
    """The optimized plan evaluates each pair's score expression once.
    A derived score column that is both filtered and projected gets
    inlined into the pushed-down join condition and the projection
    (6 array_intersect / 2 zip_with per pair); the pairs kept and their
    scores are the same either way."""
    k = DEFAULT.num_hashes
    same = list(range(k))
    fp = spark.createDataFrame(
        [
            (1, [1, 2, 3, 4], 4, same),
            (2, [1, 2, 3, 4, 5], 5, same[: k - 20] + [-1] * 20),
            (3, [1, 2, 9, 10], 4, [-2] * k),
        ],
        "doc_id long, shingles array<long>, n_shingles int, minhash array<int>",
    )
    if query == "bruteforce":
        df = BF.exact_jaccard_pairs(fp)
    else:
        pairs = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3)], "src_id long, dst_id long"
        )
        df = LSH.verify_pairs(pairs, fp, mode=query)
    assert _plan_count(df, expr) == 1
    expected = (1, 2, (k - 20) / k if query == "estimate" else 4 / 5)
    assert [tuple(r)[:3] for r in df.collect()] == [expected]
