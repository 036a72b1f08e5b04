"""Hot-bucket guard at scale: bounded bucket work, pairs unchanged.

Plants ONE pathological (band, key) bucket — ``n_hot`` DISTINCT
signatures sharing band-0 key (the near-black-images shape: not exact
copies, so an exact-hash collapse ahead of the join cannot help) —
plus ``n_pairs`` true near-dup pairs recoverable via non-hot bands.
Band 1 of hot member i is i itself and band 2 its 21-bit
complement, so distinct hot members sit at pairwise Hamming >= 2 > the
threshold (max_hamming=1) and every hot member's band-1/band-2 key is
unique — the ONLY hot bucket is the planted band-0 one. Adjacent
PLANTED pairs do share band-2 keys (pair j's twin flips band-2 bit 0,
landing on pair j^1's base key), but every such cross-pair candidate
differs in band 0 AND band 1 (Hamming >= 2 > 1) and is filtered, so
the EXACT expected pair set is still the planted pairs only.

The unguarded join must grind through n_hot²/2 candidates from the hot
bucket (~8.6 G at the default 131 072) — and because a bucket is ONE
join key, that work lands in ONE task: no parallelism saves it, which
is exactly why a single hot bucket stalls a 1000-executor job. With
``bucket_cap`` the bucket is anti-joined away and per-bucket work is
≤ cap²/2. The gate: BOTH runs return exactly the planted pairs (the
guard drops no real pair here), the accounting table lists exactly the
planted bucket, and the guarded run is decisively faster.

Usage: python scripts/scale_smoke_hot_bucket.py [n_hot] (default 131_072)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from solarboat_data_pipeline_spark import get_spark
from solarboat_data_pipeline_spark.operators import dedup as dd

N_HOT = int(sys.argv[1]) if len(sys.argv) > 1 else 131_072
N_PAIRS = 1_000
BITS, BANDS, W = 63, 3, 21
HOT_KEY = 5
CAP = 100

if N_HOT > 1 << W:
    raise SystemExit("band key space caps n_hot at 2^21")


def main() -> None:
    spark = get_spark(app_name="hot-bucket-smoke")

    # hot bucket rows, built distributed: band1 = i, band2 = ~i (21-bit)
    ids = spark.range(0, N_HOT).withColumnRenamed("id", "media_id")
    i_col = F.col("media_id")
    hot = ids.select(
        "media_id",
        (
            F.lit(HOT_KEY)
            + F.shiftleft(i_col, W)
            + F.shiftleft(F.lit((1 << W) - 1) - i_col, 2 * W)
        ).cast("long").alias("phash"),
    )
    # true pairs OUTSIDE the hot bucket: (base, base^'one band-2 bit');
    # band0 key 77+j*2 (odd, never HOT_KEY=5), bands 1-2 unique per pair
    # and disjoint from the hot members' key ranges
    pr = spark.range(0, N_PAIRS).withColumnRenamed("id", "j")
    b0 = F.lit(77) + F.col("j") * 2
    base_sig = (
        b0 + F.shiftleft(F.col("j") + 200_000, W)
        + F.shiftleft(F.col("j") + 600_000, 2 * W)
    ).cast("long")
    pairs_df = pr.select(
        (F.col("j") * 2 + 1_000_000).alias("media_id"),
        base_sig.alias("phash"),
    ).unionAll(
        pr.select(
            (F.col("j") * 2 + 1_000_001).alias("media_id"),
            base_sig.bitwiseXOR(F.lit(1 << (2 * W))).alias("phash"),
        )
    )
    sig = hot.unionAll(pairs_df).cache()
    n = sig.count()
    assert n == N_HOT + 2 * N_PAIRS

    t0 = time.perf_counter()
    capped = dd.banded_signature_pairs(
        sig, max_hamming=1, sig_col="phash", id_col="media_id",
        bits=BITS, bands=BANDS, bucket_cap=CAP,
    )
    n_capped = capped.count()
    t_capped = time.perf_counter() - t0

    hot_acct = dd.banded_hot_buckets(
        sig, CAP, sig_col="phash", id_col="media_id", bits=BITS, bands=BANDS
    ).collect()
    assert [(r.band, r.key, r.n) for r in hot_acct] == [(0, HOT_KEY, N_HOT)], hot_acct

    t0 = time.perf_counter()
    uncapped = dd.banded_signature_pairs(
        sig, max_hamming=1, sig_col="phash", id_col="media_id",
        bits=BITS, bands=BANDS,
    )
    n_uncapped = uncapped.count()
    t_uncapped = time.perf_counter() - t0

    assert n_capped == n_uncapped == N_PAIRS, (n_capped, n_uncapped)
    # exact pair-set equality, not just counts
    assert capped.subtract(uncapped).count() == 0
    assert uncapped.subtract(capped).count() == 0

    print(json.dumps({
        "n_signatures": n,
        "n_hot_bucket": N_HOT,
        "hot_candidates_avoided": N_HOT * (N_HOT - 1) // 2,
        "pairs": n_capped,
        "sec_capped": round(t_capped, 2),
        "sec_uncapped": round(t_uncapped, 2),
        "speedup": round(t_uncapped / t_capped, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
