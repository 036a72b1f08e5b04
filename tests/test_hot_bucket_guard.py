"""Hot-bucket guard on the banded signature self-join (VERDICT r12 #4).

A (band, key) bucket shared by many DISTINCT-but-near signatures —
near-black images, boilerplate text — makes the banded self-join emit
~n²/2 candidates for that bucket even though exact-copy skew was already
collapsed upstream. ``bucket_cap`` excludes such buckets via a bounded
broadcast anti-join; :func:`banded_hot_buckets` enumerates exactly what
was dropped so the truncation is never silent.

Planted geometry (bits=63, bands=3, w=21 → band b = bits 21b..21b+20):
* a HOT bucket: ``n_hot`` signatures all sharing band-0 key 5, pairwise
  Hamming far above the threshold (no true pairs lost by dropping it);
* true near-dup pairs whose band-0 keys ARE the hot key on one side —
  proving recovery rides the other, non-hot bands.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from solarboat_data_pipeline_spark.operators import dedup as dd
from solarboat_data_pipeline_spark.operators import perceptual as pc
from solarboat_data_pipeline_spark.plans.audit import explain_string

BITS, BANDS, W = 63, 3, 21
HOT_KEY = 5


def _sig(b0: int, b1: int, b2: int) -> int:
    assert all(0 <= b < (1 << W) for b in (b0, b1, b2))
    return b0 | (b1 << W) | (b2 << 2 * W)


def _rep3(i: int) -> int:
    """7-bit i as a 21-bit tripled-repetition code: min pairwise
    Hamming distance 3 per differing source bit."""
    assert 0 <= i < 128
    out = 0
    for b in range(7):
        if (i >> b) & 1:
            out |= 0b111 << (3 * b)
    return out


def _corpus(spark, n_hot: int):
    """n_hot hot-bucket rows + two true pairs, as (media_id, phash)."""
    rows = []
    # hot bucket: band0 key = HOT_KEY; bands 1-2 carry tripled-bit codes
    # of i, so distinct members sit at pairwise Hamming >= 6 > threshold
    for i in range(n_hot):
        rows.append((i, _sig(HOT_KEY, _rep3(i), _rep3(127 - i))))
    # true pair A: differs in ONE band-0 bit; band0 keys are HOT_KEY and
    # HOT_KEY^1 (one side sits in the hot bucket) — found via bands 1-2,
    # whose keys (1000, 2000) are unique to this pair (non-hot)
    rows.append((10_000, _sig(HOT_KEY, 1000, 2000)))
    rows.append((10_001, _sig(HOT_KEY ^ 1, 1000, 2000)))
    # true pair B: entirely outside the hot bucket, differs in one
    # band-2 bit → matches on bands 0 and 1
    rows.append((10_002, _sig(77, 3000, 4000)))
    rows.append((10_003, _sig(77, 3000, 4000 ^ 2)))
    return spark.createDataFrame(rows, "media_id long, phash long")


TRUE_PAIRS = {(10_000, 10_001, 1), (10_002, 10_003, 1)}


def _pairs(df, **kw):
    out = dd.banded_signature_pairs(
        df, max_hamming=2, sig_col="phash", id_col="media_id",
        bits=BITS, bands=BANDS, **kw,
    )
    return {tuple(r) for r in out.collect()}


def test_capped_pairs_identical_when_true_pairs_share_nonhot_band(spark):
    sig = _corpus(spark, n_hot=40)
    uncapped = _pairs(sig)
    capped = _pairs(sig, bucket_cap=10)
    assert uncapped == capped == TRUE_PAIRS


def test_hot_bucket_accounting_lists_exactly_the_planted_bucket(spark):
    sig = _corpus(spark, n_hot=40)
    hot = dd.banded_hot_buckets(
        sig, 10, sig_col="phash", id_col="media_id", bits=BITS, bands=BANDS
    ).collect()
    # 40 hot rows + pair A's in-bucket member = 41
    assert [(r.band, r.key, r.n) for r in hot] == [(0, HOT_KEY, 41)]


def test_cap_boundary_is_strictly_greater_than(spark):
    # n == cap kept (no drops), n == cap - 1 also kept; dropping starts
    # strictly above the cap
    sig = _corpus(spark, n_hot=40)
    assert dd.banded_hot_buckets(
        sig, 41, sig_col="phash", id_col="media_id", bits=BITS, bands=BANDS
    ).count() == 0
    assert _pairs(sig, bucket_cap=41) == TRUE_PAIRS
    with pytest.raises(ValueError, match="bucket_cap"):
        dd.banded_hot_buckets(
            sig, 0, sig_col="phash", id_col="media_id", bits=BITS, bands=BANDS
        ).count()


def test_pair_confined_to_hot_bucket_is_dropped_and_accounted(spark):
    """A pair whose ONLY matching band is hot is the guard's precision
    cost: it disappears from the capped output but its bucket is in the
    accounting table."""
    rows = [(i, _sig(HOT_KEY, _rep3(i), _rep3(127 - i))) for i in range(30)]
    # this pair matches ONLY on band 0 (= the hot key): bands 1-2 differ
    rows.append((50_000, _sig(HOT_KEY, 5000, 6000)))
    rows.append((50_001, _sig(HOT_KEY, 5001, 6001)))  # hamming 2 total
    df = spark.createDataFrame(rows, "media_id long, phash long")
    ham = bin(_sig(HOT_KEY, 5000, 6000) ^ _sig(HOT_KEY, 5001, 6001)).count("1")
    assert ham == 2
    assert (50_000, 50_001, 2) in _pairs(df)
    assert (50_000, 50_001, 2) not in _pairs(df, bucket_cap=10)
    hot = dd.banded_hot_buckets(
        df, 10, sig_col="phash", id_col="media_id", bits=BITS, bands=BANDS
    ).collect()
    assert [(r.band, r.key) for r in hot] == [(0, HOT_KEY)]


def test_guard_plan_uses_bounded_broadcast_anti_join(spark):
    sig = _corpus(spark, n_hot=40)
    plan = explain_string(
        dd.banded_signature_pairs(
            sig, max_hamming=2, sig_col="phash", id_col="media_id",
            bits=BITS, bands=BANDS, bucket_cap=10,
        )
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # unguarded plan has no anti-join at all
    plan0 = explain_string(
        dd.banded_signature_pairs(
            sig, max_hamming=2, sig_col="phash", id_col="media_id",
            bits=BITS, bands=BANDS,
        )
    )
    assert "LeftAnti" not in plan0


def test_simhash_near_dup_pairs_accepts_cap_and_is_unchanged_without_hot(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog again"),
            (3, "completely different content about spark shuffles"),
            (4, "completely different content about spark shuffles"),
        ],
        "doc_id long, text string",
    )
    base = {tuple(r) for r in dd.simhash_near_dup_pairs(docs).collect()}
    capped = {
        tuple(r)
        for r in dd.simhash_near_dup_pairs(docs, bucket_cap=100).collect()
    }
    assert base == capped and base  # non-empty and identical


def test_dedup_hot_buckets_over_simhash_table(spark):
    docs = spark.createDataFrame(
        [(i, "identical boilerplate text") for i in range(12)],
        "doc_id long, text string",
    )
    sh = dd.simhash_table(docs)
    hot = dd.banded_hot_buckets(sh, 5).collect()
    # all 12 docs share one simhash → every band's bucket holds 12
    assert sorted((r.band, r.n) for r in hot) == [(b, 12) for b in range(dd.BANDS)]


# --- randomized property: banded join == brute force, cap sound --------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _brute_pairs(sigs: list[tuple[int, int]], max_hamming: int) -> set:
    out = set()
    for i in range(len(sigs)):
        for j in range(i + 1, len(sigs)):
            (ia, sa), (ib, sb) = sigs[i], sigs[j]
            if ia == ib:
                continue
            h = bin(sa ^ sb).count("1")
            if h <= max_hamming:
                a, b = min(ia, ib), max(ia, ib)
                out.add((a, b, h))
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, (1 << 63) - 1)),
        min_size=2,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.sampled_from([(2, 3), (1, 3), (2, 7)]),
)
def test_banded_pairs_match_brute_force(spark, sigs, mh_bands):
    """Pigeonhole exact recall on ARBITRARY signatures: the banded join's
    pair set equals the brute-force Hamming scan for max_hamming < bands,
    for several (max_hamming, bands) geometries (63 = 3*21 = 7*9)."""
    max_hamming, bands = mh_bands
    df = spark.createDataFrame(
        [(i, s - (1 << 63) if s >= (1 << 62) * 2 else s) for i, s in sigs],
        "media_id long, phash long",
    )
    # brute reference over the SIGNED values actually stored
    stored = [(r.media_id, r.phash & ((1 << 64) - 1)) for r in df.collect()]
    want = _brute_pairs(stored, max_hamming)
    got = {
        tuple(r)
        for r in dd.banded_signature_pairs(
            df, max_hamming=max_hamming, sig_col="phash", id_col="media_id",
            bits=63, bands=bands,
        ).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, (1 << 63) - 1)),
        min_size=2,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
)
def test_capped_pairs_are_sound_and_accounted(spark, sigs):
    """With an aggressive cap the output is a SUBSET of the exact pair
    set (never a wrong pair), and every missing pair's matching bands
    are all in the accounting table — the no-silent-truncation
    invariant on arbitrary corpora."""
    df = spark.createDataFrame(
        [(i, s - (1 << 63) if s >= (1 << 62) * 2 else s) for i, s in sigs],
        "media_id long, phash long",
    )
    stored = {r.media_id: r.phash & ((1 << 64) - 1) for r in df.collect()}
    want = _brute_pairs(list(stored.items()), 2)
    cap = 2
    got = {
        tuple(r)
        for r in dd.banded_signature_pairs(
            df, max_hamming=2, sig_col="phash", id_col="media_id",
            bits=63, bands=3, bucket_cap=cap,
        ).collect()
    }
    assert got <= want
    hot = {
        (r.band, r.key)
        for r in dd.banded_hot_buckets(
            df, cap, sig_col="phash", id_col="media_id", bits=63, bands=3
        ).collect()
    }

    def bands_of(sig):
        return [(t, (sig >> (21 * t)) & ((1 << 21) - 1)) for t in range(3)]

    for (a, b, _h) in want - got:
        shared = [
            bk for bk in bands_of(stored[a]) if bk in set(bands_of(stored[b]))
        ]
        assert shared, "a true pair must share at least one band"
        assert all(bk in hot for bk in shared), (
            f"pair ({a},{b}) dropped but some shared band {shared} "
            "is not in the accounting table"
        )


# --- incremental (index-join) form of the guard -------------------------------


def test_incremental_cap_bounds_index_buckets(spark):
    """phash_near_dup_against(bucket_cap=...): a hot INDEX bucket is
    anti-joined away; matches riding other bands survive; drops are
    enumerable via banded_hot_buckets over the index's distinct
    signatures."""
    # two incoming images from DIFFERENT planted groups (same-group
    # variants hash identically, which would let both match the planted
    # exact dup) — doc ids 0 (g=0) and 4 (g=1)
    media = pc.synthesize_phash_media(
        spark.createDataFrame([(0,), (4,)], "doc_id long")
    )
    real_sigs = {r.media_id: r.phash for r in pc.dhash_table(media).collect()}
    # rebuild the index so one entry EQUALS image 0's real hash (hamming 0
    # via every band) and the hot bucket shares image 4's band-0 key only
    h0, h1 = real_sigs[0], real_sigs[4]
    b0_of_h1 = h1 & ((1 << W) - 1)
    # deterministic-corpus precondition: the two groups' band-0 keys
    # differ, so the planted exact dup sits entirely outside the hot
    # bucket and the accounting count below is exactly 30
    assert (h0 & ((1 << W) - 1)) != b0_of_h1
    rows = [(2000, h0)]  # exact dup of incoming image 0, no hot band
    rows += [
        (i, _sig(b0_of_h1, _rep3(i), _rep3(127 - i))) for i in range(30)
    ]  # hot bucket on image 1's band-0 key; far in bands 1-2
    idx = pc.phash_band_index(
        spark.createDataFrame(rows, "media_id long, phash long"),
        bits=BITS, bands=BANDS,
    )
    out = {
        (r.inc_id, r.seen_id)
        for r in pc.phash_near_dup_against(
            media, idx, max_hamming=2, bucket_cap=10
        ).collect()
    }
    # image 0 still matches its exact dup (bands 1-2 non-hot);
    # image 4 gains no match (its only shared band is the capped one,
    # and the hot members are far anyway)
    assert (0, 2000) in out
    assert all(i != 4 for (i, _) in out)
    # accounting over the index's distinct signatures
    sig_rows = idx.select("media_id", "phash").distinct()
    hot = dd.banded_hot_buckets(
        sig_rows, 10, sig_col="phash", id_col="media_id",
        bits=BITS, bands=BANDS,
    ).collect()
    assert [(r.band, r.key, r.n) for r in hot] == [(0, b0_of_h1, 30)]
    # and without the cap the output is a superset (nothing else changes)
    out_uncapped = {
        (r.inc_id, r.seen_id)
        for r in pc.phash_near_dup_against(media, idx, max_hamming=2).collect()
    }
    assert out <= out_uncapped and (0, 2000) in out_uncapped


def test_near_dup_against_bucket_cap_on_boilerplate_index(spark):
    """Text twin of the incremental guard: an index full of ONE
    boilerplate document's bands is a hot (band, band_hash) bucket; with
    bucket_cap the boilerplate incoming doc is no longer band-matched
    (survives — exact dedup is the right tool at that copy count, and
    the skipped buckets are enumerated), while a doc matching a
    NON-boilerplate indexed doc is still dropped."""
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rare = "completely original content about catalyst shuffle planning"
    seen = spark.createDataFrame(
        [(i, boiler) for i in range(40)] + [(500, rare)],
        "doc_id long, text string",
    )
    idx = dd.band_index(seen)
    incoming = spark.createDataFrame(
        [(1000, boiler), (1001, rare), (1002, "something entirely new here")],
        "doc_id long, text string",
    )
    uncapped = {r.doc_id for r in dd.near_dup_against(incoming, idx).collect()}
    assert uncapped == {1002}  # both matches dropped
    capped = {
        r.doc_id
        for r in dd.near_dup_against(incoming, idx, bucket_cap=10).collect()
    }
    # boilerplate incoming SURVIVES (its only buckets are hot), rare
    # match still dropped, novel doc still kept
    assert capped == {1000, 1002}
    hot = dd.lsh_hot_buckets(idx, 10).collect()
    assert len(hot) == dd.BANDS and all(r.n == 40 for r in hot)
    with pytest.raises(ValueError, match="bucket_cap"):
        dd.lsh_hot_buckets(idx, 0).count()
