"""Production MinHash profile: recall law, not vibes.

VERDICT r3 flagged the demo profile (8 perms / 4 bands) as a toy: at the
J=0.5 decision threshold its S-curve recalls ~68% of true pairs. These
tests pin the production profile (144 perms / 36 bands of 4 rows,
theoretical recall 1-(1-J^4)^36 = 0.902 at J=0.5) against EMPIRICAL
ground truth on a corpus constructed to have many near-dup pairs right
around the threshold — the region where band geometry actually matters —
and demonstrate the demo profile's miss rate on the same corpus.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mapreduce_spark.functions.text import shingles, tokens
from mapreduce_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    N_BANDS,
    N_PERMS,
    SCALED_BANDS,
    SCALED_PERMS,
    exact_jaccard_truth,
    minhash_lsh_pairs,
    shingle_fingerprints,
)

N_PAIRS = 120
DOC_TOKENS = 60


@pytest.fixture(scope="module", name="hsf")
def hsf_fixture(spark):
    """200+ docs in pairs with token overlaps sweeping 40%..90%, so exact
    shingle-Jaccard truth densely covers [~0.35, ~0.85] — including the
    band around the 0.5 threshold that separates the two profiles."""
    rows = []
    for i in range(N_PAIRS):
        words = [f"p{i}w{j}" for j in range(2 * DOC_TOKENS)]
        # overlap fraction sweeps 0.4..0.9 across pairs
        k = int(DOC_TOKENS * (0.4 + 0.5 * i / (N_PAIRS - 1)))
        a = words[:DOC_TOKENS]
        b = words[DOC_TOKENS - k : 2 * DOC_TOKENS - k]
        rows.append((2 * i, " ".join(a)))
        rows.append((2 * i + 1, " ".join(b)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return shingle_fingerprints(
        docs.select(
            "doc_id", F.array_distinct(shingles(tokens("text"), 3)).alias("sgl")
        )
    )


def test_truth_covers_the_threshold_band(hsf):
    """The fixture must actually produce truth pairs near J=0.5, else the
    recall assertion proves nothing about band geometry."""
    truth = exact_jaccard_truth(hsf, JACCARD_THRESHOLD)
    n_true = truth.count()
    assert n_true >= 40, f"only {n_true} truth pairs - fixture too sparse"


def test_scaled_profile_recall_at_least_090(hsf):
    """The production profile's contract: recall >= 0.9 at J >= 0.5."""
    truth = exact_jaccard_truth(hsf, JACCARD_THRESHOLD)
    found = minhash_lsh_pairs(hsf, SCALED_PERMS, SCALED_BANDS)
    n_true = truth.count()
    # found is exact-verified, hence a subset of truth: count is enough
    n_found = found.count()
    assert n_found <= n_true
    recall = n_found / n_true
    assert recall >= 0.9, f"scaled profile recall {recall:.3f} < 0.9"


def test_demo_profile_misses_threshold_pairs(hsf):
    """The reason the scaled profile exists: on the same corpus the demo
    geometry (4 bands x 2 rows) must recall measurably less — if it
    didn't, the fixture would not be exercising the S-curve and the
    scaled assertion above would be vacuous."""
    truth = exact_jaccard_truth(hsf, JACCARD_THRESHOLD)
    demo = minhash_lsh_pairs(hsf, N_PERMS, N_BANDS)
    n_true = truth.count()
    demo_recall = demo.count() / n_true
    assert demo_recall < 0.9, (
        f"demo profile recall {demo_recall:.3f} >= 0.9 - fixture has no "
        "threshold-band pairs, tighten the overlap sweep"
    )


@pytest.mark.seal
def test_incremental_index_scaled_profile_matches_one_shot(spark, sf_dir):
    """The persistable index under the PRODUCTION 144/36 profile must
    reproduce dedup_minhash_lsh_scaled's cross (old, new) pairs exactly —
    the profile parameter threads through index build and probe."""
    import pyspark.sql.functions as F

    from mapreduce_spark.operators import dedup as D
    from mapreduce_spark.registry import get_queries
    from mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    bands, hashes = D.minhash_index(old, D.SCALED_PERMS, D.SCALED_BANDS)
    got = {
        (r["new_doc"], r["old_doc"], r["jaccard"])
        for r in D.dedup_against_index(
            new, bands, hashes, D.SCALED_PERMS, D.SCALED_BANDS
        ).collect()
    }
    full = get_queries()["dedup_minhash_lsh_scaled"](spark, sf_dir).collect()
    expect = set()
    for r in full:
        a_new, b_new = r["doc_a"] % 5 == 0, r["doc_b"] % 5 == 0
        if a_new and not b_new:
            expect.add((r["doc_a"], r["doc_b"], r["jaccard"]))
        elif b_new and not a_new:
            expect.add((r["doc_b"], r["doc_a"], r["jaccard"]))
    assert got == expect and len(expect) > 0


def test_candidate_precision_consistent_with_pair_output(hsf):
    """The precision gauge's n_verified must equal the pair query's
    output count for the same profile (one pipeline, one number), its
    candidate count can only exceed it, and precision stays in [0, 1].
    On the threshold-sweep corpus both profiles must also admit at least
    one sub-threshold candidate (precision strictly < 1) — the waste the
    gauge exists to measure."""
    from mapreduce_spark.operators.dedup import _candidate_precision

    for perms, bands in ((N_PERMS, N_BANDS), (SCALED_PERMS, SCALED_BANDS)):
        row = _candidate_precision(hsf, perms, bands).collect()[0]
        n_pairs = minhash_lsh_pairs(hsf, perms, bands).count()
        assert row.n_verified == n_pairs
        assert row.n_candidates >= row.n_verified
        assert 0.0 <= row.precision <= 1.0
        assert row.precision < 1.0  # sweep corpus has near-misses
