"""Prefix-filtered all-pairs join: completeness is a THEOREM here, so
the tests assert set equality with the exhaustive truth (not a recall
floor), plus the thing that makes the tier worth shipping — the prefix
inverted index is strictly smaller than the full one it replaces — and
the lemma's edge: a planted pair at EXACTLY the threshold survives.
"""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from mapreduce_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    _doc_shingle_hashes,
    _prefix_index,
    allpairs_prefix_pairs,
    exact_jaccard_truth,
    shingle_fingerprints,
)


def _pairs(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.select("doc_a", "doc_b").collect()}


@pytest.mark.seal
def test_allpairs_prefix_equals_exhaustive_truth(spark, sf_dir):
    hsf = _doc_shingle_hashes(spark, sf_dir)
    got = _pairs(allpairs_prefix_pairs(hsf))
    truth = _pairs(exact_jaccard_truth(hsf))
    assert got == truth, (
        f"missing={sorted(truth - got)[:5]} extra={sorted(got - truth)[:5]}"
    )


def test_prefix_index_strictly_smaller_than_full(spark, sf_dir):
    """The candidate-volume win: prefix postings must be a strict subset
    of the full inverted index (at t = 0.5 each doc indexes about half
    its shingles)."""
    ex = _doc_shingle_hashes(spark, sf_dir).select(
        "doc_id", F.explode("hs").alias("tok")
    )
    full = ex.count()
    pre = _prefix_index(ex, JACCARD_THRESHOLD)[1].count()
    assert pre < full
    # at t = 0.5 the prefix is just over half of each doc
    assert pre <= 0.6 * full


def test_threshold_boundary_pair_found(spark):
    """Two docs with Jaccard exactly at the threshold must be emitted
    (the prefix lemma is >=, not >): x = {a..f}, y = {a..d, g, h} has
    |intersect| = 4, |union| = 8, J = 0.5."""
    rows = [
        (1, ["a", "b", "c", "d", "e", "f"]),
        (2, ["a", "b", "c", "d", "g", "h"]),
        (3, ["z1", "z2", "z3", "z4", "z5", "z6"]),
    ]
    sh = spark.createDataFrame(rows, "doc_id bigint, sgl array<string>")
    out = allpairs_prefix_pairs(shingle_fingerprints(sh))
    got = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in out.collect()}
    assert got == {(1, 2, 0.5)}
