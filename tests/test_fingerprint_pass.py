"""Stored shingle-fingerprint pass: equivalence gates.

Every set-similarity consumer derives signatures AND exact-verify sets
from one materialized (doc_id, hs) int64 fingerprint table
(_doc_shingle_hashes) instead of string shingles. These tests pin the
two claims that make that value-preserving, and check the consumers
against the string-semantics reference, their DuckDB oracles:

1. bs = hs % P elementwise equals base_hashes(sgl) — so signatures and
   band keys are bit-identical to the string-shingle derivation;
2. hash-set Jaccard equals string-set Jaccard (md5_long injectivity
   over the corpus's distinct shingles — checked directly), so every
   consumer's rows equal its string-shingle oracle's.
"""

from __future__ import annotations

import importlib.util
import pathlib

import duckdb
import pyspark.sql.functions as F
import pytest

from mapreduce_spark.functions.hashing import md5_long
from mapreduce_spark.operators.dedup import (
    _bs_from_hs,
    _doc_shingle_hashes,
    _doc_shingles,
    base_hashes,
)
from mapreduce_spark.registry import get_oracles, get_queries

# the queries that read the fingerprint pass instead of string shingles
FINGERPRINT_CONSUMERS = [
    "dedup_ngram_jaccard",
    "dedup_recall_report",
    "dedup_recall_report_scaled",
    "dedup_recall_report_oph",
    "minhash_signatures",
    "dedup_precision_report",
    "dedup_precision_report_scaled",
    "minhash_band_stats",
    "ngram_novelty",
    "minhash_bbit_signatures",
    "oph_signatures",
    "dedup_allpairs_prefix",
    "split_leakage_report",
]


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module", name="gate")
def gate_fixture():
    """tools/check_correctness.py, loaded by path (tools/ is not a
    package): its canon/df_to_rows are the driver-compare canonical form."""
    path = pathlib.Path(__file__).resolve().parents[1] / "tools" / "check_correctness.py"
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module", name="duck")
def duck_fixture(gate, sf_dir):
    con = duckdb.connect()
    for t in gate.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def _against_oracle(spark, sf_dir, gate, duck, name):
    """(spark rows, oracle rows), both in the gate's canonical form."""
    sdf = get_queries()[name](spark, sf_dir)
    got = gate.df_to_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    rel = duck.execute(get_oracles()[name])
    want = gate.df_to_rows([d[0] for d in rel.description], rel.fetchall())
    return got, want


def test_fingerprint_base_hashes_bit_identical(spark, sf_dir):
    sh = _doc_shingles(spark, sf_dir).filter(F.size("sgl") > 0)
    ref = sh.select("doc_id", base_hashes(F.col("sgl")).alias("bs"))
    got = _bs_from_hs(_doc_shingle_hashes(spark, sf_dir))
    assert _rows(got, ["doc_id", "bs"]) == _rows(ref, ["doc_id", "bs"])


def test_md5_long_injective_over_corpus_shingles(spark, sf_dir):
    ex = (
        _doc_shingles(spark, sf_dir)
        .select(F.explode("sgl").alias("s"))
        .distinct()
    )
    r = ex.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(md5_long(F.col("s"))).alias("nh"),
    ).first()
    assert r["n"] == r["nh"], "md5_long collision inside the corpus"


def test_fingerprint_trio_frames_match_string_path(spark, sf_dir, gate, duck):
    """The LSH trio (demo k-perm, production k-perm on the Arrow
    kernel, OPH) equals its string-shingle oracle row for row."""
    for name in ("dedup_minhash_lsh", "dedup_minhash_lsh_scaled", "dedup_minhash_lsh_oph"):
        got, want = _against_oracle(spark, sf_dir, gate, duck, name)
        assert want[1], f"{name}: no near-dup pairs, the check proves nothing"
        assert got == want, name


@pytest.mark.parametrize("name", FINGERPRINT_CONSUMERS)
def test_fingerprint_consumer_matches_string_oracle(spark, sf_dir, gate, duck, name):
    got, want = _against_oracle(spark, sf_dir, gate, duck, name)
    assert got == want, name


def test_release_local_checkpoints_empties_executor_storage(spark, sf_dir):
    """Artifact lifecycle: after a materializing query completes,
    release_local_checkpoints unpersists every tracked RDD, so repeated
    invocations (bench reps) cannot accumulate executor storage — the
    context's persistent-RDD map returns to empty."""
    from mapreduce_spark.operators.artifacts import release_local_checkpoints

    _doc_shingle_hashes(spark, sf_dir).count()  # materializes a checkpoint
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() > 0
    released = release_local_checkpoints(spark)
    assert released > 0
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == 0
