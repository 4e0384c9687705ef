"""Property-based tests (hypothesis) for the engine's semantic kernels.

The reference ships no randomized testing (SURVEY §5); these properties
exceed its strategy: tokenization and the MR wordcount pipeline are
checked against independent pure-Python models on generated inputs, and
the shuffle hash is checked for the reference's md5 contract.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mapreduce_spark.operators.mr import _md5_partition

# printable-ish text with whitespace and the reference's bracket delimiters
TOKEN_ALPHABET = st.sampled_from(list("abcdef [\t]"))
LINES = st.lists(
    st.text(alphabet=TOKEN_ALPHABET, max_size=30), min_size=0, max_size=8
)


@given(st.text(max_size=40))
@settings(max_examples=200)
def test_md5_partition_matches_reference_contract(key):
    # the reference: int(md5(key).hexdigest(), 16) % R
    # (/root/reference/mapreduce/worker/__main__.py:106-109)
    expect = int(hashlib.md5(key.encode()).hexdigest(), 16)
    assert _md5_partition(key) == expect
    for r in (1, 2, 4, 7):
        assert _md5_partition(key) % r == expect % r


def py_wc(lines: list[str]) -> Counter:
    """Independent model of wc_map|sort|wc_reduce (tr '[ \t]' semantics)."""
    c: Counter = Counter()
    for line in lines:
        for token in re.split(r"[ \t\[\]]", line.lower()):
            c[token] += 1
    return c


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(LINES)
def test_pipe_wordcount_matches_python_model(spark, lines):
    from mapreduce_spark.operators.mr import EXEC_DIR, MapReduceJob

    rdd = spark.sparkContext.parallelize(lines if lines else [""], 2)
    out = MapReduceJob(
        mapper=f"python3 {EXEC_DIR}/wc_map.py",
        reducer=f"python3 {EXEC_DIR}/wc_reduce.py",
        num_reducers=2,
    ).run(rdd).collect()
    got: Counter = Counter()
    for line in out:
        k, v = line.split("\t", 1)
        got[k] += int(v)
    assert got == py_wc(lines if lines else [""])


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.text(alphabet=st.sampled_from(list("ab \tA.")), max_size=20), min_size=1, max_size=6))
def test_tokens_matches_python_model(spark, texts):
    from mapreduce_spark.functions.text import tokens

    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [r[0] for r in df.select(tokens("text").alias("t")).collect()]
    expect = [[w for w in re.split(r"\s+", t.lower()) if w != ""] for t in texts]
    assert got == expect


# ---------------------------------------------------------------------------
# doc_chunk / text_scrub invariants against independent pure-Python models

WORDS = st.lists(
    st.text(alphabet=st.sampled_from(list("abcxyz09._@-")), min_size=1, max_size=8),
    min_size=0,
    max_size=130,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(WORDS)
def test_doc_chunk_covers_tokens_exactly(spark, tmp_path_factory, words):
    """Chunks tile the token stream: starts at every stride offset, window
    clamped at the end, concatenation with overlap removed == original."""
    import pyspark.sql.functions as F

    from mapreduce_spark.operators.textops import CHUNK_STRIDE, CHUNK_TOKENS, doc_chunk

    root = tmp_path_factory.mktemp("chunk_prop")
    text = " ".join(words)
    spark.createDataFrame(
        [(1, text, "en", "prop", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/documents.parquet")

    rows = sorted(
        doc_chunk(spark, str(root)).collect(), key=lambda r: r.chunk_id
    )
    toks = [w.lower() for w in words if w]
    if not toks:
        assert rows == []
        return
    expect_starts = list(range(0, len(toks), CHUNK_STRIDE))
    assert [r.chunk_id for r in rows] == list(range(len(expect_starts)))
    rebuilt: list[str] = []
    for r, s in zip(rows, expect_starts):
        chunk = r.chunk_text.split(" ") if r.chunk_text else []
        assert chunk == toks[s : s + CHUNK_TOKENS]
        assert r.n_tokens == len(chunk) <= CHUNK_TOKENS
        rebuilt.extend(chunk[: CHUNK_STRIDE])
    assert rebuilt == toks


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.text(alphabet=st.sampled_from(list("ab1 .@\t-x8")), max_size=60))
def test_text_scrub_matches_python_model(spark, tmp_path_factory, text):
    """scrub == the same 3 regexes applied by Python's re, then trimmed."""
    import re as _re

    from mapreduce_spark.operators.textops import text_scrub

    root = tmp_path_factory.mktemp("scrub_prop")
    spark.createDataFrame(
        [(1, text, "en", "prop", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/documents.parquet")

    expect = _re.sub(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>", text)
    expect = _re.sub(r"[0-9]{4,}", "<NUM>", expect)
    expect = _re.sub(r"\s+", " ", expect).strip()
    [row] = text_scrub(spark, str(root)).collect()
    assert row.clean_text == expect


# ---------------------------------------------------------------------------
# dedup kernels: shingles and MinHash permutations vs pure-Python models

@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(alphabet=st.sampled_from(list("abc")), min_size=1, max_size=3),
        min_size=0,
        max_size=12,
    )
)
def test_shingles_matches_python_model(spark, toks):
    from mapreduce_spark.functions.text import shingles

    df = spark.createDataFrame([(toks,)], "toks: array<string>")
    got = df.select(shingles(df.toks, 3).alias("s")).collect()[0]["s"]
    expect = [
        " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))
    ]
    assert got == expect


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=0, max_value=2**31 - 2), min_size=1, max_size=20))
def test_minhash_permutation_matches_python_model(spark, hashes):
    from mapreduce_spark.operators.dedup import (
        MINHASH_P,
        N_PERMS,
        _minhash_sig,
        _perm_coeffs,
    )
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(hashes,)], "bs: array<long>")
    got = df.select(
        *[_minhash_sig(F.col("bs"), i).alias(f"sig{i}") for i in range(N_PERMS)]
    ).collect()[0]
    for i in range(N_PERMS):
        a, b = _perm_coeffs(i)
        assert got[f"sig{i}"] == min((a * h + b) % MINHASH_P for h in hashes)


# ---------------------------------------------------------------------------
# cc_star vs an independent union-find model on random graphs

EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ),
    min_size=0,
    max_size=20,
)


def py_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find with min-id labels — the independent model."""
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(EDGES)
def test_cc_star_matches_union_find_model(spark, edges):
    """Star contraction labels every node with its component's minimum
    id — checked against a pure-Python union-find on random graphs
    (self-loops, duplicates, and both orientations included by the
    generator; isolated nodes must come out as singletons)."""
    from mapreduce_spark.operators.graph import cc_star

    n = 15
    edf = spark.createDataFrame(
        edges if edges else [(0, 0)], "a: long, b: long"
    )
    ndf = spark.range(n).withColumnRenamed("id", "id")
    labels, rounds = cc_star(edf, ndf)
    got = {r["id"]: r["component"] for r in labels.collect()}
    assert got == py_components(n, edges)
    assert 1 <= rounds <= 12


# ---------------------------------------------------------------------------
# BPE greedy merge fold: literal path == frame path == pure-Python model

SYMS = st.lists(
    st.text(alphabet=st.sampled_from(list("abc")), min_size=1, max_size=2),
    min_size=1,
    max_size=12,
)


def py_bpe_merge(symbols: list[str], a: str, b: str) -> list[str]:
    """Greedy left-to-right merge: whenever the last emitted symbol is
    `a` and the incoming one is `b`, fuse them into `ab`."""
    out: list[str] = []
    for s in symbols:
        if s == b and out and out[-1] == a:
            out[-1] = a + b
        else:
            out.append(s)
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(SYMS, st.text(alphabet="abc", min_size=1, max_size=2),
       st.text(alphabet="abc", min_size=1, max_size=2))
def test_bpe_merge_fold_paths_match_python_model(spark, symbols, a, b):
    """The codegen'd merge fold equals the Python greedy model, and the
    driver-elected literal path (checkpointed production loop) produces
    the same rewrite as the broadcast 1-row frame path (lazy demo loop)
    for the same rule."""
    import pyspark.sql.functions as F

    from mapreduce_spark.operators.textops import _bpe_merge_frame

    wf = spark.createDataFrame(
        [("w", "|" + "|".join(symbols) + "|", 1)], "word string, w string, f long"
    )
    expect = "|" + "|".join(py_bpe_merge(symbols, a, b)) + "|"
    [lit_row] = _bpe_merge_frame(wf, (a, b)).collect()
    rule = spark.createDataFrame([(a, b)], "a string, b string")
    [frame_row] = _bpe_merge_frame(wf, rule).collect()
    assert lit_row["w"] == expect
    assert frame_row["w"] == expect


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.text(alphabet="abc", min_size=1, max_size=2), min_size=1, max_size=25))
def test_max_run_length_matches_counter_model(spark, items):
    """_max_run_length(sorted arr) == count of the most frequent element."""
    import pyspark.sql.functions as F

    from mapreduce_spark.operators.textops import _max_run_length

    df = spark.createDataFrame([(items,)], "xs: array<string>")
    got = df.select(
        _max_run_length(F.array_sort("xs")).alias("m")
    ).collect()[0]["m"]
    assert got == max(Counter(items).values())


# ---------------------------------------------------------------------------
# Arrow-batched 144-perm signature fan-out vs a pure-python md5 model

SHINGLES = st.lists(
    st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=9,
    ),
    min_size=1,
    max_size=4,
)


def py_minhash_sig(sgl: list[str], n_perms: int) -> list[int]:
    """Independent model: md5-hex-prefix base hash, (a*h + b) mod P min."""
    from mapreduce_spark.operators.dedup import MINHASH_P, _perm_coeffs

    hs = [
        int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % MINHASH_P
        for s in sgl
    ]
    return [
        min((a * h + b) % MINHASH_P for h in hs)
        for a, b in (_perm_coeffs(i) for i in range(n_perms))
    ]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(SHINGLES)
def test_numpy_signature_fanout_matches_python_model(
    spark, monkeypatch, docs
):
    """sig_array_np_from_bs == the pure-python md5 model on generated
    shingle sets — with MH_NP_SLAB pinned to 2 so the slab-split min
    fold (the bounded-memory path a million-shingle document takes) is
    exercised on every example."""
    from mapreduce_spark.operators import dedup

    monkeypatch.setattr(dedup, "MH_NP_SLAB", 2)
    df = spark.createDataFrame(
        [(i, sgl) for i, sgl in enumerate(docs)],
        "doc_id: long, sgl: array<string>",
    )
    got = {
        r["doc_id"]: list(r["sig"])
        for r in dedup.sig_array_np_from_bs(
            dedup._bs_from_hs(dedup.shingle_fingerprints(df)), 7
        ).collect()
    }
    assert got == {i: py_minhash_sig(sgl, 7) for i, sgl in enumerate(docs)}
