"""Codebase hygiene gates (the analog of the reference's style tests,
/root/reference/tests/test_style.py — adapted to this engine's rules).

These encode the scale disciplines as enforceable checks rather than
conventions: no driver materialization in operator paths, no
row-at-a-time Python UDFs, docstrings everywhere, and oracle coverage.
"""

from __future__ import annotations

import pathlib
import re

SRC = pathlib.Path(__file__).resolve().parent.parent / "mapreduce_spark"

# Files allowed to call .collect()/.count() on a DataFrame:
# - plans/audit.py: diagnostic helper, must finalize AQE plans
# - operators/dedup.py: dedup_cluster's per-round convergence test (a
#   scalar aggregate, documented)
COLLECT_ALLOWED = {"plans/audit.py", "operators/dedup.py"}


def _py_files():
    return [p for p in SRC.rglob("*.py")]


def test_no_driver_materialization_in_operator_paths():
    bad = []
    for p in _py_files():
        rel = str(p.relative_to(SRC))
        if rel in COLLECT_ALLOWED:
            continue
        text = p.read_text()
        if re.search(r"\.collect\(\)|\.toPandas\(\)|\.toLocalIterator\(\)", text):
            bad.append(rel)
    assert not bad, f"driver materialization in operator paths: {bad}"


def test_no_row_at_a_time_python_udfs():
    for p in _py_files():
        text = p.read_text()
        assert not re.search(r"F\.udf\(|@udf\b|spark\.udf\.register", text), str(p)


def test_every_public_function_documented():
    undocumented = []
    for p in _py_files():
        text = p.read_text()
        for m in re.finditer(r"^def ([a-z]\w*)\(.*?\).*?:\n(\s+)(\S)", text, re.M | re.S):
            name, _, first = m.groups()
            if not name.startswith("_") and first not in ("\"", "'"):
                undocumented.append(f"{p.name}:{name}")
    assert not undocumented, undocumented


def test_no_local_fs_calls_in_operator_paths():
    """Index/table maintenance must go through the Hadoop FileSystem API
    (sources/fs.py) so the same code works on file://, hdfs:// and
    s3a:// — driver-side shutil against a urlparse'd local path only
    works while the warehouse happens to be the driver's disk (VERDICT
    r6 #7). compat.py is exempt: the reference-parity task farm spools
    to the local disk BY DESIGN (mirroring the reference's tmpdir
    intermediates); streaming/curation spool SOURCES (tempfile + os.*)
    simulate arriving files and stay local by design — this gate bans
    shutil/urlparse, the warehouse-manipulation primitives."""
    bad = []
    for p in _py_files():
        rel = str(p.relative_to(SRC))
        if rel == "compat.py":
            continue
        text = p.read_text()
        if re.search(
            r"^\s*(import shutil\b|from urllib\.parse import)", text, re.M
        ):
            bad.append(rel)
    assert not bad, f"local-FS warehouse manipulation in: {bad}"


def test_no_rand_in_correctness_critical_paths():
    # rand() is allowed only where the ANSWER is salt-independent
    # (wordcount_salted documents this); deterministic md5 elsewhere
    for p in _py_files():
        text = p.read_text()
        for m in re.finditer(r"F\.rand\(", text):
            window = text[max(0, m.start() - 2000):m.start()]
            assert "wordcount_salted" in window, f"unexpected rand() in {p}"


# ---------------------------------------------------------------------------
# Style gate — the analog of the reference's linter CI
# (/root/reference/tests/test_style.py: pycodestyle + pydocstyle + pylint
# with pragma suppression banned). No linters ship in this container and
# installs are off-limits, so the gated rules are implemented directly:
# the same "the gate cannot be silenced inline" discipline, over the
# layout/docstring/error classes those linters would flag here. One
# deliberate deviation: 99-column lines (not 79) — SQL oracle literals
# and Spark expression chains read worse folded to 79.
STYLE_MAX_COLS = 99
STYLE_SCOPE = [SRC, SRC.parent / "tools", SRC.parent / "bench.py",
               SRC.parent / "__spark_entry__.py"]


def _style_files():
    out = []
    for root in STYLE_SCOPE:
        out += root.rglob("*.py") if root.is_dir() else [root]
    return out


def style_violations(text: str, name: str) -> list[str]:
    """All style-gate findings for one source text (empty = clean)."""
    import ast

    found = []
    for i, line in enumerate(text.splitlines(), 1):
        if len(line) > STYLE_MAX_COLS:
            found.append(f"{name}:{i}: line >{STYLE_MAX_COLS} cols")
        if "\t" in line:
            found.append(f"{name}:{i}: tab character")
        if line != line.rstrip():
            found.append(f"{name}:{i}: trailing whitespace")
    try:
        tree = ast.parse(text)
    except SyntaxError as e:
        return found + [f"{name}:{e.lineno}: syntax error"]
    if text.strip() and not ast.get_docstring(tree):
        found.append(f"{name}:1: missing module docstring")
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef) and not node.name.startswith("_") \
                and not ast.get_docstring(node):
            found.append(f"{name}:{node.lineno}: undocumented class")
        if isinstance(node, ast.ExceptHandler) and node.type is None:
            found.append(f"{name}:{node.lineno}: bare except")
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defaults = list(node.args.defaults) + [
                d for d in node.args.kw_defaults if d is not None
            ]
            for d in defaults:
                if isinstance(d, (ast.List, ast.Dict, ast.Set)):
                    found.append(
                        f"{name}:{node.lineno}: mutable default argument"
                    )
    return found


def test_style_gate():
    """Every non-test source file passes the style gate."""
    found = []
    for p in _style_files():
        found += style_violations(p.read_text(), p.name)
    assert not found, found


def test_no_linter_suppression_pragmas():
    """The reference bans silencing the linters inline
    (tests/test_style.py's assert_no_prohibited_terms); same rule here —
    the gate must hold without escape hatches."""
    hits = []
    for p in _style_files():
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if re.search(r"noqa|nopep8|pylint:", line):
                hits.append(f"{p.name}:{i}")
    assert not hits, hits


def test_style_gate_catches_seeded_violations():
    """The gate actually fires: a source snippet seeded with one
    violation of each gated class is fully flagged."""
    bad = (
        '"""Doc."""\n'
        "x = 1  \n"                       # trailing whitespace
        "y = '" + "a" * 120 + "'\n"       # over-long line
        "\tz = 2\n"                       # tab (also syntax, but line checks run first)
    )
    kinds = {v.split(": ", 1)[1] for v in style_violations(bad, "seed.py")}
    assert any("trailing" in k for k in kinds), kinds
    assert any("cols" in k for k in kinds), kinds
    assert any("tab" in k for k in kinds), kinds
    bad2 = (
        "import os\n"
        "class C:\n    pass\n"
        "def f(a=[]):\n    pass\n"
        "try:\n    pass\nexcept:\n    pass\n"
    )
    kinds2 = {v.split(": ", 1)[1] for v in style_violations(bad2, "seed2.py")}
    assert {"missing module docstring", "undocumented class",
            "mutable default argument", "bare except"} <= kinds2, kinds2


def test_no_hard_coded_checkout_path():
    """Relocatable checkout: the package, tests and tools find the tree
    from their own location, never from an absolute path baked into the
    source — a copy run elsewhere would otherwise silently import the
    original tree. Flags this checkout's own path, and any sys.path
    entry spelled as an absolute string literal."""
    root = SRC.parent
    abs_sys_path = re.compile(r"""sys\.path\.(?:insert|append)\([^)]*["']/""")
    hits = []
    for d in ("mapreduce_spark", "tests", "tools"):
        for p in (root / d).rglob("*.py"):
            for i, line in enumerate(p.read_text().splitlines(), 1):
                if str(root) in line or abs_sys_path.search(line):
                    hits.append(f"{p.relative_to(root)}:{i}")
    assert not hits, hits
