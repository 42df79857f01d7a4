"""Gate against new copied operator bodies in the package.

Every module-level function of ``wri_data_processing_spark/`` becomes a
token stream: its body without the docstring, re-printed by ``ast.unparse``
(so line breaks, trailing commas and comments do not count), tokenized,
with each string literal collapsed to one placeholder token (column names
and SQL text are the parts a copy changes). Bodies of at least
``MIN_TOKENS`` tokens are compared by the Jaccard overlap of their sets of
``SHINGLE``-token shingles; a pair at ``THRESHOLD`` or above is a twin.

A twin fails the test unless it is in ``ALLOWED`` with the reason it stays.
The fix for a new twin is one shared body in the module that owns it; an
allowed pair that no longer scores as a twin must leave the list.
"""

from __future__ import annotations

import ast
import io
import itertools
import os
import time
import tokenize
from collections import defaultdict

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO_ROOT, "wri_data_processing_spark")
MIN_TOKENS = 120
SHINGLE = 5
THRESHOLD = 0.5

# (qualified name, qualified name) -> why the pair keeps two bodies.
ALLOWED: dict[tuple[str, str], str] = {
    ("queries.tpch_extra.q10_returned_customers", "queries.tpch_extra.q3_shipping_priority"): (
        "two TPC-H queries that share only the customer-orders-lineitem join and the "
        "revenue sum; each keeps its spec shape so it reads against the TPC-H text"
    ),
}

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def body_tokens(fn: ast.FunctionDef) -> list[str]:
    """The function body's tokens, docstring dropped, strings as "S"."""
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        if isinstance(body[0].value.value, str):
            body = body[1:]
    src = "\n".join(ast.unparse(stmt) for stmt in body) + "\n"
    return [
        "S" if t.type == tokenize.STRING else t.string
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type not in _SKIP
    ]


def function_bodies(root: str) -> dict[str, list[str]]:
    """Qualified name (module path below ``root`` + function) -> tokens."""
    out = {}
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            module = os.path.relpath(path, root)[:-3].replace(os.sep, ".")
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in tree.body:
                if isinstance(node, ast.FunctionDef):
                    out[f"{module}.{node.name}"] = body_tokens(node)
    return out


def twin_pairs(bodies: dict[str, list[str]]) -> dict[tuple[str, str], float]:
    """Every pair of bodies of >= MIN_TOKENS tokens at Jaccard >= THRESHOLD."""
    names = [n for n, toks in bodies.items() if len(toks) >= MIN_TOKENS]
    shingles = [set(zip(*(bodies[n][i:] for i in range(SHINGLE)))) for n in names]
    owners = defaultdict(list)
    for i, grams in enumerate(shingles):
        for g in grams:
            owners[g].append(i)
    shared = defaultdict(int)
    for ids in owners.values():
        for pair in itertools.combinations(ids, 2):
            shared[pair] += 1
    out = {}
    for (i, j), n in shared.items():
        score = n / (len(shingles[i]) + len(shingles[j]) - n)
        if score >= THRESHOLD:
            out[tuple(sorted((names[i], names[j])))] = round(score, 2)
    return out


def test_no_unlisted_twin_bodies():
    t0 = time.perf_counter()
    found = twin_pairs(function_bodies(PACKAGE))
    assert time.perf_counter() - t0 < 10.0
    new = {pair: score for pair, score in found.items() if pair not in ALLOWED}
    assert not new, f"near-copy function bodies (fold them or list them with a reason): {new}"
    stale = [pair for pair in ALLOWED if pair not in found]
    assert not stale, f"allowed pairs that are no longer twins: {stale}"


def test_scan_sees_a_renamed_copy(tmp_path):
    """A copy under another function name, without the docstring, with
    other string literals and a comment is still a 1.00 twin; a partial
    copy that keeps 9 of the 12 lines scores 0.52, a twin at THRESHOLD;
    an unrelated body is not."""
    lines = [
        f"    x{i} = F.col('a{i}').cast('long') * y.alias('b') + g(x, {i})" for i in range(12)
    ]
    body = "\n".join(lines)
    other = [f"    z{i} = h(y, {i}) - F.lit({i}).alias('c')" for i in range(3)]
    partial = "\n".join(lines[:9] + other)
    (tmp_path / "m.py").write_text(
        f"def one(x, y):\n    '''doc'''\n{body}\n    return x\n\n"
        f"def two(x, y):\n{body.replace(chr(39) + 'a', chr(39) + 'z')}\n    return x  # note\n\n"
        "def three(x):\n" + "".join(f"    return [{i}] * x + h(x)\n" for i in range(30)) + "\n"
        f"def four(x, y):\n{partial}\n    return x\n"
    )
    found = twin_pairs(function_bodies(str(tmp_path)))
    assert found == {("m.one", "m.two"): 1.0, ("m.four", "m.one"): 0.52, ("m.four", "m.two"): 0.52}
