"""Gate against new copies in the package, of code and of SQL text.

Two scans share one Jaccard routine, ``twin_pairs``: each item becomes a
token stream, streams of at least a minimum length are compared by the
Jaccard overlap of their sets of k-token shingles, and a pair at the
threshold or above is a twin.

- **Function bodies.** Every module-level function of
  ``wri_data_processing_spark/``: its body without the docstring,
  re-printed by ``ast.unparse`` (so line breaks, trailing commas and
  comments do not count), tokenized, with each string literal collapsed to
  one placeholder token (column names and SQL text are the parts a copy
  changes). Bodies of ``BODY_MIN_TOKENS`` tokens are compared by
  ``BODY_SHINGLE``-token shingles at ``BODY_THRESHOLD``.
- **String literals.** Every ``str`` constant that is not a docstring and
  every f-string, which is where the DuckDB oracle SQL lives. An f-string
  is scanned whole, each ``{...}`` field one placeholder token, and its
  constant parts are not scanned again. Tokens are lower-cased words,
  numbers and punctuation, so indentation and line breaks do not count.
  Literals of ``SQL_MIN_TOKENS`` tokens are compared by
  ``SQL_SHINGLE``-token shingles at ``SQL_THRESHOLD``. A literal is named
  by the function (or module-level name) that holds it, so an op's oracle
  carries the name of the function its ``@query`` decorates.

A twin fails its test unless it is in that scan's allowlist with the
reason it stays. The fix for a new twin is one shared body, CTE string or
SQL builder in the module that owns it; an allowed pair that no longer
scores as a twin must leave its list.
"""

from __future__ import annotations

import ast
import io
import itertools
import os
import re
import time
import tokenize
from collections import defaultdict

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO_ROOT, "wri_data_processing_spark")
BODY_MIN_TOKENS, BODY_SHINGLE, BODY_THRESHOLD = 120, 5, 0.45
SQL_MIN_TOKENS, SQL_SHINGLE, SQL_THRESHOLD = 80, 8, 0.5

# (qualified name, qualified name) -> why the pair keeps two bodies.
BODY_ALLOWED: dict[tuple[str, str], str] = {
    ("queries.tpch_extra.q10_returned_customers", "queries.tpch_extra.q3_shipping_priority"): (
        "two TPC-H queries that share only the customer-orders-lineitem join and the "
        "revenue sum; each keeps its spec shape so it reads against the TPC-H text"
    ),
    ("streaming.pipelines.running_user_totals", "streaming.pipelines.user_type_census_v1"): (
        "two applyInPandasWithState operators that share only the framework's call "
        "(update mode, no timeout) and its get-fold-update-yield skeleton; the fold "
        "(a running sum vs a set of event types kept as a sorted list) is the whole "
        "difference, so a shared body would have to branch on which state its caller "
        "keeps or take the fold as code"
    ),
}

# (qualified name, qualified name) -> why the pair keeps two SQL texts.
SQL_ALLOWED: dict[tuple[str, str], str] = {}

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}
_SQL_TOKEN = re.compile(r"\w+|[^\w\s]")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _docstring(node: ast.AST) -> ast.Constant | None:
    body = node.body if isinstance(node, (ast.Module, *_DEFS)) else None
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        if isinstance(body[0].value.value, str):
            return body[0].value
    return None


def modules(root: str):
    """(module path below ``root``, parsed tree) of every .py file."""
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, root)[:-3].replace(os.sep, "."), ast.parse(fh.read())


def body_tokens(fn: ast.FunctionDef) -> list[str]:
    """The function body's tokens, docstring dropped, strings as "S"."""
    body = fn.body[1:] if _docstring(fn) else fn.body
    src = "\n".join(ast.unparse(stmt) for stmt in body) + "\n"
    return [
        "S" if t.type == tokenize.STRING else t.string
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type not in _SKIP
    ]


def function_bodies(root: str, min_tokens: int = BODY_MIN_TOKENS) -> dict[str, list[str]]:
    """Qualified name (module path below ``root`` + function) -> tokens,
    for bodies of at least ``min_tokens`` tokens."""
    bodies = (
        (f"{module}.{node.name}", body_tokens(node))
        for module, tree in modules(root)
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
    )
    return {name: toks for name, toks in bodies if len(toks) >= min_tokens}


def literal_tokens(node: ast.Constant | ast.JoinedStr) -> list[str]:
    """A string literal's SQL tokens; each f-string field is "{}"."""
    parts = node.values if isinstance(node, ast.JoinedStr) else [node]
    out = []
    for part in parts:
        if isinstance(part, ast.Constant):
            out += _SQL_TOKEN.findall(part.value.lower())
        else:
            out.append("{}")
    return out


def string_literals(root: str, min_tokens: int = SQL_MIN_TOKENS) -> dict[str, list[str]]:
    """Qualified owner name -> tokens of every non-docstring string literal
    of at least ``min_tokens`` tokens; an owner holding several such
    literals numbers them ``[1]``, ``[2]``, ..."""
    found: dict[str, list[list[str]]] = defaultdict(list)

    def visit(node: ast.AST, owner: str) -> None:
        if id(node) in docs:
            return
        if isinstance(node, (ast.JoinedStr, ast.Constant)):
            if isinstance(node, ast.JoinedStr) or isinstance(node.value, str):
                if len(toks := literal_tokens(node)) >= min_tokens:
                    found[owner].append(toks)
            return
        if isinstance(node, _DEFS):
            owner = f"{owner}.{node.name}"
        elif isinstance(node, (ast.Assign, ast.AnnAssign)) and owner == module:
            target = node.targets[0] if isinstance(node, ast.Assign) else node.target
            if isinstance(target, ast.Name):
                owner = f"{owner}.{target.id}"
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    for module, tree in modules(root):
        docs = {id(d) for n in ast.walk(tree) if (d := _docstring(n)) is not None}
        visit(tree, module)
    out = {}
    for owner, streams in found.items():
        for i, toks in enumerate(streams, 1):
            out[owner if len(streams) == 1 else f"{owner}[{i}]"] = toks
    return out


def twin_pairs(streams: dict[str, list[str]], shingle: int, threshold: float) -> dict[tuple[str, str], float]:
    """Every pair of streams whose sets of ``shingle``-token shingles
    overlap at Jaccard >= threshold."""
    names = list(streams)
    shingles = [set(zip(*(streams[n][i:] for i in range(shingle)))) for n in names]
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
        if score >= threshold:
            out[tuple(sorted((names[i], names[j])))] = round(score, 2)
    return out


def body_twins(root: str) -> dict[tuple[str, str], float]:
    return twin_pairs(function_bodies(root), BODY_SHINGLE, BODY_THRESHOLD)


def sql_twins(root: str) -> dict[tuple[str, str], float]:
    return twin_pairs(string_literals(root), SQL_SHINGLE, SQL_THRESHOLD)


def _check(found: dict[tuple[str, str], float], allowed: dict[tuple[str, str], str], what: str) -> None:
    new = {pair: score for pair, score in found.items() if pair not in allowed}
    assert not new, f"near-copy {what} (fold them or list them with a reason): {new}"
    stale = [pair for pair in allowed if pair not in found]
    assert not stale, f"allowed pairs that are no longer twins: {stale}"


def test_no_unlisted_twin_bodies():
    t0 = time.perf_counter()
    found = body_twins(PACKAGE)
    assert time.perf_counter() - t0 < 10.0
    _check(found, BODY_ALLOWED, "function bodies")


def test_no_unlisted_twin_sql_literals():
    t0 = time.perf_counter()
    found = sql_twins(PACKAGE)
    assert time.perf_counter() - t0 < 10.0
    _check(found, SQL_ALLOWED, "string literals")


def test_scan_sees_a_renamed_copy(tmp_path):
    """Bodies: a copy under another function name, without the docstring,
    with other string literals and a comment is still a 1.00 twin; a
    partial copy that keeps 9 of the 12 lines scores 0.52, a twin at 0.45;
    an unrelated body is not.

    Literals: an f-string copy of a module-level SQL f-string, with its
    CTEs renamed and another ``{}`` field, is a twin; the same SQL as a
    docstring is not scanned; an unrelated query is not a twin."""
    lines = [
        f"    x{i} = F.col('a{i}').cast('long') * y.alias('b') + g(x, {i})" for i in range(12)
    ]
    body = "\n".join(lines)
    other = [f"    z{i} = h(y, {i}) - F.lit({i}).alias('c')" for i in range(3)]
    partial = "\n".join(lines[:9] + other)
    sql = """
    WITH base AS (
      SELECT user_id, event_type, CAST(amount AS DECIMAL(18,6)) AS amt, ts
      FROM events WHERE event_type IN ('click', 'purchase') AND amount > 0),
    agg AS (
      SELECT user_id, event_type, SUM(amt) AS total, COUNT(*) AS n, MIN(ts) AS first_ts
      FROM base GROUP BY user_id, event_type),
    ranked AS (
      SELECT user_id, event_type, total, n, first_ts,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY total DESC, user_id) AS rn
      FROM agg)
    SELECT user_id, event_type, CAST(total AS DOUBLE) AS total, n, first_ts
    FROM ranked WHERE rn <= {TOP} ORDER BY event_type, rn
    """
    renamed = sql.replace("base", "src").replace("agg", "tot").replace("{TOP}", "{k + 1}")
    unrelated = "SELECT " + ", ".join(f"lag(v, {i}) OVER (ORDER BY ts) AS l{i}" for i in range(8)) + " FROM s"
    (tmp_path / "m.py").write_text(
        f"def one(x, y):\n    '''doc'''\n{body}\n    return x\n\n"
        f"def two(x, y):\n{body.replace(chr(39) + 'a', chr(39) + 'z')}\n    return x  # note\n\n"
        "def three(x):\n" + "".join(f"    return [{i}] * x + h(x)\n" for i in range(30)) + "\n"
        f"def four(x, y):\n{partial}\n    return x\n\n"
        f"TOP = 10\nSQL = f'''{sql}'''\n\n"
        f"def sql_copy(k):\n    return f'''{renamed}'''\n\n"
        f"def documented():\n    '''{sql}'''\n    return '''{unrelated}'''\n"
    )
    assert body_twins(str(tmp_path)) == {
        ("m.one", "m.two"): 1.0,
        ("m.four", "m.one"): 0.52,
        ("m.four", "m.two"): 0.52,
    }
    assert set(string_literals(str(tmp_path))) == {"m.SQL", "m.sql_copy", "m.documented"}
    assert sql_twins(str(tmp_path)) == {("m.SQL", "m.sql_copy"): 0.68}
