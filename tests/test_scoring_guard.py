"""BM25 is written out in two modules only (ROADMAP aim 2).

``query/bm25.py`` holds the Spark Column form (term weight, exhaustive
term front, pseudo-term scorer, top-k cut) and ``query/wand.py`` the
numpy form (``lucene_idf``, ``_tfn``); every other module scores through
them.  The shape guard reads code, not strings: the DuckDB twins spell
the formula out in SQL on purpose (an oracle must not share the
engine's expressions), so their ``ln(``/``{k1}`` text never matches.

Two more guards keep that oracle independent: no ``F.expr`` SQL string
may carry the idf (``ln(1.0 +``) — a Spark copy the shape guard cannot
see — and the ``query_string`` SQL compiler (``compile_query_string``,
``_emit``) may only be reached from its DuckDB twin,
``query_string_sql``.

The exact vector cosine is written once too, in ``ops/similarity.py``
(``cosine`` over ``_dot``/``_norm``): no other module may divide by a
product of two norms, and no other module may build a product with
``F.zip_with`` (the first half of a hand-written dot product).

The proximity rules exist once per executor: over token arrays the
anchored window is one ``F.aggregate`` fold (``query/phrase.py``), over
position arrays the exact rule is one ``F.array_intersect`` and the
ordered chain one ``F.array_min`` (``index/positions.py``), and one
``.blocks(..., "positions")`` call reads the sidecar for every
phrase, span and intervals query.

Each aggregation step exists once on the Spark side of ``query/``
(``*_sql`` twins excluded): one ``stack(`` SQL string (the one-row
aggregate stacked into bucket rows), one conditional count
``sum(when(c, 1).otherwise(0))``, one function writing an exact
``percentile(`` and one bucket cut ``orderBy(desc("doc_count"),
…).limit(…)``, all in ``query/aggs.py``.
"""

import ast
import pathlib
import re
from collections import Counter

PKG = pathlib.Path(__file__).resolve().parent.parent / "sparksearch"
HOMES = {"query/bm25.py", "query/wand.py"}
# idf: (N - df + 0.5) / (df + 0.5); tfn: k1 * (1.0 - b + b * dl / avgdl)
IDF = re.compile(r"df\S*\s\+ 0\.5\) / \(.*df\S*\s\+ 0\.5\)")
TFN = re.compile(r"\* \(1(\.0)? - b \+ b \*")
SQL_COMPILER = {"compile_query_string", "_emit"}
SQL_COMPILER_CALLERS = SQL_COMPILER | {"query_string_sql"}
VECTOR_HOME = "ops/similarity.py"
PROXIMITY_DIRS = ("query", "index")
PROXIMITY_KERNELS = {
    "F.aggregate": "query/phrase.py",
    "F.array_intersect": "index/positions.py",
    "F.array_min": "index/positions.py",
    'blocks("positions")': "index/positions.py",
}
NORMS = {"_norm", "_vnorm"}
AGG_STEPS = {
    "stack(": "query/aggs.py:_stacked",
    "conditional count": "query/aggs.py:_count_where",
    "percentile(": "query/aggs.py:_percentile",
    "bucket cut": "query/aggs.py:_top_buckets",
}
SQL_WORD = {"stack(": re.compile(r"\bstack\("),
            "percentile(": re.compile(r"\bpercentile\(")}


def _copies(src: str) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.BinOp):
            continue
        code = ast.unparse(node)
        if isinstance(node.op, ast.Div) and IDF.search(code):
            found.append(code)
        elif isinstance(node.op, ast.Mult) and TFN.search(code):
            found.append(code)
    return found


def _strings(node) -> str:
    """A string argument's text; f-string placeholders read as ``{}``."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(_strings(v) if isinstance(v, ast.Constant) else "{}"
                       for v in node.values)
    return ""


def _expr_bm25(src: str) -> list[str]:
    """``F.expr(...)`` calls whose string argument writes the idf."""
    found = []
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "expr"
            and any("ln(1.0 +" in _strings(a) for a in node.args)
        ):
            found.append(ast.unparse(node)[:80])
    return found


def _compiler_users(src: str) -> list[str]:
    """Functions outside the SQL compiler and its twin that reference
    ``compile_query_string``/``_emit``."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name if func is None else func
        name = (
            node.id if isinstance(node, ast.Name)
            else node.attr if isinstance(node, ast.Attribute)
            else None
        )
        if isinstance(node, ast.ImportFrom):
            names = [a.name for a in node.names]
        else:
            names = [name]
        for n in names:
            if n in SQL_COMPILER and func not in SQL_COMPILER_CALLERS:
                found.append(f"{func or '<module>'}: {n}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(src), None)
    return sorted(set(found))


def _called(node) -> str | None:
    """Name of the function a Call node calls (``f(...)``/``m.f(...)``)."""
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _cosines(src: str) -> list[str]:
    """Divisions whose right operand multiplies two norm calls."""
    return [
        ast.unparse(node)
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Div)
        and isinstance(node.right, ast.BinOp)
        and isinstance(node.right.op, ast.Mult)
        and _called(node.right.left) in NORMS
        and _called(node.right.right) in NORMS
    ]


def _zip_products(src: str) -> list[str]:
    """``zip_with`` calls whose lambda multiplies its elements."""
    return [
        ast.unparse(node)[:80]
        for node in ast.walk(ast.parse(src))
        if _called(node) == "zip_with"
        and any(
            isinstance(a, ast.Lambda)
            and any(isinstance(b, ast.BinOp) and isinstance(b.op, ast.Mult)
                    for b in ast.walk(a.body))
            for a in node.args
        )
    ]


def _proximity_sites(src: str) -> list[str]:
    """``F.aggregate``/``F.array_intersect``/``F.array_min`` calls and
    ``.blocks(...)`` calls that read the ``positions`` table."""
    found = []
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
            continue
        f = node.func
        if isinstance(f.value, ast.Name) and f.value.id == "F" and (
            f"F.{f.attr}" in PROXIMITY_KERNELS
        ):
            found.append(f"F.{f.attr}")
        elif f.attr == "blocks" and any(
            _strings(a) == "positions" for a in node.args
        ):
            found.append('blocks("positions")')
    return found


def _is_const(node, value) -> bool:
    return isinstance(node, ast.Constant) and node.value == value


def _agg_steps(src: str) -> list[tuple[str, str]]:
    """(step, function) for each aggregation step written outside a
    ``*_sql`` function; ``percentile(`` counts once per function."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.name.endswith("_sql"):
                return
            func = node.name if func is None else func
        if isinstance(node, ast.Call):
            for step, word in SQL_WORD.items():
                if any(word.search(_strings(a)) for a in node.args):
                    found.append((step, func))
            f = node.func
            if (
                _called(node) == "sum" and node.args
                and _called(node.args[0]) == "otherwise"
                and _is_const(node.args[0].args[0], 0)
                and _called(node.args[0].func.value) == "when"
                and _is_const(node.args[0].func.value.args[1], 1)
            ):
                found.append(("conditional count", func))
            if (
                _called(node) == "limit"
                and _called(f.value) == "orderBy" and f.value.args
                and _called(f.value.args[0]) == "desc"
                and _is_const(f.value.args[0].args[0], "doc_count")
            ):
                found.append(("bucket cut", func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(src), None)
    pct = sorted({x for x in found if x[0] == "percentile("})
    return pct + [x for x in found if x[0] != "percentile("]


def test_shapes_are_recognised():
    assert _copies('idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)'
                   ' / (F.col("df") + 0.5))')
    assert _copies("idf = np.log(1.0 + (n_docs - df_ + 0.5) / (df_ + 0.5))")
    assert _copies("t = tf / (tf + k1 * (1.0 - b + b * dl / avgdl))")
    assert not _copies('sql = f"ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"')
    assert not _copies('sql = f"tf / (tf + {k1} * (1.0 - {b} + {b} * dl))"')
    assert _expr_bm25('c = F.expr(f"CASE WHEN t{j} > 0 THEN "\n'
                      '           f"ln(1.0 + (n - d{j} + 0.5)) END")')
    assert not _expr_bm25('sql = f"ln(1.0 + (n_docs - df + 0.5))"')
    assert not _expr_bm25('c = F.expr("coalesce(ts_0, 0.0)")')
    src = (
        "def query_string_sql(q):\n    return compile_query_string(q)\n"
        "def compile_query_string(q):\n    return _emit(q)\n"
        "def topk(q):\n    m, s = qs.compile_query_string(q)\n"
        "def search(q):\n    from x import _emit\n"
    )
    assert _compiler_users(src) == [
        "search: _emit", "topk: compile_query_string",
    ]
    assert _cosines("c = _dot(v, q) / (_norm(v) * _norm(q))")
    assert _cosines('c = _vdot(a, b) / (_vnorm(F.col("a")) * sim._norm(b))')
    assert not _cosines("c = _dot(v, q) / _norm(v)")
    assert not _cosines("s = f'dot(v, q) / (sqrt(dot(v, v)) * sqrt(dot(q, q)))'")
    assert _zip_products(
        "d = F.zip_with(a, b, lambda x, y: x.cast('double') * y.cast('double'))")
    assert not _zip_products(
        "p = F.zip_with(h, pos, lambda h, p: F.struct(h.alias('h'), p))")
    assert _proximity_sites(
        "a = F.aggregate(w, F.lit(0), f)\nb = F.array_min(F.filter(p, g))\n"
        "c = F.array_intersect(x, y)\nd = index.blocks(ids, 'positions')\n"
        "e = index.blocks(ids, 'stats')\nf = np.array_min(x)\n"
    ) == ["F.aggregate", "F.array_min", "F.array_intersect",
          'blocks("positions")']
    assert _agg_steps(
        "def f(m):\n    a = m.selectExpr(f'stack({n}, {b}) AS (k, v)')\n"
        "    c = F.sum(F.when(x > 1, 1).otherwise(0))\n"
        "    d = F.expr(f'percentile({x}, 0.5)') + F.expr('percentile(y, 0.1)')\n"
        "    e = g.orderBy(F.desc('doc_count'), F.asc('key')).limit(3)\n"
        "def f_sql(q):\n    return q.selectExpr('stack(1, 1, 2)')\n"
        "def g(m):\n    return m.orderBy(F.asc('doc_count')).limit(3)\n"
    ) == [("percentile(", "f"), ("stack(", "f"), ("conditional count", "f"),
          ("bucket cut", "f")]


def _offenders(check) -> dict[str, list[str]]:
    out = {}
    for p in sorted(PKG.rglob("*.py")):
        found = check(p.read_text(encoding="utf-8"))
        if found:
            out[p.relative_to(PKG).as_posix()] = found
    return out


def test_bm25_formula_lives_in_one_module_per_engine():
    offenders = _offenders(_copies)
    for home in HOMES:
        offenders.pop(home, None)
    assert offenders == {}


def test_no_bm25_in_spark_sql_strings():
    assert _offenders(_expr_bm25) == {}


def test_engine_never_runs_the_oracle_compiler():
    assert _offenders(_compiler_users) == {}


def test_vector_cosine_lives_in_one_module():
    assert _offenders(_cosines) == {
        VECTOR_HOME: ["_dot(v, q) / (_norm(v) * _norm(q))"]
    }
    zips = _offenders(_zip_products)
    assert list(zips) == [VECTOR_HOME] and len(zips[VECTOR_HOME]) == 1


def test_one_proximity_kernel_per_executor():
    sites = {}
    for d in PROXIMITY_DIRS:
        for p in sorted((PKG / d).rglob("*.py")):
            for site in _proximity_sites(p.read_text(encoding="utf-8")):
                sites.setdefault(site, Counter())[p.relative_to(PKG).as_posix()] += 1
    assert sites == {k: Counter({home: 1}) for k, home in PROXIMITY_KERNELS.items()}


def test_each_aggregation_step_exists_once():
    sites = {}
    for p in sorted((PKG / "query").rglob("*.py")):
        for step, func in _agg_steps(p.read_text(encoding="utf-8")):
            rel = p.relative_to(PKG).as_posix()
            sites.setdefault(step, []).append(f"{rel}:{func}")
    assert sites == {step: [home] for step, home in AGG_STEPS.items()}
