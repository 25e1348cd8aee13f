"""BM25 is written out in two modules only (ROADMAP aim 2).

``query/bm25.py`` holds the Spark Column form (term weight, exhaustive
term front, pseudo-term scorer, top-k cut) and ``query/wand.py`` the
numpy form (``lucene_idf``, ``_tfn``); every other module scores through
them.  The guard reads code, not strings: the DuckDB twins spell the
formula out in SQL on purpose (an oracle must not share the engine's
expressions), so their ``ln(``/``{k1}`` text never matches.  That also
hides the one engine copy left: the phrase leaves (``ps_{j}``) of
``qstring.query_string_topk`` are an ``F.expr`` SQL string.
"""

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "sparksearch"
HOMES = {"query/bm25.py", "query/wand.py"}
# idf: (N - df + 0.5) / (df + 0.5); tfn: k1 * (1.0 - b + b * dl / avgdl)
IDF = re.compile(r"df\S*\s\+ 0\.5\) / \(.*df\S*\s\+ 0\.5\)")
TFN = re.compile(r"\* \(1(\.0)? - b \+ b \*")


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


def test_shapes_are_recognised():
    assert _copies('idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)'
                   ' / (F.col("df") + 0.5))')
    assert _copies("idf = np.log(1.0 + (n_docs - df_ + 0.5) / (df_ + 0.5))")
    assert _copies("t = tf / (tf + k1 * (1.0 - b + b * dl / avgdl))")
    assert not _copies('sql = f"ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"')
    assert not _copies('sql = f"tf / (tf + {k1} * (1.0 - {b} + {b} * dl))"')


def test_bm25_formula_lives_in_one_module_per_engine():
    offenders = {}
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        if rel in HOMES:
            continue
        found = _copies(p.read_text(encoding="utf-8"))
        if found:
            offenders[rel] = found
    assert offenders == {}
