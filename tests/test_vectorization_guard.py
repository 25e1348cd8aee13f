"""No row-at-a-time Python UDFs anywhere in the engine (SURVEY §4.2).

The only permitted Python execution paths are Arrow-batched: pandas
UDFs, mapInPandas/mapInArrow, applyInPandas, and the direct pyarrow
kernels. A plain F.udf() would silently serialize row-by-row through
pickle and belongs nowhere in a 100 TB pipeline.
"""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "sparksearch"
ROW_UDF = re.compile(r"\bF\.udf\s*\(|\bfunctions\.udf\s*\(|^\s*@udf\b", re.M)


def test_no_row_at_a_time_udfs():
    offenders = [
        str(p)
        for p in PKG.rglob("*.py")
        if ROW_UDF.search(p.read_text(encoding="utf-8"))
    ]
    assert offenders == []


def test_only_arrow_batched_python():
    """Every pandas_udf/mapInPandas/applyInPandas/mapInArrow use lives in
    a reviewed module list — new Python-kernel sites must be added here
    deliberately (keeps the JVM/Python boundary auditable)."""
    allowed = {
        "extract.py",       # T-chain cleaning (Arrow-batched pandas UDFs)
        "ops/multimodal.py", # media decode plumbing (mapInPandas)
        "ops/chunking.py",  # C2 chunk-embedding plumbing (mapInPandas)
        "query/topk.py",    # per-segment kernels over pruned postings (applyInPandas)
        "ops/graph_ann.py", # per-shard HNSW build/search (applyInPandas)
        "query/aggs.py",    # scripted_metric map/combine + reduce (mapInPandas/applyInPandas)
        "ops/pq.py",        # PQ build-time encode kernel (mapInPandas); queries stay JVM-side
    }
    # call sites only (docstrings discuss these operators by name)
    pat = re.compile(r"\.(mapInPandas|applyInPandas|mapInArrow)\s*\(|pandas_udf\s*\(")
    offenders = []
    for p in PKG.rglob("*.py"):
        rel = str(p.relative_to(PKG))
        if pat.search(p.read_text(encoding="utf-8")) and rel not in allowed:
            offenders.append(rel)
    assert offenders == []
