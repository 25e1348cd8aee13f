"""One query tree for the compound DSL.

Lucene parses ``bool``, ``query_string`` and ``match`` bodies into one
BooleanQuery over term, phrase and multi-term leaves and runs one
scorer tree.  The compound operators here do the same: ``bool``,
``simple_query_string``, ``query_string``, ``match_bool_prefix``,
``boosting`` and ``constant_score`` each parse their input into the
nodes below, and one combiner per executor evaluates the tree.

Nodes:

* :class:`Term` — a match clause: OR over analyzed terms, BM25 summed
  over the ones a doc holds;
* :class:`Phrase` — the ordered-window phrase (``query.phrase`` spec),
  scored as one BM25 pseudo-term;
* :class:`MultiTerm` — a prefix or wildcard, rewritten through the
  term dictionary, constant score 1.0 (Lucene's constant-score
  rewrite);
* :class:`Field` — a structured term / terms / range / exists
  predicate on a document field, constant score 1.0; a null field
  never matches;
* :class:`Bool` (must, should, must_not, filter, ``msm``),
  :class:`Boost`, :class:`ConstantScore` and :class:`Boosting`.

:func:`compile_tree` walks the tree once and turns it into a
``matched`` and a ``score`` Column over one per-doc frame, plus the
list of leaves that frame must carry, one nullable double column
``l{i}`` per leaf: the leaf's score where the doc matches it, null
where it does not.  A leaf under must_not, filter, ConstantScore or
Boosting's negative is in filter position: only its presence is read,
so its source may skip the scoring work.  Two leaf sources build the
frame, and :func:`bm25.topk_cut` ends the query:

* :func:`evaluate_index` reads the index: a scoring Term reads
  ``InvertedIndex.score_all``, a filter-position Term and a MultiTerm
  read ``matchset.match_ids_for_terms``, a Phrase reads
  ``positions.phrase_scores_all``; every leaf frame goes through one
  union and one ``groupBy(doc_id)`` pivot.  Field leaves read the
  caller's ``docs`` projection (id plus fields), semi-joined to the
  index's doc list.  Corpus text is never read.
* :func:`evaluate_exhaustive` scans the corpus: one tokenize frame, one
  conditional-sum groupBy over all scoring Term leaves
  (``bm25.term_tf``/``term_parts``), ``phrase_tf_col`` with a per-leaf
  df for Phrase leaves, ``arrays_overlap`` for presence leaves, and
  predicate Columns for Field leaves.  Structured filters never change
  N, avgdl or df.

The DuckDB twins (``*_sql``) share none of this: an oracle that ran
the engine's expressions could not see the engine's bugs.
"""

from __future__ import annotations

import operator
import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import tokens_col
from sparksearch.query.bm25 import (
    SCORE_ROUND,
    bm25_weight,
    term_parts,
    term_tf,
    topk_cut,
)
from sparksearch.query.phrase import phrase_tf_col
from sparksearch.query.termq import MAX_EXPANSIONS


@dataclass
class Term:
    terms: list[str]


@dataclass
class Phrase:
    terms: list[str]
    slop: int = 0


@dataclass
class MultiTerm:
    kind: str  # "prefix" | "wildcard"
    pattern: str
    max_expansions: int = MAX_EXPANSIONS


@dataclass
class Field:
    clause: dict  # {"term"|"terms"|"range"|"exists": {"field": ..., ...}}

    @property
    def name(self) -> str:
        return next(iter(self.clause.values()))["field"]


@dataclass
class Bool:
    must: list = field(default_factory=list)
    should: list = field(default_factory=list)
    must_not: list = field(default_factory=list)
    filter: list = field(default_factory=list)
    msm: int = 0


@dataclass
class Boost:
    child: object
    boost: float


@dataclass
class ConstantScore:
    child: object
    boost: float = 1.0


@dataclass
class Boosting:
    positive: object
    negative: object | None
    negative_boost: float = 0.5


_RANGE = {
    "gte": operator.ge, "gt": operator.gt, "lte": operator.le, "lt": operator.lt,
}


def field_pred(clause: dict) -> Column:
    """Structured clause → boolean Column; a null field never matches."""
    kind, body = next(iter(clause.items()))
    c = F.col(body["field"])
    if kind == "exists":
        return c.isNotNull()
    if kind == "term":
        p = c == F.lit(body["value"])
    elif kind == "terms":
        p = c.isin(list(body["values"]))
    else:
        p = F.lit(True)
        for key, op in _RANGE.items():
            if key in body:
                p = p & op(c, F.lit(body[key]))
    return F.coalesce(p & c.isNotNull(), F.lit(False))


@dataclass
class Compiled:
    """A tree as Columns: ``matched``/``score`` over the per-doc frame,
    the (column, leaf, scoring) triples that frame must carry, and the
    document fields its Field leaves read."""

    matched: Column
    score: Column
    leaves: list = field(default_factory=list)
    fields: list = field(default_factory=list)


def compile_tree(root) -> Compiled:
    out = Compiled(F.lit(True), F.lit(0.0))
    out.matched, out.score = _walk(root, out, True)
    return out


def _walk(node, out: Compiled, scoring: bool) -> tuple[Column, Column]:
    if isinstance(node, Field):
        if node.name not in out.fields:
            out.fields.append(node.name)
        m = field_pred(node.clause)
        return m, F.when(m, 1.0).otherwise(0.0)
    if isinstance(node, (Term, Phrase, MultiTerm)):
        name = f"l{len(out.leaves)}"
        out.leaves.append((name, node, scoring))
        c = F.col(name)
        return c.isNotNull(), F.coalesce(c, F.lit(0.0))
    if isinstance(node, Boost):
        m, s = _walk(node.child, out, scoring)
        return m, s * node.boost
    if isinstance(node, ConstantScore):
        m, _ = _walk(node.child, out, False)
        return m, F.lit(float(node.boost))
    if isinstance(node, Boosting):
        m, s = _walk(node.positive, out, scoring)
        if node.negative is None:
            return m, s
        neg, _ = _walk(node.negative, out, False)
        # the pinned boosting contract pages on the 4-dp demoted score
        # (its DuckDB twin orders by that same rounded value)
        return m, F.round(
            F.when(neg, s * node.negative_boost).otherwise(s), SCORE_ROUND
        )
    if isinstance(node, Bool):
        must = [_walk(c, out, scoring) for c in node.must]
        should = [_walk(c, out, scoring) for c in node.should]
        must_not = [_walk(c, out, False)[0] for c in node.must_not]
        filt = [_walk(c, out, False)[0] for c in node.filter]
        conds = [m for m, _ in must] + filt + [~m for m in must_not]
        if node.msm > 0:
            hits = [F.when(m, 1).otherwise(0) for m, _ in should]
            conds.append(
                reduce(operator.add, hits) >= node.msm if hits else F.lit(False)
            )
        parts = [s for _, s in must] + [
            F.when(m, s).otherwise(0.0) for m, s in should
        ]
        return (
            reduce(operator.and_, conds) if conds else F.lit(True),
            reduce(operator.add, parts) if parts else F.lit(0.0),
        )
    raise TypeError(f"unknown query node {node!r}")


def _finish(frame: DataFrame, ct: Compiled, k: int) -> DataFrame:
    return topk_cut(
        frame.filter(ct.matched).select("doc_id", ct.score.alias("raw")), k
    )


# ---------------------------------------------------------------------------
# index source
# ---------------------------------------------------------------------------


def _rewrite(index, node: MultiTerm) -> list[str]:
    from sparksearch.index.lexicon import expand_prefix
    from sparksearch.query.termq import expand_wildcard

    if node.kind == "prefix":
        return expand_prefix(
            index.spark, index.index_dir, node.pattern, node.max_expansions
        )
    return expand_wildcard(index, node.pattern, node.max_expansions)


def _index_leaf(index, node, scoring: bool) -> DataFrame:
    """One leaf → (doc_id, val) rows of the docs matching it."""
    from sparksearch.query.matchset import match_ids_for_terms

    if isinstance(node, Phrase):
        from sparksearch.index.positions import phrase_scores_all

        rows = phrase_scores_all(index, node.terms, node.slop)
        return rows.select("doc_id", F.col("raw") if scoring else F.lit(1.0))
    if isinstance(node, Term) and scoring:
        rows = index.score_all(" ".join(node.terms))
        return rows.select("doc_id", F.col("score").cast("double"))
    terms = node.terms if isinstance(node, Term) else _rewrite(index, node)
    return match_ids_for_terms(index, terms, mode="any").select(
        "doc_id", F.lit(1.0)
    )


def evaluate_index(
    index, root, k: int, *, docs: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Evaluate ``root`` over the index → (doc_id, score) top-k."""
    if root is None:
        return index.spark.createDataFrame([], "doc_id long, score double")
    ct = compile_tree(root)
    if ct.fields and docs is None:
        raise ValueError(
            "field clauses gate on document field values the index does "
            "not store: pass docs= (the source table)"
        )
    if any(isinstance(node, Phrase) for _, node, _ in ct.leaves):
        # refuse a missing or stale sidecar before any leaf runs a job
        index._refresh_if_stale()
        index._require_positions()
    legs = [
        _index_leaf(index, node, scoring).toDF("doc_id", "val")
        .withColumn("leaf", F.lit(i))
        for i, (_, node, scoring) in enumerate(ct.leaves)
    ]
    frame = None
    if legs:
        frame = reduce(DataFrame.unionByName, legs).groupBy("doc_id").agg(
            *[
                F.max(F.when(F.col("leaf") == i, F.col("val"))).alias(name)
                for i, (name, _, _) in enumerate(ct.leaves)
            ]
        )
    if ct.fields:
        # the doc-values read: every INDEXED doc's fields (an outer
        # frame — a field leaf alone can match docs no other leaf
        # touches; the doclens sidecar is the index's doc list)
        indexed = index.spark.read.parquet(
            os.path.join(index.index_dir, "doclens")
        ).select("doc_id")
        fields = docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            *[F.col(c) for c in ct.fields if c != "doc_id"],
        ).join(indexed, "doc_id", "leftsemi")
        frame = fields if frame is None else fields.join(frame, "doc_id", "left")
    return _finish(frame, ct, k)


# ---------------------------------------------------------------------------
# exhaustive source
# ---------------------------------------------------------------------------


def _expansions(docs, node: MultiTerm, text_col: str, analyzer: str):
    from sparksearch.query.termq import (
        _expand_prefix_exhaustive,
        _expand_wildcard_exhaustive,
    )

    expand = (
        _expand_prefix_exhaustive if node.kind == "prefix"
        else _expand_wildcard_exhaustive
    )
    return expand(docs, node.pattern, node.max_expansions, text_col, analyzer)


def _any_of(terms: list[str]) -> Column:
    if not terms:
        return F.lit(None).cast("double")
    hit = F.arrays_overlap(F.col("toks"), F.array(*[F.lit(t) for t in terms]))
    return F.when(hit, F.lit(1.0))


def evaluate_exhaustive(
    docs: DataFrame, root, k: int, *, id_col: str = "doc_id",
    text_col: str = "text", k1: float = 1.2, b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Evaluate ``root`` by scanning ``docs`` → (doc_id, score) top-k."""
    if root is None:
        return docs.select(
            F.col(id_col).cast("long").alias("doc_id"), F.lit(0.0).alias("score")
        ).filter(F.lit(False))
    ct = compile_tree(root)
    frame = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens_col(text_col, analyzer).alias("toks"),
        *[F.col(c) for c in ct.fields if c != "doc_id"],
    ).withColumn("dl", F.size("toks"))
    glob = frame.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    terms = [(n, node) for n, node, s in ct.leaves if s and isinstance(node, Term)]
    phrases = [(n, node, s) for n, node, s in ct.leaves if isinstance(node, Phrase)]
    scored_phrases = [n for n, _, s in phrases if s]

    if terms:
        tf, dfs = term_tf(frame, sorted({t for _, node in terms for t in node.terms}))
        leafagg = term_parts(tf, dfs, glob, k1, b, "term").groupBy("doc_id").agg(
            *[
                F.sum(F.when(F.col("term").isin(node.terms), F.col("part"))).alias(n)
                for n, node in terms
            ]
        )
    for n, node, _ in phrases:
        frame = frame.withColumn(
            f"{n}_tf", phrase_tf_col(F.col("toks"), node.terms, node.slop)
        )
    if scored_phrases:
        pdfs = frame.agg(
            *[
                F.count(F.when(F.col(f"{n}_tf") > 0, 1)).alias(f"{n}_df")
                for n in scored_phrases
            ]
        )
        frame = frame.crossJoin(F.broadcast(pdfs)).crossJoin(F.broadcast(glob))
    if terms:
        frame = frame.join(leafagg, "doc_id", "left")
    for n, node, scoring in ct.leaves:
        if isinstance(node, Phrase):
            tf = F.col(f"{n}_tf")
            val = (
                bm25_weight(tf, "dl", f"{n}_df", "n_docs", "avgdl", k1, b)
                if scoring else F.lit(1.0)
            )
            frame = frame.withColumn(n, F.when(tf > 0, val))
        elif isinstance(node, MultiTerm):
            frame = frame.withColumn(
                n, _any_of(_expansions(docs, node, text_col, analyzer))
            )
        elif not scoring:
            frame = frame.withColumn(n, _any_of(node.terms))
    return _finish(frame, ct, k)
