"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: :class:`Tracer` wraps
the public functions of each ``sparksearch`` layer, both as module
attributes and under every name a consuming module imported them as,
plus the ``InvertedIndex``/``HnswIndex`` methods.  Each call records a
span (name, start, end, parent span, request id) in memory.  Spark work
is attributed per request through a job group the benchmark sets and
reads back from the status tracker and status store (the UI stays off).
Process CPU comes from ``/proc`` for the driver, the JVM and the Python
workers.  Nothing here is imported by an untraced run.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager

from procstat import CpuClock, read_rchar

# (span name, module, attribute) — attribute "Cls.meth" patches a method
TARGETS = [
    ("analyze.tokenize_str", "sparksearch.analyze", "tokenize_str"),
    ("hashing.term_id_of", "sparksearch.hashing", "term_id_of"),
    ("index.codec.varint_decode", "sparksearch.index.codec", "varint_decode"),
    ("query.topk.lookup_terms", "sparksearch.query.topk", "InvertedIndex.lookup_terms"),
    ("query.topk.driver_scan", "sparksearch.query.topk", "InvertedIndex._driver_scan"),
    ("query.topk.search_local", "sparksearch.query.topk", "InvertedIndex.search_local"),
    ("query.topk.search", "sparksearch.query.topk", "InvertedIndex.search"),
    ("query.topk.search_many", "sparksearch.query.topk", "InvertedIndex.search_many"),
    ("query.topk.score_all", "sparksearch.query.topk", "InvertedIndex.score_all"),
    ("query.topk.refresh", "sparksearch.query.topk", "InvertedIndex._load"),
    ("query.boolq.bool_search", "sparksearch.query.boolq", "bool_search"),
    ("query.termq.prefix_search", "sparksearch.query.termq", "prefix_search"),
    ("query.termq.fuzzy_search", "sparksearch.query.termq", "fuzzy_search"),
    ("index.lexicon.expand_prefix", "sparksearch.index.lexicon", "expand_prefix"),
    ("index.lexicon.expand_fuzzy", "sparksearch.index.lexicon", "expand_fuzzy"),
    ("query.matchset.match_ids_for_terms", "sparksearch.query.matchset", "match_ids_for_terms"),
    ("query.aggs.terms_agg_indexed", "sparksearch.query.aggs", "terms_agg_indexed"),
    ("query.sigterms.significant_text_indexed", "sparksearch.query.sigterms",
     "significant_text_indexed"),
    ("query.mlt.more_like_this_indexed", "sparksearch.query.mlt", "more_like_this_indexed"),
    ("query.rescore.rescore_search", "sparksearch.query.rescore", "rescore_search"),
    ("ops.graph_ann.topk", "sparksearch.ops.graph_ann", "HnswIndex.topk"),
    ("ops.graph_ann.hnsw_candidates", "sparksearch.ops.graph_ann", "hnsw_candidates"),
    ("index.build.build_index", "sparksearch.index.build", "build_index"),
    ("index.positions.build_positions", "sparksearch.index.positions", "build_positions"),
    ("index.positions.match_phrase_positional", "sparksearch.index.positions",
     "match_phrase_positional"),
    ("index.positions.phrase_scores_all", "sparksearch.index.positions", "phrase_scores_all"),
    ("index.upsert.upsert_index", "sparksearch.index.upsert", "upsert_index"),
    ("index.upsert.delete_docs", "sparksearch.index.upsert", "delete_docs"),
    ("index.upsert.compact_index", "sparksearch.index.upsert", "compact_index"),
]

# scorer factories: the returned driver-side scorer is wrapped too
SCORER_FACTORIES = [
    ("query.wand.scorer", "make_segment_scorer"),
    ("query.wand.batch_scorer", "make_batch_scorer"),
]

class Tracer:
    """In-memory span recorder plus per-request Spark/proc attribution."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple] = []  # (name, start, end, parent, rid)
        self._stack: list[int] = []
        self.rid: int | None = None
        self.wand = {"blocks_decoded": 0, "blocks_total": 0}
        self.requests: list[dict] = []  # per request: op, ms, jobs, tasks, cpu...
        self.clock = CpuClock(self.sc._gateway.proc.pid)
        self._patched: list[tuple] = []
        self._store = self.sc._jsc.sc().statusStore()

    # -- spans ------------------------------------------------------------
    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.rid])
        i = len(self.spans) - 1
        self._stack.append(i)
        return i

    def _close(self, i: int) -> None:
        self.spans[i][2] = time.perf_counter()
        self._stack.pop()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            i = tracer._open(name)
            try:
                return fn(*a, **kw)
            finally:
                tracer._close(i)

        return traced

    def _wrap_factory(self, name: str, factory):
        """Wrap a scorer factory so driver-side scorers (OrdinalMap lookup)
        count decoded blocks and record a span; executor-bound scorers
        (a picklable dict spec) are returned untouched."""
        from sparksearch.index.ordmap import OrdinalMap

        tracer = self

        @functools.wraps(factory)
        def make(*a, **kw):
            lookup = a[5] if len(a) > 5 else kw.get("lookup")
            if not isinstance(lookup, OrdinalMap):
                return factory(*a, **kw)
            if name == "query.wand.scorer" and kw.get("counters") is None and len(a) < 7:
                kw["counters"] = tracer.wand
            return tracer._wrap(name, factory(*a, **kw))

        return make

    # -- patching ---------------------------------------------------------
    def _replace_everywhere(self, orig, new) -> None:
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("sparksearch"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._patched.append((mod, attr, orig))
                    setattr(mod, attr, new)

    def install(self) -> None:
        for name, modname, attr in TARGETS:
            mod = importlib.import_module(modname)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._patched.append((cls, meth, orig))
                setattr(cls, meth, self._wrap(name, orig))
            else:
                orig = getattr(mod, attr)
                self._replace_everywhere(orig, self._wrap(name, orig))
        wand = importlib.import_module("sparksearch.query.wand")
        for name, attr in SCORER_FACTORIES:
            orig = getattr(wand, attr)
            self._replace_everywhere(orig, self._wrap_factory(name, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- per-request attribution -------------------------------------------
    @contextmanager
    def request(self, op: str):
        """One client request: a root span, its own Spark job group, and
        CPU / read-byte deltas of every process involved."""
        self.rid = len(self.requests)
        group = f"perfbench-{self.rid}"
        self.sc.setJobGroup(group, op, False)
        before = self._counters()
        rec = {"op": op, "rid": self.rid}
        i = self._open("request." + op)
        rec["t0"] = self.spans[i][1]
        try:
            yield rec
        finally:
            self._close(i)
            after = self._counters()
            rec["ms"] = 1000 * (self.spans[i][2] - self.spans[i][1])
            for k in before:
                rec[k] = after[k] - before[k]
            rec.update(self._spark_work(group))
            self.requests.append(rec)
            self.rid = None

    def _counters(self) -> dict[str, float]:
        driver, jvm, workers = self.clock.read(workers=True)
        return {"driver": driver, "jvm": jvm, "pyworker": workers,
                "rchar": float(read_rchar())}

    def _spark_work(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks, shuffle, stages = 0, 0, []
        for j in jobs:
            info = st.getJobInfo(j)
            for s in list(info.stageIds) if info else []:
                si = st.getStageInfo(s)
                tasks += si.numCompletedTasks if si else 0
                try:
                    d = self._store.lastStageAttempt(s)
                except Exception:  # stage evicted from the status store
                    continue
                shuffle += int(d.shuffleWriteBytes())
                sub, comp = d.submissionTime(), d.completionTime()
                if sub.isDefined() and comp.isDefined():
                    wall = (comp.get().getTime() - sub.get().getTime()) / 1000.0
                    stages.append((d.name(), wall))
        return {"jobs": len(jobs), "tasks": tasks, "shuffle_bytes": shuffle,
                "stages": stages}

    # -- derived views ------------------------------------------------------
    def self_ms(self) -> list[float]:
        """Self time per span (ms): its duration minus the time its child
        spans cover (children of one parent run one after another)."""
        child = [0.0] * len(self.spans)
        for _, s, e, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += e - s
        return [1000 * (e - s - c) for (_, s, e, _, _), c in zip(self.spans, child)]

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump({"spans": self.spans, "requests": self.requests,
                       "wand": self.wand}, f)
