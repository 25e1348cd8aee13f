"""The benchmark's workloads: one closed-loop client thread each.

``bm25-serve``  warm index; BM25 reads through ``search_local``,
                ``search(q, k).collect()`` and ``search_many`` on the driver
                executor, with distributed ``search_many`` batches as the
                only Spark-job ops.
``dsl-mix``     the same corpus plus lexicon and vector-index sidecars;
                eight indexed DSL request types (one seeded shuffled cycle
                per ``CYCLE_S``) with BM25 reads between them.

Each run: set-up (inputs, builds, untimed warm-up of every op type),
``seconds`` of timed work split into equal slots — one Spark-job op per
slot, BM25 reads filling the rest — then answer checks.  A traced run
then also builds the positions sidecar and serves phrase queries from it,
and applies an upsert, a delete and a compaction to the index with reads
after each (:func:`traced_extras`).  Engine functions are always reached
through their module, so a traced run sees each call.
"""

from __future__ import annotations

import gc
import os
import sys
import time
import traceback
from contextlib import nullcontext

import numpy as np
import pandas as pd

import checks
import gen
from procstat import CpuClock

N_DOCS = 3_000
N_VECS = 1_000
VEC_DIM = 32
K = 10
N_QUERIES = 5_000  # a whole number of query-stream blocks
MSEARCH_DRIVER = gen.BLOCK  # 40 <= driver_path_max_queries (64): driver executor
MSEARCH_DIST = 2 * gen.BLOCK  # 80 > 64: the distributed batch scorer
CYCLE_S = 15.0  # dsl-mix: one cycle of the DSL request types per 15 s
DIST_EVERY_S = 3.0  # bm25-serve: one distributed batch per 3 s
DIST_WARMUP = 2  # bm25-serve: untimed distributed batches
BURST = (["local"] * 4 + ["search"]) * (gen.BLOCK // 5) + ["msearch"]  # one block a pass
WARMUP_PASSES = {"bm25-serve": 2, "dsl-mix": 1}  # untimed BURST passes
KNN_RECALL_FLOOR = 0.9
# traced runs only (traced_extras)
N_PHRASES = 4
UPSERT_FRAC = 0.01
DELETE_FRAC = 0.005
READS_AFTER_WRITE = 20


def is_spark_op(op: str) -> bool:
    """The timed ops that run Spark jobs on executors (the rest are BM25
    reads, which run on the driver and the JVM only)."""
    return op.startswith("dsl.") or op == "msearch_dist"


class Run:
    """State shared by a workload's phases: samples, answers, failures."""

    def __init__(self, spark, seed: int, seconds: int, work: str, tracer=None):
        self.spark, self.seed, self.seconds, self.work = spark, seed, seconds, work
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.cpu: dict[str, list[tuple[float, float, float]]] = {}
        self.clock = CpuClock(spark.sparkContext._gateway.proc.pid)
        self.answers: dict[str, list[tuple[str, list[tuple]]]] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.diag: dict[str, float] = {}
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Audit line: wall time since the previous phase mark."""
        now = time.perf_counter()
        self.notes.append(f"phase {name} {now - self._mark:.2f}s")
        self._mark = now

    def setup_done(self) -> None:
        """End of set-up: drop warm-up samples, start the timed phase.
        Set-up objects are frozen out of the garbage collector, so the
        collections an op triggers do not scan them."""
        self.phase("warmup")
        self.samples = {}
        self.cpu = {}
        self.answers = {}
        gc.collect()
        gc.freeze()
        self.setup_end = time.perf_counter()
        if self.tracer:
            self.tracer.wand_at_setup = dict(self.tracer.wand)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED {what}", file=sys.stderr, flush=True)

    def timed(self, op: str, fn, record: bool = True):
        """Run one op: count it, time it (into ``samples[op]`` when
        ``record``), and count an exception as a failed op."""
        self.attempted += 1
        ctx = self.tracer.request(op) if self.tracer else nullcontext()
        workers = is_spark_op(op)
        try:
            with ctx:
                c0 = self.clock.read(workers)
                t0 = time.perf_counter()
                out = fn()
                ms = 1000 * (time.perf_counter() - t0)
                c1 = self.clock.read(workers)
        except Exception:
            self.fail(f"{op} raised:\n{traceback.format_exc()}")
            return None
        if record:
            self.samples.setdefault(op, []).append(ms)
            self.cpu.setdefault(op, []).append(tuple(b - a for a, b in zip(c0, c1)))
        return out

    def check(self, what: str, err: str | None) -> None:
        """Record one answer check (counted as an attempted op)."""
        self.attempted += 1
        if err is not None:
            self.fail(f"check {what}: {err}")


def _mods():
    """Engine modules, imported after the session is configured."""
    from importlib import import_module

    names = ["pipeline", "hashing", "index.build", "index.lexicon", "index.upsert",
             "index.positions", "query.phrase", "query.topk", "query.bm25", "query.boolq",
             "query.termq", "query.aggs", "query.sigterms", "query.mlt", "query.rescore",
             "ops.similarity"]
    return {n.split(".")[-1]: import_module("sparksearch." + n) for n in names}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def build(run: Run, m) -> dict:
    """Generate the corpus, ship it to Spark and build the BM25 index."""
    from pyspark.sql import functions as F

    pdf = gen.corpus(N_DOCS, run.seed)
    raw = run.spark.createDataFrame(
        pdf, schema="url string, warc_ts timestamp, site string, text string, lang string"
    ).withColumn("doc_id", F.xxhash64("url"))
    mask = gen.indexed_mask(pdf)
    corpus = m["pipeline"].prepare_corpus(raw)
    text_bytes = int(pdf["text"][mask].str.len().sum())
    queries = gen.bm25_queries(N_QUERIES, run.seed)
    shapes = gen.query_shapes(N_QUERIES, run.seed)
    counts = {k: shapes.count(k) for k in gen.QUERY_SHAPES}
    run.notes.append(
        f"input seed={run.seed} docs={N_DOCS} indexed={int(mask.sum())} "
        f"text_bytes={text_bytes} bm25_queries={len(queries)} "
        + " ".join(f"{k}={v}" for k, v in counts.items())
        + f" fingerprint={gen.fingerprint(pdf, queries)}")
    run.phase("inputs")
    idx_dir = os.path.join(run.work, "idx")
    run.timed("setup.build_index", lambda: m["build"].build_index(
        run.spark, corpus, idx_dir, n_docs_hint=int(mask.sum())), record=False)
    run.diag["index_bytes_per_text_byte"] = dir_bytes(idx_dir) / text_bytes
    run.phase("build_index")
    doc_ids = np.array([m["hashing"].term_id_of(u) for u in pdf["url"]], np.int64)
    return {"pdf": pdf, "raw": raw, "corpus": corpus, "idx_dir": idx_dir, "mask": mask,
            "doc_ids": doc_ids, "queries": queries, "shapes": dict(zip(queries, shapes))}


def bm25_reads(run: Run, idx, queries, pos: list[int], deadline: float = 0.0,
               min_ops: int = len(BURST)) -> None:
    """BM25 reads in the ``BURST`` pattern: at least ``min_ops`` of them
    (one pass by default), then more until ``deadline``.  ``pos`` holds the
    cursors into the query stream and into ``BURST``; both carry over
    between calls, so each call picks the pattern up where the last one
    stopped."""
    n = 0
    while n < min_ops or time.perf_counter() < deadline:
        kind = BURST[pos[1] % len(BURST)]
        pos[1] += 1
        n += 1
        if kind == "msearch":
            msearch(run, idx, recent(queries, pos, MSEARCH_DRIVER), "msearch_driver")
            continue
        q = queries[pos[0] % len(queries)]
        pos[0] += 1
        if kind == "local":
            out = run.timed("search_local", lambda: idx.search_local(q, K))
        else:
            out = run.timed("search", lambda: idx.search(q, K).collect())
        if out is not None:
            run.answers.setdefault(q, []).append((kind, checks.ranked(out)))


def recent(queries, pos: list[int], n: int) -> list[str]:
    """The ``n`` queries before the last block boundary the reads passed:
    whole blocks of the stream, so every batch holds the reference shape
    shares, and each query was already answered singly."""
    end = pos[0] - pos[0] % gen.BLOCK
    return [queries[(end - n + i) % len(queries)] for i in range(n)]


def msearch(run: Run, idx, batch: list[str], op: str) -> None:
    rows = run.timed(op, lambda: idx.search_many(batch, K).collect())
    if rows is None:
        return
    run.samples.setdefault(op + ".queries", []).append(len(batch))
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(r)
    for i, q in enumerate(batch):
        run.answers.setdefault(q, []).append((op, checks.ranked(by_q.get(i, []))))


def check_bm25(run: Run, m, c, exhaustive: bool) -> None:
    """All ops agree per query; with ``exhaustive``, for one seeded query
    shape the query answered by the most ops (seeded tie-break) equals
    ``bm25_topk_df`` for every op that answered it.  Each exhaustive query
    is a corpus scan of 2-3 s, so the shape rotates with the seed."""
    run.check("bm25 ops agree", checks.consistent(run.answers))
    if not exhaustive:
        return
    rng = np.random.default_rng([run.seed, 9])
    for shape in [str(rng.choice(list(gen.QUERY_SHAPES)))]:
        answered = {q: len({op for op, _ in a}) for q, a in run.answers.items()
                    if c["shapes"][q] == shape}
        if not answered:
            continue
        best = max(answered.values())
        q = str(rng.choice(sorted(q for q, n in answered.items() if n == best)))
        want = checks.ranked(m["bm25"].bm25_topk_df(c["corpus"], q, K).collect())
        for op, got in run.answers[q]:
            run.check(f"{op} {shape} {q!r} vs bm25_topk_df", checks.topk_matches(got, want))


def timed_slots(run: Run, heavy: list, do_heavy, reads) -> None:
    """``run.seconds`` split into one slot per heavy op; reads fill the
    rest of each slot (none when the op overran it), and the first slot
    reads at least one whole pass, so every read op is sampled."""
    slot = run.seconds / len(heavy)
    for i, h in enumerate(heavy):
        do_heavy(h)
        reads(i, run.setup_end + (i + 1) * slot)
    run.diag["timed_s"] = time.perf_counter() - run.setup_end
    run.phase("timed")


# -- bm25-serve ------------------------------------------------------------------
def bm25_serve(run: Run) -> None:
    m = _mods()
    c = build(run, m)
    idx = m["topk"].InvertedIndex(run.spark, c["idx_dir"])
    queries, pos = c["queries"], [0, 0]

    def reads(i, deadline):
        bm25_reads(run, idx, queries, pos, deadline, len(BURST) if i == 0 else 0)

    def dist(_):
        msearch(run, idx, recent(queries, pos, MSEARCH_DIST), "msearch_dist")

    for _ in range(WARMUP_PASSES["bm25-serve"]):
        bm25_reads(run, idx, queries, pos)
    for i in range(1, DIST_WARMUP + 1):  # blocks from the stream's end, not timed again
        msearch(run, idx, queries[-i * MSEARCH_DIST:len(queries) - (i - 1) * MSEARCH_DIST],
                "warmup.msearch_dist")
    run.setup_done()
    timed_slots(run, [None] * max(1, round(run.seconds / DIST_EVERY_S)), dist, reads)
    check_bm25(run, m, c, exhaustive=True)
    run.phase("checks")
    if run.tracer:
        traced_extras(run, m, c, idx)


# -- dsl-mix ------------------------------------------------------------------------
def dsl_mix(run: Run) -> None:
    m = _mods()
    spark = run.spark
    c = build(run, m)
    m["lexicon"].build_lexicon(spark, c["corpus"], c["idx_dir"])
    run.phase("build_lexicon")
    vdf = gen.vectors(N_VECS, VEC_DIM, run.seed)
    emb = spark.createDataFrame(vdf, "vec_id long, embedding array<float>")
    vdir = os.path.join(run.work, "vec")
    m["similarity"].build_vector_index(spark, emb, vdir)
    vi = m["similarity"].open_vector_index(spark, vdir)
    run.phase("build_vector_index")
    idx = m["topk"].InvertedIndex(spark, c["idx_dir"])
    vmat = np.stack(vdf["embedding"].to_numpy())
    idocs = c["corpus"].join(c["raw"].select("doc_id", "site"), "doc_id")
    n_cycles = max(1, round(run.seconds / CYCLE_S))
    reqs = gen.dsl_requests(n_cycles + 1, run.seed, c["pdf"], c["doc_ids"], N_VECS)
    warm, reqs = reqs[: len(gen.DSL_OPS)], reqs[len(gen.DSL_OPS):]
    run.notes.append(f"input dsl_requests={len(reqs)} vectors={N_VECS}x{VEC_DIM} "
                     f"fingerprint={gen.fingerprint(reqs, vdf)}")
    engine = dsl_engine(m, idx, vi, vmat, idocs)
    queries, pos = c["queries"], [0, 0]

    def reads(i, deadline):
        bm25_reads(run, idx, queries, pos, deadline, len(BURST) if i == 0 else 0)

    answers: list[tuple[dict, list]] = []

    def dsl(r):
        out = run.timed("dsl." + r["op"], lambda: engine(r))
        if out is not None:
            answers.append((r, out))

    for r in warm:
        run.timed("warmup." + r["op"], lambda: engine(r), record=False)
    for _ in range(WARMUP_PASSES["dsl-mix"]):
        bm25_reads(run, idx, queries, pos)
    run.setup_done()
    timed_slots(run, reqs, dsl, reads)
    check_bm25(run, m, c, exhaustive=False)

    # the first request of one seeded non-knn type equals its exhaustive
    # form (the type rotates with the seed); every knn answer vs numpy
    unchecked = {str(np.random.default_rng([run.seed, 10]).choice(gen.DSL_OPS[:-1]))}
    exhaustive = dsl_exhaustive(m, c["corpus"], idocs)
    recall = []
    for r, got in answers:
        if r["op"] == "knn":
            err, rec = checks.knn_check(got, vmat, r["vec_id"], K)
            run.check(f"knn {r['vec_id']}", err)
            recall.append(rec)
        elif r["op"] in unchecked:
            unchecked.discard(r["op"])
            run.check(f"{r['op']} {r} vs exhaustive", checks.rows_equal(got, exhaustive(r)))
    if recall:
        rec = float(np.mean(recall))
        run.diag["knn_recall_at10"] = rec
        run.check(f"knn recall@10 {rec:.3f} >= {KNN_RECALL_FLOOR}",
                  None if rec >= KNN_RECALL_FLOOR else "below floor")
    run.phase("checks")
    if run.tracer:
        traced_extras(run, m, c, idx)


# -- traced runs only: positions sidecar and the write path --------------------------
def traced_extras(run: Run, m, c, idx) -> None:
    """Layers no timed phase reaches, exercised after the checks of a
    traced run: ``index/positions`` (build the sidecar, serve phrases from
    it) and ``index/upsert`` (a 1 % upsert, a 0.5 % delete and a
    compaction, each followed by a first read and a burst of reads)."""
    spark, corpus, idx_dir = run.spark, c["corpus"], c["idx_dir"]
    run.timed("positions.build_positions", lambda: m["positions"].build_positions(
        spark, corpus, idx_dir))
    for p in gen.phrases(N_PHRASES, run.seed, c["pdf"]):
        got = run.timed("positions.match_phrase_positional", lambda: _tuples(
            m["positions"].match_phrase_positional(idx, p, K).collect()))
        if got is not None:
            want = _tuples(m["phrase"].match_phrase_topk(corpus, p, K).collect())
            run.check(f"match_phrase_positional {p!r} vs match_phrase_topk",
                      checks.rows_equal(got, want))
    run.phase("positions")

    pdf, ids = c["pdf"], c["doc_ids"]
    rows = np.random.default_rng([run.seed, 11]).permutation(np.flatnonzero(c["mask"]))
    n_up = max(1, round(UPSERT_FRAC * len(rows)))
    n_del = max(1, round(DELETE_FRAC * len(rows)))
    up, gone = rows[:n_up], rows[n_up: n_up + n_del]
    tokens = gen.update_tokens(n_up)
    delta = spark.createDataFrame(pd.DataFrame({
        "doc_id": ids[up], "text": [pdf["text"][r] + " " + t for r, t in zip(up, tokens)]}),
        "doc_id long, text string")
    gone_ids = [int(i) for i in ids[gone]]
    # each deleted doc's three rarest terms, which find it before the delete
    probes = [" ".join(sorted(set(pdf["text"][r].split()), key=gen.vocab_rank)[-3:])
              for r in gone]
    queries, pos = c["queries"], [0]

    def reads_after(what: str) -> None:
        run.timed("write.first_read", lambda: idx.search_local(queries[pos[0]], K))
        for _ in range(READS_AFTER_WRITE):
            pos[0] += 1
            run.timed("write.read", lambda: idx.search_local(queries[pos[0]], K))
        for d, t in zip(ids[up], tokens):
            run.check(f"updated doc {d} found by {t!r} after {what}",
                      checks.found_alone(checks.ranked(idx.search_local(t, K)), int(d)))
        if what != "upsert":
            for q in probes:
                run.check(f"deleted ids absent for {q!r} after {what}", checks.none_deleted(
                    checks.ranked(idx.search_local(q, K)), set(gone_ids)))

    found = sum(int(d) in {i for i, _ in checks.ranked(idx.search_local(q, K))}
                for q, d in zip(probes, gone_ids))
    size0 = dir_bytes(idx_dir)
    run.timed("write.upsert_index", lambda: m["upsert"].upsert_index(spark, delta, idx_dir))
    run.diag["upsert_bytes_written"] = dir_bytes(idx_dir) - size0
    reads_after("upsert")
    run.timed("write.delete_docs", lambda: m["upsert"].delete_docs(spark, idx_dir, gone_ids))
    reads_after("delete")
    run.diag["delta_gens_live"] = len(
        [d for d in os.listdir(os.path.join(idx_dir, "dpostings")) if d.startswith("gen=")]
    ) if os.path.isdir(os.path.join(idx_dir, "dpostings")) else 0
    t0 = time.time()
    run.timed("write.compact_index", lambda: m["upsert"].compact_index(spark, idx_dir))
    run.diag["compact_bytes_rewritten"] = sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(idx_dir) for f in fs
        if os.path.getmtime(os.path.join(r, f)) >= t0)
    reads_after("compact")
    run.notes.append(f"input write upserted={n_up} deleted={n_del} "
                     f"deleted_found_before={found}/{n_del}")
    run.phase("write_path")


def _tuples(rows) -> list[tuple]:
    return [tuple(r) for r in rows]


def dsl_engine(m, idx, vi, vmat, idocs):
    """Request dict → collected engine answer (list of tuples)."""

    def run(r):
        op = r["op"]
        if op == "bool_search":
            df = m["boolq"].bool_search(idx, must=r["must"], should=r["should"],
                                        must_not=r["must_not"], k=K)
        elif op == "prefix_search":
            df = m["termq"].prefix_search(idx, r["text"], K)
        elif op == "fuzzy_search":
            df = m["termq"].fuzzy_search(idx, r["text"], K)
        elif op == "terms_agg_indexed":
            df = m["aggs"].terms_agg_indexed(idx, idocs, r["text"], "site", K)
        elif op == "significant_text_indexed":
            df = m["sigterms"].significant_text_indexed(idx, r["text"], K)
        elif op == "more_like_this_indexed":
            df = m["mlt"].more_like_this_indexed(idx, r["like_id"], K)
        elif op == "rescore_search":
            df = m["rescore"].rescore_search(idx, idocs, r["text"], K)
        else:
            df = vi.topk(vmat[r["vec_id"]].tolist(), K, exclude_vec_id=r["vec_id"])
        return _tuples(df.collect())

    return run


def dsl_exhaustive(m, corpus, idocs):
    """Request dict → the exhaustive (corpus-scan) form's answer."""

    def run(r):
        op = r["op"]
        if op == "bool_search":
            df = m["boolq"].bool_topk(corpus, must=r["must"], should=r["should"],
                                      must_not=r["must_not"], k=K)
        elif op == "prefix_search":
            df = m["termq"].prefix_topk(corpus, r["text"], K)
        elif op == "fuzzy_search":
            df = m["termq"].fuzzy_topk(corpus, r["text"], K)
        elif op == "terms_agg_indexed":
            df = m["aggs"].terms_agg(idocs, r["text"], "site", K)
        elif op == "significant_text_indexed":
            df = m["sigterms"].significant_text(corpus, r["text"], K)
        elif op == "more_like_this_indexed":
            df = m["mlt"].more_like_this(corpus, r["like_id"], K)
        else:
            df = m["rescore"].rescore_topk(corpus, r["text"], K)
        return _tuples(df.collect())

    return run


WORKLOADS = {"bm25-serve": bm25_serve, "dsl-mix": dsl_mix}
