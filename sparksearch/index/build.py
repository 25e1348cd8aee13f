"""Inverted-index construction — the engine's core batch pipeline.

Capability twin of the reference's ingest path (stream → parse → bulk
upsert into OpenSearch, ``keyword_search/process_dump.py:25-96``):

    stage A (one Spark lineage, ZERO wide exchanges):
      documents
        → tokens (JVM: lower/split/array_remove — whole-stage codegen)
        → per-row sort+RLE → (term, tf) pairs → explode   [no shuffle:
          a doc's tokens live in one row, see tf_rows]
        → term_id = xxhash64(term), segment = doc_id range bucket
        → tfrows parquet, hive-partitioned unit=<u>/term_bucket=<b>/

    stage B (one Spark job, one task per term bucket):
      pack_bucket: pyarrow-read one bucket dir → numpy lexsort →
        varint posting blocks → postings/unit=<u>/term_bucket=<b>/

Stage B deliberately does NOT use a second Spark exchange +
mapInArrow: a NO-OP mapInArrow over the same rows costs as much as the
whole pack stage (row→Arrow conversion + IPC, measured 36 s at 16c on
the 490k-doc bench) and is the worst-scaling stage on shared hosts.
The hive partitioning of tfrows IS the exchange — written once
columnar, read once columnar, schedulable/retryable per bucket.

Scale design
============
* **Deterministic ids.**  ``doc_id`` is caller-provided and content
  derived (``xxhash64(url)`` for the canonical table); ``term_id =
  xxhash64(term)``.  Nothing depends on partition/arrival order, so the
  index bits are identical at local[8] and local[32] (reference quirk 4
  avoided).
* **Skew.**  Segments are *range buckets of the doc_id space*
  (``doc_id >> (64 - log2 n_segments)``, sign-corrected).  Hash ids are
  uniform, so a head term's postings split evenly over all segments —
  this IS the salted repartitioning of the north rule, with the salt
  chosen so per-term segment streams are globally doc-ordered by
  construction (disjoint ranges ⇒ no re-sort merge phase).  The pack
  shuffle key is (term_id, segment_id), so no reducer sees more than one
  segment's slice of a hot term.
* **Shuffles.** The corpus-sized dataflow crosses ZERO wide exchanges:
  tf is computed row-locally (``tf_rows``) and the pack "exchange" is
  the hive-partitioned tfrows write/read.  Term stats are a reduceat
  by-product of the pack task's term sort (bucket ↔ unit is 1:1 — no
  stats job, no shuffle), and doclens reads the per-doc marker rows via
  partition pruning (one row per doc, no corpus-sized groupBy).  Corpus
  counters (n_docs, total_tokens) ride the tokenize pass via
  ``df.observe`` — no second scan of the corpus.
* **Resume.**  Stage A (tfrows/doclens/meta) then stage B packs
  every pending bucket in one Spark job (a task per bucket, each
  idempotent: clears its own output dir, writes tmp + rename); a
  manifest entry per unit commits on completion and ``resume=True``
  skips completed units.
"""

from __future__ import annotations

import math
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sparksearch.analyze import tokens_col
from sparksearch.index import manifest as mf

FORMAT_VERSION = 3  # v3: dense-ordinal postings + (doc_id, dl, ordinal) sidecar

# Multi-field indexing (reference Q4 ``multi_match``, VERDICT r3 ask #7):
# ONE build serves N fields, like Lucene's per-field terms within one
# segment.  Two namespacing devices, both hash-level (no format change):
#
# * term identity is (field, term): ``term_id = xxhash64(field + SEP +
#   term)`` — per-field df/cf/postings fall out of the existing tables;
# * scoring-document identity is (field, doc): each non-null field of a
#   doc is its own scoring row ``sdoc_id = xxhash64(field, doc_id)``
#   with its own dl and ordinal, and the sidecar carries the original
#   ``doc_id`` (+ ``field_id``) alongside so query results surface real
#   doc ids.  Collision odds are those of the engine's hash ids
#   generally (already the term_id contract).
FIELD_SEP = "\x1f"

# wall-clock of the last build's stages (diagnostic, for ad-hoc
# profiling — overlapping stages overlap)
_TIMINGS: dict[str, float] = {}


ORD_RANK_BUCKETS = 256  # fixed-width doc_id range buckets for ranking

# ---- doclens sidecar subpartitioning (VERDICT r3 ask #4) -------------------
# The sidecar is hive-partitioned (segment_id=<s>/dlb=<b>/): dlb is a
# doc_id RANGE bucket nested inside the segment ranges (both are
# top-bits buckets, dlb a power-of-two multiple of n_segments), so an
# upsert rewrites ONLY the dlb partitions containing touched docs —
# O(delta) sidecar bytes instead of the old O(n_docs) full rewrite
# (16 B/doc ≈ 1.6 GB per upsert at 100 M docs).  ~250 k docs per dlb
# keeps a partition at a few MB; small corpora collapse to one dlb per
# segment (the floor), which is the old layout plus one directory level.
DL_BUCKET_DOCS_TARGET = 250_000


def auto_dl_buckets(n_docs: int, n_segments: int) -> int:
    b = n_segments
    while b * DL_BUCKET_DOCS_TARGET < n_docs:
        b *= 2
    return b

# ---- layout auto-scaling (VERDICT r2 #8) -----------------------------------
# A pack task materializes one (unit, term_bucket) slice of tfrows as
# numpy (~24 B/row) plus ONE segment's ordinal sidecar slice (~24 B/doc),
# so task memory is bounded by these two targets — at 100 TB the derived
# layout lands in the "thousands of buckets" regime the format was
# designed for, while the floors keep sandbox-scale corpora on the
# historical (8, 16, 4) layout byte-for-byte.
SEG_DOCS_TARGET = 8_000_000  # docs per segment → ≤ ~192 MB sidecar slice
BUCKET_TFROWS_TARGET = 32_000_000  # tfrows per bucket → ≤ ~768 MB pack task
AVG_DISTINCT_TERMS_PER_DOC = 128  # webtext prior for the tfrows estimate
LAYOUT_FLOORS = (8, 16, 4)  # (n_segments, n_buckets, n_units)


def auto_layout(n_docs: int) -> tuple[int, int, int]:
    """corpus size → (n_segments, n_buckets, n_units), floored at the
    historical constants so small corpora are layout-identical to v2.

    n_segments doubles until a segment holds ≤ SEG_DOCS_TARGET docs
    (power of two — ``segment_col`` range-buckets on the top bits);
    n_buckets tracks the estimated tfrows row count so a bucket's pack
    task stays within BUCKET_TFROWS_TARGET; n_units (the resume/commit
    granularity) keeps ~4 buckets per unit, and n_buckets is rounded up
    to a multiple of n_units (a build_index invariant).
    """
    seg_floor, bkt_floor, unit_floor = LAYOUT_FLOORS
    n_segments = seg_floor
    while n_segments * SEG_DOCS_TARGET < n_docs:
        n_segments *= 2
    est_tfrows = n_docs * AVG_DISTINCT_TERMS_PER_DOC
    n_buckets = max(bkt_floor, math.ceil(est_tfrows / BUCKET_TFROWS_TARGET))
    n_units = max(unit_floor, n_buckets // 4)
    n_buckets = ((n_buckets + n_units - 1) // n_units) * n_units
    return n_segments, n_buckets, n_units


def with_ordinals(
    spark: SparkSession, dl_df: DataFrame, n_segments: int, start: int = 0
) -> tuple[DataFrame, int]:
    """(doc_id, dl, *extras) → ((…, ordinal, segment_id) lazy frame, n_rows).

    Extra columns (multi-field ``orig``/``field_id``) pass through
    untouched.  doc_id distinctness is ASSERTED here (ADVICE r3 #2): the
    marker path emits one row per input row, so a duplicate doc_id in
    the corpus would silently double its doclens/ordinal rows while the
    row-count guard still passed — the per-bucket count vs
    count_distinct comparison below rides the same aggregation job and
    turns that into a hard error.

    ordinal = ``start`` + rank of doc_id ascending — the format-v3 dense
    document numbering (``index/ordmap.py``).  Whole-stage-codegen rank,
    no Python rows: bucket by the TOP bits of doc_id (data-independent
    ranges, monotone in doc_id — no sampling, unlike
    ``repartitionByRange``), count per bucket (tiny agg → driver
    cumsum, the ONE eager job here), then ``row_number`` within each
    bucket plus the bucket's exclusive prefix count.  Deterministic at
    any parallelism because doc_ids are unique and the bucket boundaries
    are pure bit arithmetic.  All frames are doclens-sized (16 B/doc,
    never corpus-sized); the window sorts n/256 rows per bucket.

    The returned frame is LAZY and traverses ``dl_df`` once more when
    acted on — callers pass a frame that is cached, on disk, or cheap to
    recompute.  ``n_rows`` (total count, a free by-product of the bucket
    agg) lets ``build_index`` detect dropped zero-token docs without a
    separate count job.
    """
    from pyspark.sql import Window

    passthrough = [c for c in dl_df.columns if c not in ("doc_id", "dl")]
    base = dl_df.withColumn("_ob", segment_col(F.col("doc_id"), ORD_RANK_BUCKETS))
    counts = {}
    for r in (
        base.groupBy("_ob")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("doc_id")).alias("nd"),
        )
        .collect()
    ):
        if int(r["n"]) != int(r["nd"]):
            raise ValueError(
                f"duplicate doc_id in corpus (ordinal bucket {int(r['_ob'])}: "
                f"{int(r['n'])} rows, {int(r['nd'])} distinct ids) — doc ids "
                "must be unique per build/upsert batch"
            )
        counts[int(r["_ob"])] = int(r["n"])
    offs, acc = {}, start
    for b in range(ORD_RANK_BUCKETS):
        offs[b] = acc
        acc += counts.get(b, 0)
    off_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in sorted(offs.items()) for x in kv]),
        F.col("_ob"),
    )
    w = Window.partitionBy("_ob").orderBy("doc_id")
    out = base.select(
        "doc_id",
        "dl",
        *passthrough,
        (off_expr + F.row_number().over(w) - 1).cast("long").alias("ordinal"),
        segment_col(F.col("doc_id"), n_segments).alias("segment_id"),
    )
    return out, acc - start


def segment_col(doc_id_col, n_segments: int):
    """Range-bucket a signed int64 id into [0, n_segments); monotone in doc_id."""
    shift = 64 - int(math.log2(n_segments))
    return (F.shiftright(doc_id_col, shift) + F.lit(n_segments // 2)).cast("int")


def segment_of(doc_id: int, n_segments: int) -> int:
    shift = 64 - int(math.log2(n_segments))
    return (doc_id >> shift) + n_segments // 2


def tf_rows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    obs: Observation,
    with_doc_marker: bool = False,
    analyzer: str = "ascii",
    salt_col: str | None = None,
    orig_col: str | None = None,
    field_idx_col: str | None = None,
) -> DataFrame:
    """(doc_id, dl, term_id, tf) per document — NO wide exchange.

    Multi-field support: ``salt_col`` names a per-row string column
    prefixed to every token before hashing (``xxhash64(salt + token)``
    — the (field, term) namespace); ``orig_col``/``field_idx_col`` ride
    the marker rows as ``term_id = orig`` / ``tf = -(1 + field_idx)``
    (markers are flagged structurally by ``tf < 0``, so both payload
    slots are free — no schema change).

    A document's tokens all live in one row, so per-(doc, term) counts
    never need a shuffle: hash every token to its int64 term_id
    (``xxhash64`` — the engine's vocabulary key everywhere), sort the
    LONG array, and run-length encode it with JVM higher-order functions
    (array_sort → run-start indices via ``filter`` → (term_id, tf) pairs
    via ``transform`` → explode).  Two measured design points (500 k
    docs, 16c):

    * RLE vs explode+groupBy: the groupBy shuffles every tf row (~73 M
      for the 490k-doc bench) purely to redistribute counts that are
      already complete per row; row-local RLE is ~25 % faster and keeps
      shuffle infra off the critical path.
    * int64 hashes vs term strings: sorting the hashed longs instead of
      the string array, and dropping term strings from the output rows
      entirely, is 1.4× faster end-to-end and writes 28 % fewer tfrows
      bytes (strings repeated per (doc, term) row were the dominant
      column).  Query-term → term_id resolution happens driver-side via
      ``sparksearch.hashing`` instead.

    ``obs`` receives n_docs / total_tokens on the pre-explode node.
    """
    carry = [c for c in (orig_col, field_idx_col) if c]
    if salt_col:
        hash_tok = lambda t: F.xxhash64(F.concat(F.col(salt_col), t))  # noqa: E731
    else:
        hash_tok = lambda t: F.xxhash64(t)  # noqa: E731
    base = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            tokens_col(text_col, analyzer).alias("toks"),
            *([salt_col] if salt_col else []),
            *carry,
        )
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("toks")).alias("total_tokens"),
        )
    )
    with_rle = base.select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.array_sort(F.transform("toks", hash_tok)).alias("srt"),
        *carry,
    ).select(
        "doc_id",
        "dl",
        "srt",
        *carry,
        F.when(
            F.col("dl") > 0,
            F.filter(
                F.sequence(F.lit(0), F.col("dl") - 1),
                lambda i: (i == F.lit(0)) | (F.get("srt", i) != F.get("srt", i - 1)),
            ),
        ).otherwise(F.array().cast("array<int>")).alias("starts"),
    )
    pairs = F.transform(
        "starts",
        lambda s, j: F.struct(
            F.get("srt", s).alias("term_id"),
            (F.coalesce(F.get("starts", j + 1), F.col("dl")) - s).alias("tf"),
        ),
    )
    if with_doc_marker:
        # one extra struct per document IN THE SAME explode (no second
        # tokenize pass): tf < 0 flags it structurally (real tf >= 1,
        # so no term-hash value can collide with the marker).  Routed by
        # tfrows_table into the dedicated term_bucket = n_buckets
        # partition, it gives the doclens job a partition-PRUNED
        # one-row-per-doc read instead of a corpus-sized
        # groupBy(doc_id) over all tfrows — and covers zero-token docs
        # (empty pairs still emit their marker), so no anti-join repair
        # pass is ever needed.  Marker payload: term_id carries the
        # original doc id (multi-field), tf carries -(1 + field_idx).
        mk_term = F.col(orig_col) if orig_col else F.lit(-1)
        mk_tf = (
            -(F.lit(1) + F.col(field_idx_col)) if field_idx_col else F.lit(-1)
        )
        pairs = F.concat(
            pairs,
            F.array(
                F.struct(
                    mk_term.cast("long").alias("term_id"),
                    mk_tf.cast("int").alias("tf"),
                )
            ),
        )
    return with_rle.select("doc_id", "dl", F.explode(pairs).alias("p")).select(
        "doc_id", "dl", F.col("p.term_id").alias("term_id"), F.col("p.tf").alias("tf")
    )


def tfrows_table(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    obs: Observation,
    n_segments: int,
    n_buckets: int,
    n_units: int,
    with_doc_markers: bool = False,
    analyzer: str = "ascii",
    salt_col: str | None = None,
    orig_col: str | None = None,
    field_idx_col: str | None = None,
) -> DataFrame:
    """Full tfrows projection (ids, segment, bucket, unit) from :func:`tf_rows`.

    With ``with_doc_markers`` the per-doc marker rows (tf = -1) are
    routed to the build-transient ``term_bucket = n_buckets`` partition,
    spread over units by doc_id for write parallelism.  Only
    ``build_index``'s stage A sets this; the upsert delta path keeps the
    real-rows-only shape."""
    tf = tf_rows(
        docs, id_col, text_col, obs,
        with_doc_marker=with_doc_markers, analyzer=analyzer,
        salt_col=salt_col, orig_col=orig_col, field_idx_col=field_idx_col,
    )
    is_marker = F.col("tf") < 0
    bucket = F.pmod(F.col("term_id"), F.lit(n_buckets))
    if with_doc_markers:
        bucket = F.when(is_marker, F.lit(n_buckets)).otherwise(bucket)
    unit = bucket % n_units
    if with_doc_markers:
        unit = F.when(is_marker, F.pmod(F.col("doc_id"), F.lit(n_units))).otherwise(unit)
    return tf.select(
        "term_id",
        segment_col(F.col("doc_id"), n_segments).alias("segment_id"),
        "doc_id",
        F.col("tf").cast("int").alias("tf"),
        F.col("dl").cast("int").alias("dl"),
        bucket.alias("term_bucket"),
        unit.alias("unit"),
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
    fields: list[str] | None = None,
    n_segments: int | None = None,
    n_buckets: int | None = None,
    n_units: int | None = None,
    n_dl_buckets: int | None = None,
    n_docs_hint: int | None = None,
    resume: bool = False,
    overwrite: bool = True,
    keep_tfrows: bool = True,
    _fail_after_unit: int | None = None,
) -> dict:
    """Build a BM25 inverted index under ``index_dir``; returns meta dict.

    ``docs`` must carry a unique int64 ``id_col`` and a string
    ``text_col`` (already extracted/cleaned — see ``sparksearch.extract``).
    With ``fields`` (e.g. ``["title", "text"]``) ONE build indexes every
    named string column as its own Lucene-style field namespace —
    ``text_col`` is ignored, each (doc, non-null field) pair becomes a
    scoring row (see FIELD_SEP notes above), and queries pass
    ``field=`` to :meth:`InvertedIndex.search` (``best_fields_search``
    dis-maxes over them).  Layout parameters left ``None`` are derived
    from the corpus size via :func:`auto_layout` (one cheap
    ``docs.count()`` job — pass ``n_docs_hint`` to skip it when the
    caller already knows the count, e.g. from upstream pipeline
    counters).  ``keep_tfrows=False`` drops the tfrows tree once every
    unit is packed — roughly HALVING the index footprint (tfrows is a
    second full (doc, term) copy of the corpus, FORMAT.md) — and later
    mutations reconstruct affected rows by decoding postings
    (:func:`reconstruct_tfrows`; the codec is bidirectional), trading
    storage for a decode pass per mutation.  ``_fail_after_unit`` is a
    test hook for the kill/resume test.
    """
    if fields is not None:
        docs, id_col, text_col = multifield_frame(docs, id_col, fields), "doc_id", "_ftext"
    if (
        n_segments is None or n_buckets is None or n_units is None
        or n_dl_buckets is None
    ):
        nd = n_docs_hint if n_docs_hint is not None else docs.count()
        auto = auto_layout(int(nd))
        n_segments = auto[0] if n_segments is None else n_segments
        n_buckets = auto[1] if n_buckets is None else n_buckets
        n_units = auto[2] if n_units is None else n_units
        if n_dl_buckets is None:
            n_dl_buckets = auto_dl_buckets(int(nd), n_segments)
    if n_segments & (n_segments - 1):
        raise ValueError("n_segments must be a power of two")
    if n_dl_buckets & (n_dl_buckets - 1) or n_dl_buckets < n_segments:
        raise ValueError("n_dl_buckets must be a power of two >= n_segments")
    if n_buckets % n_units:
        raise ValueError("n_buckets must be a multiple of n_units")
    if not resume and overwrite and os.path.isdir(index_dir):
        shutil.rmtree(index_dir)
    os.makedirs(index_dir, exist_ok=True)

    tfrows_path = os.path.join(index_dir, "tfrows")
    stats_path = os.path.join(index_dir, "stats")
    doclens_path = os.path.join(index_dir, "doclens")
    postings_path = os.path.join(index_dir, "postings")

    # ---- stage A: tf rows (+ per-doc markers) + doc lengths + meta ----
    # ONE tokenize pass over the corpus — the ONLY corpus touch: n_docs
    # and total_tokens ride the tfrows write via df.observe on the
    # pre-explode node; doclens reads the partition-pruned marker rows
    # (which cover zero-token docs, so no repair scan exists); term
    # stats fall out of stage B's per-bucket term sort.
    if not (resume and mf.read_entry(index_dir, "stage_tfrows")):
        # stage A (re-)runs → every previously committed unit was packed
        # from tfrows that are about to be rewritten; invalidate them so
        # resume can never skip a repack over changed input (ADVICE r2)
        mf.clear_unit_entries(index_dir)
        # stats are (re)written per-bucket by the pack tasks; clear the
        # whole tree now so a layout change can't leave stale buckets
        shutil.rmtree(stats_path, ignore_errors=True)
        corpus_obs = Observation("corpus")
        tfrows = tfrows_table(
            docs, id_col, text_col, corpus_obs, n_segments, n_buckets, n_units,
            with_doc_markers=True, analyzer=analyzer,
            salt_col="_salt" if fields is not None else None,
            orig_col="_orig" if fields is not None else None,
            field_idx_col="_field_idx" if fields is not None else None,
        )
        # hive layout (unit=<u>/term_bucket=<b>/) so stage-B pack tasks
        # can read ONE bucket's rows directly — no second Spark exchange
        _t0 = time.perf_counter()
        tfrows.write.mode("overwrite").partitionBy("unit", "term_bucket").parquet(
            tfrows_path
        )
        _TIMINGS["tfrows_write"] = round(time.perf_counter() - _t0, 3)
        n_docs = int(corpus_obs.get["n_docs"] or 0)
        total_tokens = int(corpus_obs.get["total_tokens"] or 0)

        tfrows_on_disk = spark.read.parquet(tfrows_path)

        # Term stats (df/cf per term, partitioned by term_bucket so
        # upserts can dynamic-overwrite only changed buckets) are NOT a
        # separate job anymore: each bucket lives under exactly one unit
        # (unit = term_bucket % n_units), so the stage-B pack task that
        # sorts a bucket's rows by term_id writes that bucket's FINAL
        # stats as a reduceat by-product — one full tfrows scan and one
        # shuffle removed from the critical path.

        def write_doclens():
            # ordinal sidecar (doc_id, dl, ordinal), hive-partitioned by
            # segment_id (format v3).  Source = the per-doc MARKER rows
            # stage A routed to the build-transient term_bucket=n_buckets
            # partition: a partition-PRUNED one-row-per-doc read (doclens
            # -sized), not a corpus-sized groupBy over all tfrows.
            # Markers cover zero-token docs too, so marker count ==
            # n_docs always — anything else is corruption, not a repair
            # case.
            _t = time.perf_counter()
            markers = tfrows_on_disk.filter(F.col("term_bucket") == n_buckets)
            cols = ["doc_id", F.col("dl").cast("long").alias("dl")]
            if fields is not None:
                # marker payload: term_id = original doc id, tf = -(1+field)
                cols += [
                    F.col("term_id").alias("orig"),
                    (-F.col("tf") - 1).cast("int").alias("field_id"),
                ]
            seen = markers.select(*cols)
            ranked, n_seen = with_ordinals(spark, seen, n_segments)
            _TIMINGS["doclens_rank"] = round(time.perf_counter() - _t, 3)
            if n_seen != n_docs:
                raise RuntimeError(
                    f"doclens marker count {n_seen} != observed n_docs "
                    f"{n_docs}; tfrows write is inconsistent"
                )
            _t = time.perf_counter()
            ranked.withColumn(
                "dlb", segment_col(F.col("doc_id"), n_dl_buckets)
            ).write.mode("overwrite").partitionBy("segment_id", "dlb").parquet(
                doclens_path
            )
            # markers are build-transient; drop them once the sidecar is
            # durable (idempotent — a resume that re-runs stage A
            # rewrites tfrows wholesale first)
            for u in range(n_units):
                shutil.rmtree(
                    os.path.join(
                        tfrows_path, f"unit={u}", f"term_bucket={n_buckets}"
                    ),
                    ignore_errors=True,
                )
            if fields is not None:
                # per-field BM25 globals (idf N, avgdl) from a doclens-
                # sized agg over the sidecar just written — no extra
                # corpus pass
                meta["field_stats"] = _field_stats_from_doclens(
                    spark, doclens_path, fields
                )
                mf.write_meta(index_dir, meta)
            _TIMINGS["doclens_write"] = round(time.perf_counter() - _t, 3)

        meta = {
            "version": FORMAT_VERSION,
            "gen": 0,  # bumped by every upsert/delete — handle staleness checks
            "analyzer": analyzer,  # query-time analysis must match the build
            # multi-field: n_docs counts SCORING rows (one per non-null
            # (doc, field)); per-field globals land in field_stats once
            # the sidecar is written
            **({"fields": list(fields)} if fields is not None else {}),
            "n_docs": n_docs,
            "next_ordinal": n_docs,  # v3: append point for upserted new docs
            "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
            "total_tokens": total_tokens,
            "k1": k1,
            "b": b,
            "n_segments": n_segments,
            "n_buckets": n_buckets,
            "n_units": n_units,
            "n_dl_buckets": n_dl_buckets,
            "keep_tfrows": keep_tfrows,
        }
        mf.write_meta(index_dir, meta)
        stage_a_rest = [write_doclens]
    else:
        meta = mf.read_meta(index_dir)
        stage_a_rest = []

    # ---- stage B: pack posting blocks, one resumable task per bucket ----
    # Direct-pack architecture: each task reads ONE (unit, term_bucket)
    # hive directory of tfrows with pyarrow (columnar → numpy, no
    # Spark row→Arrow conversion), lexsorts, packs, and writes its
    # postings parquet itself.  Rationale: a NO-OP mapInArrow over the
    # same rows costs as much as the whole old pack stage (36 s at 16c
    # on the 490k bench — the exchange row-serialization + Arrow IPC
    # dominates, and it is the worst-scaling stage on the host).  Spark
    # still schedules/distributes/retries the tasks; the DATA moves via
    # the shared filesystem exactly like a shuffle would, but columnar
    # and exactly once.
    done = mf.completed_units(index_dir) if resume else set()
    pending = [u for u in range(n_units) if u not in done]

    def pack_all():
        # one job over every pending bucket = maximum task parallelism;
        # full-build pack tasks also write their bucket's term stats
        # (bucket ↔ unit is 1:1, so the stats are final, not partial)
        _t = time.perf_counter()
        pairs = [
            (unit, bkt) for unit in pending for bkt in range(unit, n_buckets, n_units)
        ]
        counts = _run_pack_tasks(spark, index_dir, pairs, write_stats=True)
        _TIMINGS["pack"] = round(time.perf_counter() - _t, 3)
        for unit in pending:
            n_blocks = sum(c for (u, _), c in zip(pairs, counts) if u == unit)
            mf.write_entry(index_dir, f"unit_{unit}", {"unit": unit, "n_blocks": n_blocks})

    # finalize ordering: doclens MUST land before pack (v3 pack tasks
    # map doc_id → ordinal through the sidecar).  Stats moved INTO the
    # pack tasks (r3), so nothing is left to overlap — the old
    # stats-thread/pack-overlap machinery collapsed into this sequence.
    if _fail_after_unit is not None:
        # test hook needs deterministic ordering → sequential everything
        for fn in stage_a_rest:
            fn()
        if stage_a_rest:
            mf.write_entry(index_dir, "stage_tfrows", {"n_docs": meta["n_docs"]})
        for unit in pending:
            pack_unit(spark, index_dir, unit, meta)
            if unit >= _fail_after_unit:
                raise RuntimeError(f"injected failure after unit {unit}")
    else:
        for fn in stage_a_rest:
            fn()
        if stage_a_rest:
            mf.write_entry(index_dir, "stage_tfrows", {"n_docs": meta["n_docs"]})
        pack_all()
    if not keep_tfrows:
        # storage policy: postings are now the only copy; mutations
        # reconstruct rows on demand (reconstruct_tfrows)
        drop_tfrows(index_dir)
    return meta


def multifield_frame(docs: DataFrame, id_col: str, fields: list[str]) -> DataFrame:
    """docs(id, field1, field2, …) → one scoring row per non-null
    (doc, field): (doc_id=sdoc, _orig, _field_idx, _salt, _ftext).
    Shared by build_index and upsert_index so delta tokenization is
    namespace-identical to the build's."""
    if not fields or len(set(fields)) != len(fields):
        raise ValueError("fields must be a non-empty list of unique names")
    frames = []
    for fi, fname in enumerate(fields):
        frames.append(
            docs.filter(F.col(fname).isNotNull()).select(
                F.xxhash64(F.lit(fname), F.col(id_col)).alias("doc_id"),
                F.col(id_col).cast("long").alias("_orig"),
                F.lit(fi).alias("_field_idx"),
                F.lit(fname + FIELD_SEP).alias("_salt"),
                F.col(fname).alias("_ftext"),
            )
        )
    u = frames[0]
    for fr in frames[1:]:
        u = u.unionByName(fr)
    return u


def expand_sdocs(ids_df: DataFrame, fields: list[str],
                 id_col: str = "doc_id") -> DataFrame:
    """real doc ids → every field's scoring-row id: (doc_id=sdoc, orig,
    field_id) — the removal set of a multi-field upsert/delete covers
    ALL fields of a doc (a field may have become null)."""
    frames = []
    for fi, fname in enumerate(fields):
        frames.append(
            ids_df.select(
                F.xxhash64(F.lit(fname), F.col(id_col)).alias("doc_id"),
                F.col(id_col).cast("long").alias("orig"),
                F.lit(fi).alias("field_id"),
            )
        )
    u = frames[0]
    for fr in frames[1:]:
        u = u.unionByName(fr)
    return u


def reconstruct_tfrows_bucket(
    index_dir: str, unit: int, bucket: int, out_root: str | None = None
) -> int:
    """Inverse of :func:`pack_bucket`: decode one bucket's posting
    blocks back into its tfrows partition (term_id, segment_id, doc_id,
    tf, dl) — the codec is bidirectional, so ``keep_tfrows=False``
    indexes trade the tfrows copy of the corpus for a decode pass when a
    mutation later needs the rows (VERDICT r3 ask #6).  Runs inside a
    Spark task; row ORDER differs from the original write but the pack
    sort makes downstream postings identical.  Returns rows written."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.dataset as pds
    import pyarrow.parquet as pq

    from sparksearch.index.codec import segmented_undelta, varint_decode
    from sparksearch.index.ordmap import cached_map

    src = os.path.join(
        index_dir, "postings", f"unit={unit}", f"term_bucket={bucket}"
    )
    out_dir = os.path.join(
        out_root or os.path.join(index_dir, "tfrows"),
        f"unit={unit}", f"term_bucket={bucket}",
    )
    if not os.path.isdir(src):
        return 0
    tbl = pds.dataset(src, format="parquet").to_table(
        columns=["term_id", "segment_id", "first_ord", "n_docs", "ord_gaps", "tfs"]
    )
    if tbl.num_rows == 0:
        return 0
    lens = tbl.column("n_docs").to_numpy(zero_copy_only=False).astype(np.int64)
    firsts = tbl.column("first_ord").to_numpy(zero_copy_only=False).astype(np.int64)
    gaps_buf = b"".join(tbl.column("ord_gaps").to_pylist())
    tfs_buf = b"".join(tbl.column("tfs").to_pylist())
    ords = segmented_undelta(
        firsts, varint_decode(gaps_buf, int(lens.sum() - len(lens))), lens
    )
    tfs = varint_decode(tfs_buf, int(lens.sum())).astype(np.int32)
    term_ids = np.repeat(
        tbl.column("term_id").to_numpy(zero_copy_only=False).astype(np.int64), lens
    )
    segs = np.repeat(
        tbl.column("segment_id").to_numpy(zero_copy_only=False).astype(np.int32), lens
    )
    gen = int(mf.read_meta(index_dir).get("gen", 0))
    doc_ids = np.empty(len(ords), dtype=np.int64)
    dls = np.empty(len(ords), dtype=np.int32)
    alive = np.zeros(len(ords), dtype=bool)
    for seg in np.unique(segs):
        m = segs == seg
        omap = cached_map(index_dir, gen, [int(seg)])
        # sdoc ids, not display origs: tfrows carry the scoring-row id.
        # Ordinals RETIRED by generational upserts no longer exist in
        # the sidecar — their rows are dead in every consumer (liveness
        # filters, stats decrements, compaction) and are dropped here.
        o = ords[m]
        idx = np.searchsorted(omap.ordinals, o)
        idx_safe = np.minimum(idx, len(omap.ordinals) - 1)
        ok = (idx < len(omap.ordinals)) & (omap.ordinals[idx_safe] == o)
        sub_docs = np.zeros(len(o), dtype=np.int64)
        sub_dls = np.zeros(len(o), dtype=np.int32)
        sub_docs[ok] = omap.doc_ids[idx_safe[ok]]
        sub_dls[ok] = omap.dls[idx_safe[ok]].astype(np.int32)
        doc_ids[m] = sub_docs
        dls[m] = sub_dls
        am = alive[m]
        am[:] = ok
        alive[m] = am
    if not alive.all():
        term_ids, segs = term_ids[alive], segs[alive]
        doc_ids, dls, tfs = doc_ids[alive], dls[alive], tfs[alive]
    os.makedirs(out_dir, exist_ok=True)
    out = pa.table(
        {
            "term_id": pa.array(term_ids, pa.int64()),
            "segment_id": pa.array(segs, pa.int32()),
            "doc_id": pa.array(doc_ids, pa.int64()),
            "tf": pa.array(tfs, pa.int32()),
            "dl": pa.array(dls, pa.int32()),
        }
    )
    tmp = os.path.join(out_dir, ".part-0.parquet.tmp")
    pq.write_table(out, tmp)
    os.replace(tmp, os.path.join(out_dir, "part-0.parquet"))
    return len(ords)


def reconstruct_tfrows(spark: SparkSession, index_dir: str, meta: dict) -> None:
    """Rebuild the whole base tfrows tree from postings (one Spark job,
    a decode task per bucket) — the on-demand path of
    ``keep_tfrows=False`` before a mutation that needs old rows.
    Crash-atomic: decodes into a staging root, then ONE rename — a
    half-reconstructed tree can never be mistaken for a complete one."""
    pairs = [
        (u, b)
        for u in range(meta["n_units"])
        for b in range(u, meta["n_buckets"], meta["n_units"])
    ]
    tmp = os.path.join(index_dir, ".tfrows_restoring")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    sc = spark.sparkContext
    (
        sc.parallelize(pairs, len(pairs))
        .map(lambda ub: reconstruct_tfrows_bucket(index_dir, ub[0], ub[1], tmp))
        .collect()
    )
    os.replace(tmp, os.path.join(index_dir, "tfrows"))


def drop_tfrows(index_dir: str) -> None:
    """Remove the base tfrows tree crash-atomically (rename-then-delete:
    a crash mid-delete leaves no half tree under the live name)."""
    p = os.path.join(index_dir, "tfrows")
    tmp = os.path.join(index_dir, ".tfrows_dropping")
    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.isdir(p):
        os.replace(p, tmp)
    shutil.rmtree(tmp, ignore_errors=True)


def _field_stats_from_doclens(
    spark: SparkSession, doclens_path: str, fields: list[str]
) -> dict:
    """Per-field (n_docs, total_tokens, avgdl) from the sidecar's
    ``field_id`` column — doclens-sized aggregation."""
    rows = (
        spark.read.parquet(doclens_path)
        .groupBy("field_id")
        .agg(F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("t"))
        .collect()
    )
    by_id = {int(r["field_id"]): (int(r["n"]), int(r["t"])) for r in rows}
    out = {}
    for fi, fname in enumerate(fields):
        n, t = by_id.get(fi, (0, 0))
        out[fname] = {
            "n_docs": n,
            "total_tokens": t,
            "avgdl": (t / n) if n else 0.0,
        }
    return out


# Fused-key budget: ranks + segment + ordinal must fit one non-negative
# int64 for the single-quicksort kernel; tests lower it to force the
# lexsort fallback over the same rows.
PACK_FUSED_MAX_BITS = 63


def _pack_sort_order(term: "np.ndarray", seg: "np.ndarray",
                     ords: "np.ndarray") -> "np.ndarray":
    """Row order for the pack: ascending (term_id, segment_id, ordinal).

    Two kernels, same exact order (rows are unique in (term, seg, ord) —
    one tfrow per (doc, term) and doc ↔ (seg, ord) is a bijection — so a
    NON-stable sort on a composite key is legal and bit-identical to the
    stable lexsort; equality pinned in tests/test_index.py):

    * default: hash-factorize term_id (O(n), no sort), remap the codes to
      dense ranks in ascending term order (one introsort over the VOCAB,
      not the rows), then ONE introsort on the fused ``rank‖seg‖ord``
      int64 key.  One n-sized sort pass instead of lexsort's two stable
      merges: on a real 490k-doc pack bucket (4.0 M rows, 3,050 distinct
      terms) this measures 338 ms vs lexsort's 836 ms single-threaded and
      stays ~1.5× ahead at BOTH 4-way and 16-way concurrency (BASELINE.md
      "pack sort kernel"), so it wins at every cluster width rather than
      trading narrow speed for wide bandwidth;
    * fallback (fused key would overflow PACK_FUSED_MAX_BITS, e.g.
      trillion-ordinal buckets with huge vocabularies): the 2-pass stable
      lexsort over (seg‖ord, term).
    """
    import numpy as np
    import pandas as pd

    n = len(term)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    seg64 = seg.astype(np.int64, copy=False)
    ord_bits = int(ords.max()).bit_length() if int(ords.max()) > 0 else 1
    seg_bits = int(seg64.max()).bit_length() if int(seg64.max()) > 0 else 1
    codes, uniq = pd.factorize(term)  # O(n) hash; codes in first-seen order
    rank_bits = int(len(uniq) - 1).bit_length() if len(uniq) > 1 else 1
    if rank_bits + seg_bits + ord_bits <= PACK_FUSED_MAX_BITS:
        term_order = np.argsort(uniq, kind="quicksort")  # vocab-sized
        remap = np.empty(len(uniq), dtype=np.int64)
        remap[term_order] = np.arange(len(uniq), dtype=np.int64)
        key = remap[codes] << (seg_bits + ord_bits)
        key |= seg64 << ord_bits
        key |= ords
        return np.argsort(key, kind="quicksort")
    if int(ords.max()) < (1 << 42):
        # (segment_id, ordinal) packs into ONE int64 secondary key, so
        # the 3-key lexsort collapses to 2 stable passes
        seg_ord = (seg64 << 42) | ords
        return np.lexsort((seg_ord, term))
    return np.lexsort((ords, seg, term))  # pathological ordinal range


def _run_pack_tasks(
    spark: SparkSession,
    index_dir: str,
    pairs: list[tuple[int, int]],
    write_stats: bool = False,
    src_root: str | None = None,
    dst_root: str | None = None,
) -> list[int]:
    """Distribute :func:`pack_bucket` over ``pairs`` as one Spark job
    (one task per bucket); returns per-pair block counts in order.

    ``write_stats=True`` (full builds only) has each task also emit its
    bucket's final term stats; upsert/delete/compact repacks keep the
    default — their stats flow through the journaled staged-swap path.
    ``src_root``/``dst_root`` override the tfrows/postings trees (the
    generational upsert packs a delta generation's tfrows into its own
    ``dpostings/gen=<g>/`` tree without touching base postings)."""
    if not pairs:
        return []
    sc = spark.sparkContext
    return (
        sc.parallelize(pairs, len(pairs))
        .map(
            lambda ub: pack_bucket(
                index_dir, ub[0], ub[1], write_stats, src_root, dst_root
            )
        )
        .collect()
    )


def pack_unit(
    spark: SparkSession,
    index_dir: str,
    unit: int,
    meta: dict,
    buckets: list[int] | None = None,
) -> int:
    """Pack one unit's term buckets into ``postings/unit=<u>/``.

    Idempotent (each bucket task clears its own output dir first); with
    ``buckets`` only that subset is repacked (upsert merges).  Commits
    the unit's manifest entry on full-unit builds.
    """
    n_buckets = meta["n_buckets"]
    n_units = meta["n_units"]
    todo = sorted(buckets) if buckets is not None else list(
        range(unit, n_buckets, n_units)
    )
    counts = _run_pack_tasks(
        spark, index_dir, [(unit, b) for b in todo], write_stats=buckets is None
    )
    n_blocks = sum(counts)
    if buckets is None:  # full-unit build: commit the resume marker
        mf.write_entry(index_dir, f"unit_{unit}", {"unit": unit, "n_blocks": n_blocks})
    return n_blocks


def pack_bucket(
    index_dir: str, unit: int, bucket: int, write_stats: bool = False,
    src_root: str | None = None, dst_root: str | None = None,
) -> int:
    """Pack one term bucket: tfrows/unit=<u>/term_bucket=<b>/ →
    postings/unit=<u>/term_bucket=<b>/part-0.parquet.

    Pure pyarrow + numpy, runs inside a Spark task (or standalone).
    Deterministic at any parallelism: the pack consumes the bucket's
    rows in full (term_id, segment_id, ordinal) sort order — ordinals
    from the doclens sidecar (format v3), so block boundaries depend
    only on (tfrows, doclens).  Memory is bounded by bucket granularity
    — size n_buckets so a bucket's postings fit a task (at 100 TB that
    means thousands of buckets, not 16).  The doc_id → ordinal
    resolution walks the bucket's rows SEGMENT BY SEGMENT through the
    per-segment sidecar partitions (process-cached across the tasks of
    one worker), so a task holds at most one segment's slice of the
    ordinal map — never the whole corpus map — at any corpus size.
    """
    import pyarrow as pa
    import pyarrow.dataset as pds
    import pyarrow.parquet as pq

    from sparksearch.index.ordmap import cached_map
    from sparksearch.index.pack import pack_batch

    src = os.path.join(
        src_root or os.path.join(index_dir, "tfrows"),
        f"unit={unit}", f"term_bucket={bucket}",
    )
    out_dir = os.path.join(
        dst_root or os.path.join(index_dir, "postings"),
        f"unit={unit}", f"term_bucket={bucket}",
    )
    if os.path.isdir(out_dir):  # idempotent re-run after a failure
        shutil.rmtree(out_dir)
    if not os.path.isdir(src):
        return 0
    import numpy as np

    tbl = pds.dataset(src, format="parquet").to_table(
        columns=["term_id", "segment_id", "doc_id", "tf", "dl"]
    )
    if tbl.num_rows == 0:
        return 0
    cols = {name: tbl.column(name).to_numpy(zero_copy_only=False) for name in tbl.schema.names}
    gen = int(mf.read_meta(index_dir).get("gen", 0))
    ords = np.empty(len(cols["doc_id"]), dtype=np.int64)
    for seg in np.unique(cols["segment_id"]):
        mask = cols["segment_id"] == seg
        ords[mask] = cached_map(index_dir, gen, [int(seg)]).ordinals_of(
            cols["doc_id"][mask]
        )
    order = _pack_sort_order(cols["term_id"], cols["segment_id"], ords)
    t_sorted = cols["term_id"][order]
    tf_sorted = cols["tf"][order]
    rb = pack_batch(
        t_sorted,
        cols["segment_id"][order],
        ords[order],
        tf_sorted,
        cols["dl"][order],
    )
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, ".part-0.parquet.tmp")
    pq.write_table(pa.Table.from_batches([rb]), tmp)
    os.replace(tmp, os.path.join(out_dir, "part-0.parquet"))
    if write_stats:
        # the bucket's rows are term-sorted in hand and the bucket maps
        # 1:1 to this task (unit = term_bucket % n_units), so df/cf per
        # term fall out of a reduceat — the final stats partition, no
        # separate Spark job, no shuffle
        n = len(t_sorted)
        new_term = np.ones(n, dtype=bool)
        new_term[1:] = t_sorted[1:] != t_sorted[:-1]
        starts = np.flatnonzero(new_term)
        df = np.diff(np.append(starts, n)).astype(np.int64)
        cf = np.add.reduceat(tf_sorted.astype(np.int64), starts)
        stats_dir = os.path.join(index_dir, "stats", f"term_bucket={bucket}")
        if os.path.isdir(stats_dir):
            shutil.rmtree(stats_dir)
        os.makedirs(stats_dir, exist_ok=True)
        stats_tbl = pa.table(
            {
                "term_id": pa.array(t_sorted[starts], pa.int64()),
                "df": pa.array(df, pa.int64()),
                "cf": pa.array(cf, pa.int64()),
            }
        )
        stmp = os.path.join(stats_dir, ".part-0.parquet.tmp")
        pq.write_table(stats_tbl, stmp)
        os.replace(stmp, os.path.join(stats_dir, "part-0.parquet"))
    return rb.num_rows
