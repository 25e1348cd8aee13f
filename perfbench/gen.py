"""Seeded input generator for the benchmark (FIXTURES.md section 1 spec).

Everything a workload feeds the engine comes from here, keyed only by the
seed: the corpus table, the BM25 query stream, the DSL request stream and
the clustered vectors.  The engine's own
``sparksearch.synth`` is deliberately not used, so a program change there
cannot silently change the workload.
"""

from __future__ import annotations

import hashlib
import datetime as dt

import numpy as np
import pandas as pd

VOCAB_SIZE = 50_000
ZIPF_ALPHA = 1.1
MEDIAN_LEN = 200
MAX_LEN = 5_000
REDIRECT_EVERY = 97
NULL_FRAC = 0.02
EN_FRAC = 0.90
N_SITES = 100

_ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z"]
_NUCLEI = ["a", "e", "i", "o", "u", "y"]


def vocab(size: int = VOCAB_SIZE) -> list[str]:
    """Distinct lowercase [a-z]+ words; word i is the base-84 syllable
    spelling of i, so neighbouring ranks share prefixes and sit within a
    few edits of each other (prefix and fuzzy rewrites have real work)."""
    n_on, n_nu = len(_ONSETS), len(_NUCLEI)
    words = []
    for i in range(size):
        x, syl = i, []
        while True:
            syl.append(_ONSETS[x % n_on] + _NUCLEI[(x // n_on) % n_nu])
            x //= n_on * n_nu
            if x == 0:
                break
        words.append("".join(reversed(syl)) + "x")
    return words


def zipf_cdf(size: int = VOCAB_SIZE, alpha: float = ZIPF_ALPHA) -> np.ndarray:
    w = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** alpha
    return np.cumsum(w / w.sum())


def corpus(n_docs: int, seed: int) -> pd.DataFrame:
    """The canonical documents table: url, warc_ts, site, text, lang.

    Zipf(1.1) unigram draws over the 50k vocabulary, log-normal lengths
    (median 200, capped at 5,000), 90 % ``en``, 2 % null text and a
    REDIRECT first line every ``REDIRECT_EVERY`` docs."""
    rng = np.random.default_rng([seed, 1])
    words = vocab()
    lens = np.clip(rng.lognormal(np.log(MEDIAN_LEN), 0.8, n_docs), 5, MAX_LEN)
    lens = lens.astype(np.int64)
    ranks = np.searchsorted(zipf_cdf(), rng.random(int(lens.sum())), side="right")
    ranks = np.minimum(ranks, VOCAB_SIZE - 1)
    langs = np.where(
        rng.random(n_docs) < EN_FRAC,
        "en",
        rng.choice(np.array(["de", "fr", "es", "xx"]), n_docs),
    )
    null = rng.random(n_docs) < NULL_FRAC
    offs = np.concatenate(([0], np.cumsum(lens)))
    texts = []
    for i in range(n_docs):
        if null[i]:
            texts.append(None)
            continue
        body = " ".join([words[r] for r in ranks[offs[i]: offs[i + 1]]])
        if i % REDIRECT_EVERY == 0:
            body = "REDIRECT elsewhere\n" + body
        texts.append(body)
    ts0 = dt.datetime(2024, 10, 1)
    return pd.DataFrame(
        {
            "url": [f"https://site{i % N_SITES}.example/page/{i}" for i in range(n_docs)],
            "warc_ts": [ts0 + dt.timedelta(seconds=17 * i) for i in range(n_docs)],
            "site": [f"site{i % N_SITES}" for i in range(n_docs)],
            "text": texts,
            "lang": langs,
        }
    )


def indexed_mask(docs: pd.DataFrame) -> np.ndarray:
    """Rows the engine's ``prepare_corpus(lang="en")`` keeps."""
    text = docs["text"]
    first = text.fillna("").str.split("\n", n=1).str[0].str.upper()
    return ((docs["lang"] == "en") & text.notna() & ~first.str.contains("REDIRECT")).to_numpy()


def _term_tiers(size: int = VOCAB_SIZE) -> dict[str, np.ndarray]:
    r = np.arange(size)
    return {"head": r[:100], "mid": r[100:2_000], "tail": r[2_000:20_000]}


# FIXTURES.md section 2's reference set of 40 queries, as shares of the
# stream: 10 single-term (one of them OOV), 20 of two or three terms,
# 5 mixed-case/punctuated, 5 long phrase-like.
QUERY_SHAPES = {"single": 9, "oov": 1, "multi": 20, "mixed": 5, "long": 5}
BLOCK = sum(QUERY_SHAPES.values())  # the stream comes in blocks of this many
LONG_TERMS = (5, 8)  # "long" is not sized in FIXTURES; 5-8 terms is a choice
PUNCT = [", ", "! ", "? ", "; ", " - ", ": ", " / "]


def query_shapes(n: int, seed: int) -> list[str]:
    """The shape of each of the ``n`` queries, in stream order: blocks of
    40, each a seeded shuffle of the reference set, so every stretch of
    the stream a run reads holds the reference shares (a shape's CPU cost
    differs up to 20-fold, so drawn shares would move a run's median)."""
    rng = np.random.default_rng([seed, 2])
    block = [s for s, c in QUERY_SHAPES.items() for _ in range(c)]
    out: list[str] = []
    while len(out) < n:
        out += [block[i] for i in rng.permutation(BLOCK)]
    return out[:n]


def bm25_queries(n: int, seed: int) -> list[str]:
    """The BM25 query stream, mixed by :data:`QUERY_SHAPES`.  Terms are
    drawn from the corpus's own Zipf law (so mostly head terms, with mid
    and tail ones); mixed queries change case and add punctuation, which
    only the analyzer sees."""
    rng = np.random.default_rng([seed, 5])
    words = np.array(vocab())
    cdf = zipf_cdf()

    def terms(m: int) -> list[str]:
        ranks = np.minimum(np.searchsorted(cdf, rng.random(m), side="right"), VOCAB_SIZE - 1)
        return list(words[ranks])

    out = []
    for shape in query_shapes(n, seed):
        if shape == "single":
            out.append(terms(1)[0])
        elif shape == "oov":
            out.append("qq" + "".join(rng.choice(list("wxj"), 5)))
        elif shape == "multi":
            out.append(" ".join(terms(int(rng.integers(2, 4)))))
        elif shape == "long":
            out.append(" ".join(terms(int(rng.integers(LONG_TERMS[0], LONG_TERMS[1] + 1)))))
        else:
            ts = [t.upper() if rng.random() < 0.3 else t.capitalize()
                  for t in terms(int(rng.integers(2, 4)))]
            q = ts[0]
            for t in ts[1:]:
                q += str(rng.choice(PUNCT)) + t
            out.append(q + str(rng.choice([".", "?", "!", ""])))
    return out


DSL_OPS = [
    "bool_search", "prefix_search", "fuzzy_search",
    "terms_agg_indexed", "significant_text_indexed", "more_like_this_indexed",
    "rescore_search", "knn",
]


def dsl_requests(n_cycles: int, seed: int, docs: pd.DataFrame, doc_ids: np.ndarray,
                 n_vecs: int) -> list[dict]:
    """``n_cycles`` rounds of the DSL request types, each round in its own
    shuffled order (a uniform mix whose per-type counts never drift).
    ``doc_ids`` is aligned with the rows of ``docs``."""
    rng = np.random.default_rng([seed, 3])
    words = vocab()
    tiers = _term_tiers()
    idx_rows = np.flatnonzero(indexed_mask(docs))
    texts = docs["text"].to_numpy()

    def w(tier):
        return words[int(rng.choice(tiers[tier]))]

    def phrase():
        return _phrase(rng, texts, idx_rows, 2)

    out = []
    for _ in range(n_cycles):
        for op in rng.permutation(DSL_OPS):
            op = str(op)
            if op == "bool_search":
                a = {"must": [w("head")], "should": [w("mid"), w("mid")],
                     "must_not": [w("mid")]}
            elif op == "rescore_search":
                a = {"text": phrase()}
            elif op == "prefix_search":
                a = {"text": w("mid")[:3]}
            elif op == "fuzzy_search":
                t = w("mid")
                a = {"text": t[:-2] + ("a" if t[-2] != "a" else "e") + t[-1]}
            elif op in ("terms_agg_indexed", "significant_text_indexed"):
                a = {"text": w("mid")}
            elif op == "more_like_this_indexed":
                a = {"like_id": int(doc_ids[int(rng.choice(idx_rows))])}
            else:
                a = {"vec_id": int(rng.integers(0, n_vecs))}
            out.append({"op": op, **a})
    return out


def _phrase(rng, texts, idx_rows, n_tokens: int) -> str:
    """``n_tokens`` consecutive tokens of a random indexed document."""
    toks = texts[int(rng.choice(idx_rows))].split("\n")[-1].split(" ")
    s = int(rng.integers(0, max(1, len(toks) - n_tokens)))
    return " ".join(toks[s: s + n_tokens])


def phrases(n: int, seed: int, docs: pd.DataFrame) -> list[str]:
    """Two- and three-token phrases taken from indexed documents."""
    rng = np.random.default_rng([seed, 6])
    idx_rows = np.flatnonzero(indexed_mask(docs))
    texts = docs["text"].to_numpy()
    return [_phrase(rng, texts, idx_rows, 2 + i % 2) for i in range(n)]


def update_tokens(n: int) -> list[str]:
    """``n`` distinct [a-z] tokens outside the vocabulary and the OOV
    query alphabet, one per updated document."""
    letters = "bcdfghklmnprstvz"
    return ["zqu" + "".join(letters[(i >> (4 * j)) & 15] for j in range(3)) + "q"
            for i in range(n)]


_RANKS: dict[str, int] = {}


def vocab_rank(word: str) -> int:
    """Zipf rank of a vocabulary word (higher is rarer); -1 outside it."""
    if not _RANKS:
        _RANKS.update((w, i) for i, w in enumerate(vocab()))
    return _RANKS.get(word, -1)


def vectors(n: int, dim: int, seed: int, n_clusters: int = 16) -> pd.DataFrame:
    """Clustered float32 embeddings (vec_id, embedding)."""
    rng = np.random.default_rng([seed, 4])
    cents = rng.standard_normal((n_clusters, dim))
    lab = rng.integers(0, n_clusters, n)
    m = (cents[lab] + 0.35 * rng.standard_normal((n, dim))).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(m)})


def fingerprint(*parts) -> str:
    """sha256 over the repr of every generated input, for audit lines."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(
                p.astype({c: str for c in p.columns if p[c].dtype == object}),
                index=False).to_numpy().tobytes())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()[:16]
