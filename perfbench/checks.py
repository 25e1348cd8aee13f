"""Answer checks: every function returns None when the answer is right
and a one-line description of the first difference otherwise.  Pure
Python/numpy, so the benchmark's tests can feed them wrong answers."""

from __future__ import annotations

import numpy as np

SCORE_DECIMALS = 4
HALF_UNIT = 0.5 * 10 ** -SCORE_DECIMALS + 1e-9


def ranked(rows, id_key: str = "doc_id", score_key: str = "score") -> list[tuple]:
    """Rows (Spark Rows, dicts or a pandas frame) → [(id, score)]."""
    if hasattr(rows, "to_dict"):
        rows = rows.to_dict("records")
    return [(int(r[id_key]), float(r[score_key])) for r in rows]


def topk_matches(got: list[tuple], want: list[tuple]) -> str | None:
    """Same ids in the same order, and each engine score (raw or already
    rounded) rounds to the exhaustive form's rounded score."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return f"ranking {[d for d, _ in got]} != {[d for d, _ in want]}"
    for (d, s), (_, w) in zip(got, want):
        if abs(s - w) > HALF_UNIT:
            return f"doc {d}: score {s} != {w}"
    return None


def consistent(answers: dict[str, list[tuple[str, list[tuple]]]]) -> str | None:
    """Every op that answered the same query text gave the same top-k."""
    for q, per_op in answers.items():
        ref_op, ref = per_op[0]
        for op, got in per_op[1:]:
            bad = topk_matches(got, ref)
            if bad:
                return f"{op} vs {ref_op} on {q!r}: {bad}"
    return None


def rows_equal(got: list[tuple], want: list[tuple]) -> str | None:
    """Exact row equality (floats to 1e-9) for DSL results."""
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        if len(a) != len(b):
            return f"row {i}: {a} != {b}"
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if abs(float(x) - float(y)) > 1e-9:
                    return f"row {i}: {a} != {b}"
            elif x != y:
                return f"row {i}: {a} != {b}"
    return None


def knn_check(got: list[tuple[int, float]], mat: np.ndarray, qid: int,
              k: int) -> tuple[str | None, float]:
    """ANN answer vs exact numpy cosine: every returned score must be the
    exact cosine of that vector; returns (error, recall@k)."""
    q = mat[qid].astype(np.float64)
    m = mat.astype(np.float64)
    cos = m @ q / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    cos[qid] = -np.inf
    exact = np.lexsort((np.arange(len(cos)), -cos))[:k]
    for vid, c in got:
        if vid == qid:
            return f"query vector {qid} returned", 0.0
        if abs(c - cos[vid]) > HALF_UNIT:
            return f"vec {vid}: cos {c} != exact {cos[vid]:.6f}", 0.0
    if len(got) != k:
        return f"{len(got)} results != {k}", 0.0
    return None, len({v for v, _ in got} & set(exact.tolist())) / k


def found_alone(got: list[tuple], doc_id: int) -> str | None:
    """A query for an updated document's unique new token finds exactly
    that document."""
    ids = [d for d, _ in got]
    return None if ids == [doc_id] else f"got {ids}, want [{doc_id}]"


def none_deleted(got: list[tuple], deleted: set[int]) -> str | None:
    """No deleted document is in the answer."""
    back = sorted({d for d, _ in got} & deleted)
    return None if not back else f"deleted docs {back} returned"
