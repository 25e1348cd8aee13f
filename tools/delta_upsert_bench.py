"""Delta-vs-merge upsert wall time at real corpus scale.

At sf0.1 (5 k docs) both upsert paths are job-floor-bound and measure
the same (~5 s); the architecture only shows at scale: ``mode="merge"``
rewrites + repacks every term bucket the delta's vocabulary touches (a
100-doc delta of ordinary text touches nearly every bucket), while
``mode="delta"`` packs the delta into its own ``dpostings/gen=<g>/``
generation and leaves base postings/tfrows bytes untouched — O(delta)
writes plus one column-pruned tfrows read for the df/cf decrement of
replaced docs.

Protocol:
  * one pristine base index built once; every rep copies it fresh so
    both modes always start from identical bytes;
  * modes alternate A/B inside each rep, starting order swapped per
    rep, so host drift and JVM warm-up cancel;
  * /proc/stat steal jiffies recorded per timed run — samples taken in
    a dirty window are visible as such;
  * a correctness probe after the first rep: both upserted indexes must
    answer a 3-term query identically (delta ∪ generations − tombstones
    ≡ merge's canonical bytes).

Usage:
  python tools/delta_upsert_bench.py [n_docs] [--delta=100] [--reps=3]
      [--cores=16] [--corpus-dir=DIR] [--out=evidence/delta_upsert.jsonl]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def steal() -> int:
    return int(open("/proc/stat").readline().split()[8])


def main() -> None:
    n_docs = (
        int(sys.argv[1])
        if len(sys.argv) > 1 and sys.argv[1].isdigit()
        else 490_000
    )
    n_delta, reps, cores = 100, 3, 16
    corpus = None
    out_path = "evidence/delta_upsert.jsonl"
    for a in sys.argv[2:]:
        if a.startswith("--delta="):
            n_delta = int(a.split("=", 1)[1])
        elif a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        elif a.startswith("--cores="):
            cores = int(a.split("=", 1)[1])
        elif a.startswith("--corpus-dir="):
            corpus = a.split("=", 1)[1]
        elif a.startswith("--out="):
            out_path = a.split("=", 1)[1]

    work = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    if corpus is None:
        corpus = f"{work}/sparksearch_scaling_corpus_{n_docs}"

    from sparksearch.index.upsert import upsert_index
    from sparksearch.pipeline import build_and_load
    from sparksearch.query.topk import InvertedIndex
    from sparksearch.session import get_spark
    from sparksearch.synth import generate_docs, make_vocab

    spark = get_spark("delta-upsert-bench", cores=cores)
    if not os.path.isdir(corpus):
        docs = generate_docs(spark, n_docs, seed=42).select("doc_id", "text")
        docs.filter("text is not null").repartition(128).write.mode(
            "overwrite"
        ).parquet(corpus)
    docs = spark.read.parquet(corpus)

    base = f"{work}/delta_bench_base_{n_docs}"
    if not os.path.isdir(base):
        t0 = time.time()
        build_and_load(spark, docs, base, n_docs_hint=n_docs)
        print(f"base build: {time.time() - t0:.1f}s", flush=True)

    # delta = n_delta REPLACEMENTS (retire + insert — the expensive
    # shape): existing ids, fresh deterministic text
    victim_ids = [
        r["doc_id"]
        for r in docs.select("doc_id").orderBy("doc_id").limit(n_delta).collect()
    ]
    fresh_text = [
        r["text"]
        for r in generate_docs(spark, n_delta, seed=43)
        .select("text")
        .filter("text is not null")
        .limit(n_delta)
        .collect()
    ]
    delta_rows = list(zip(victim_ids, fresh_text))
    delta_df = spark.createDataFrame(delta_rows, "doc_id long, text string")

    v = make_vocab(100)
    probe_q = f"{v[0]} {v[17]} {v[55]}"
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    results: dict[str, list[float]] = {"delta": [], "merge": []}
    probe_answers: dict[str, list] = {}

    for rep in range(reps):
        order = ("delta", "merge") if rep % 2 == 0 else ("merge", "delta")
        for mode in order:
            scratch = f"{work}/delta_bench_{mode}"
            shutil.rmtree(scratch, ignore_errors=True)
            shutil.copytree(base, scratch)
            s0, t0 = steal(), time.time()
            upsert_index(spark, delta_df, scratch, mode=mode)
            wall, sj = time.time() - t0, steal() - s0
            results[mode].append(wall)
            row = {
                "ts": round(time.time(), 1),
                "rep": rep,
                "mode": mode,
                "n_docs": n_docs,
                "n_delta": n_delta,
                "cores": cores,
                "wall_sec": round(wall, 3),
                "steal_jiffies": sj,
            }
            with open(out_path, "a") as f:
                f.write(json.dumps(row) + "\n")
            print(json.dumps(row), flush=True)
            if rep == 0:
                idx = InvertedIndex(spark, scratch)
                probe_answers[mode] = [
                    (r["doc_id"], round(r["score"], 4))
                    for r in idx.search(probe_q, 10).collect()
                ]
            shutil.rmtree(scratch, ignore_errors=True)

    assert probe_answers["delta"] == probe_answers["merge"], (
        "delta and merge upserts answered differently:",
        probe_answers,
    )
    med = {m: sorted(w)[len(w) // 2] for m, w in results.items()}
    summary = {
        "summary": True,
        "n_docs": n_docs,
        "n_delta": n_delta,
        "cores": cores,
        "reps": reps,
        "median_delta_sec": round(med["delta"], 3),
        "median_merge_sec": round(med["merge"], 3),
        "speedup": round(med["merge"] / med["delta"], 2),
        "min_delta_sec": round(min(results["delta"]), 3),
        "min_merge_sec": round(min(results["merge"]), 3),
        "probe_identical": True,
    }
    with open(out_path, "a") as f:
        f.write(json.dumps(summary) + "\n")
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
