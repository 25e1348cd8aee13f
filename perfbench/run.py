"""Benchmark entry point.

    python3 perfbench/run.py --workload bm25-serve --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the workload's inputs from
``--seed``, starts a local Spark session with the benchmark's own settings,
runs the workload (set-up, ``--seconds`` of timed closed-loop work, answer
checks), prints audit lines and per-op samples, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``.  Exits 1 when any answer
check fails, 2 when the engine package is missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEM = "2g"
JVM_OPTS = ["-XX:-UsePerfData", "-XX:TieredStopAtLevel=1"]

# name → unit; every workload reports all of them (BENCHMARK.json)
END_TO_END = {
    "setup_s": "s",
    "local_cpu_ms": "ms",
    "df_cpu_ms": "ms",
    "msearch_cpu_ms_per_q": "ms",
    "spark_op_cpu_gmean_ms": "ms",
    "index_bytes_per_text_byte": "ratio",
}
PER_LAYER = {
    "analyze.tokenize_str.ms_per_req": "ms",
    "query.topk.lookup_terms.ms_per_req": "ms",
    "query.topk.driver_scan.ms_per_req": "ms",
    "query.wand.scorer.ms_per_req": "ms",
    "index.codec.varint_decode.ms_per_req": "ms",
    "query.wand.blocks_decoded_frac": "ratio",
    "query.topk.search_local.self_ms_p50": "ms",
    "proc.driver_read_bytes_per_req": "bytes",
    "query.topk.search.build_ms_p50": "ms",
    "spark.collect_ms_p50": "ms",
    "query.topk.search_many.ms_per_query.driver": "ms",
    "query.topk.lookup_terms.calls_per_req": "count",
    "spark.jobs_per_req.search_local": "count",
    "spark.jobs_per_req.search": "count",
    "proc.jvm_cpu_ms_per_req.search": "ms",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.stage_s_per_op": "s",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "proc.driver_cpu_ms_per_op": "ms",
    "proc.jvm_cpu_ms_per_op": "ms",
    "proc.pyworker_cpu_ms_per_op": "ms",
    "index.build.s": "s",
    "index.build.spark_jobs": "count",
    "index.build.spark_tasks": "count",
    "index.build.shuffle_write_bytes": "bytes",
    "proc.jvm_cpu_s_per_build": "s",
    "proc.pyworker_cpu_s_per_build": "s",
    "index.positions.build_positions.s": "s",
    "index.positions.match_phrase_positional.ms_p50": "ms",
    "index.positions.match_phrase_positional.spark_jobs": "count",
    "index.upsert.upsert_index.s": "s",
    "index.upsert.upsert_index.spark_jobs": "count",
    "index.upsert.upsert_index.bytes_written": "bytes",
    "index.upsert.delete_docs.s": "s",
    "index.upsert.delete_docs.spark_jobs": "count",
    "index.delta_gens_live": "count",
    "index.upsert.compact_index.s": "s",
    "index.upsert.compact_index.bytes_rewritten": "bytes",
    "query.topk.first_read_extra_ms": "ms",
    "query.topk.read_after_write_ms_p50": "ms",
}


def pct(xs, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(xs)
    h = (len(xs) - 1) * q / 100
    lo = math.floor(h)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (h - lo)


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def host_calibration() -> dict:
    """Fixed single-thread kernels: slow numbers mark a slow host window."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal(1_000_000)
    t0 = time.perf_counter()
    for _ in range(3):
        np.sort(a)
    cpu = time.perf_counter() - t0
    big = np.ones(8_000_000)
    dst = np.empty_like(big)
    np.copyto(dst, big)
    t0 = time.perf_counter()
    for _ in range(4):
        np.copyto(dst, big)
    bw = 4 * 2 * big.nbytes / (time.perf_counter() - t0) / 1e9
    return {"host_calib_cpu_s": round(cpu, 4), "host_membw_gbps": round(bw, 2)}


def configure(work: str) -> None:
    """The benchmark's own run settings, all through the environment."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (launcher and driver) keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(
        work, "tmp")])
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.pop("SPARK_MASTER", None)


def start_spark(work: str):
    """Spark at ``local[nproc-1]``.  The JVM and its Python workers run on
    all CPUs but the last, and this driver process on the last one, so
    neither moves the other's work between CPUs or evicts its caches."""
    from sparksearch.session import get_spark

    cpus = sorted(os.sched_getaffinity(0))
    cores = max(1, len(cpus) - 1)
    if len(cpus) > 1:
        os.sched_setaffinity(0, cpus[:-1])  # inherited by the JVM
    spark = get_spark(
        "perfbench", cores=cores, shuffle_partitions=cores,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    if len(cpus) > 1:
        os.sched_setaffinity(0, cpus[-1:])
    return spark, cores


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and its Python workers."""
    from pyspark import SparkContext

    from procstat import descendants

    gw = SparkContext._gateway
    proc = gw.proc
    kids = descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


# -- metrics ----------------------------------------------------------------------
def end_to_end(run) -> dict:
    """The gated metrics.  Op costs are CPU time, which leaves out the
    hypervisor steal that moves wall times on a shared host.  BM25 reads
    count the driver process only (all its threads): JVM CPU per read is
    mostly background JIT and GC, which doubled its run-to-run spread.
    Spark-job ops count driver, JVM and Python-worker CPU, because the JVM
    and the workers do their work."""
    from workloads import is_spark_op

    cpu = run.cpu
    drv = {op: [c[0] for c in cs] for op, cs in cpu.items()}
    ops = [op for op in cpu if is_spark_op(op)]
    return {
        "setup_s": run.setup_end - T_START,
        "local_cpu_ms": statistics.median(drv["search_local"]),
        "df_cpu_ms": statistics.median(drv["search"]),
        "msearch_cpu_ms_per_q":
            sum(drv["msearch_driver"]) / sum(run.samples["msearch_driver.queries"]),
        "spark_op_cpu_gmean_ms": math.exp(sum(
            math.log(statistics.mean(sum(c) for c in cpu[op])) for op in ops) / len(ops)),
        "index_bytes_per_text_byte": run.diag["index_bytes_per_text_byte"],
    }


def wall_times(run) -> dict:
    """Wall-clock counterparts of the gated op costs (audit lines)."""
    from workloads import is_spark_op

    s = run.samples
    ops = [op for op in s if is_spark_op(op)]
    return {
        "local_p50_ms": statistics.median(s["search_local"]),
        "df_p50_ms": statistics.median(s["search"]),
        "msearch_qps": 1000 * statistics.median(
            q / ms for q, ms in zip(s["msearch_driver.queries"], s["msearch_driver"])),
        "spark_op_gmean_ms": math.exp(
            sum(math.log(statistics.mean(s[op])) for op in ops) / len(ops)),
    }


def details(run) -> list[str]:
    """Per-op audit lines: the finer figures behind the gated metrics."""
    s = run.samples
    lines = []
    for op in sorted(s):
        if op.endswith(".queries"):
            continue
        xs = s[op]
        line = f"op {op} n={len(xs)} p50_ms={statistics.median(xs):.3f}"
        if len(xs) >= 100:
            line += f" p90_ms={pct(xs, 90):.3f}"
        if len(xs) >= 1000:
            line += f" p99_ms={pct(xs, 99):.3f}"
        lines.append(line)
    lines += [f"wall {k}={v:.4f}" for k, v in wall_times(run).items()]
    for op in sorted(run.cpu):
        cs = run.cpu[op]
        lines.append(f"cpu {op} n={len(cs)} " + " ".join(
            f"{who}_ms_mean={statistics.mean(c[i] for c in cs):.3f}"
            for i, who in enumerate(("driver", "jvm", "workers"))))
    dsl = [x for op in s if op.startswith("dsl.") for x in s[op]]
    if dsl:
        lines.append(f"detail dsl_rps={1000 * len(dsl) / sum(dsl):.4f} req/s "
                     f"dsl_p90_ms={pct(dsl, 90):.1f} n={len(dsl)}")
    if "msearch_dist" in s:
        q = sum(s["msearch_dist.queries"])
        lines.append(f"detail msearch_dist_qps={1000 * q / sum(s['msearch_dist']):.3f}")
    for k, v in sorted(run.diag.items()):
        lines.append(f"detail {k}={v}")
    return lines


def per_layer(run, tracer) -> tuple[dict, list[str]]:
    """Per-layer metrics over the timed requests of a traced run.  The
    analyze/lookup/scan/scorer/codec layers are averaged per
    ``search_local`` request; ``*_per_op`` and ``lookup_terms.calls_per_req``
    over the Spark-job ops; ``index.positions.*``, ``index.upsert.*`` and
    the read-after-write figures come from the traced-only extras."""
    import workloads

    reqs = [r for r in tracer.requests
            if r["t0"] >= run.setup_end and not r["op"].startswith("warmup.")]
    rids = {r["rid"] for r in reqs}
    by_rid: dict[int, list[tuple[str, float, float]]] = {}
    for (name, s0, e0, _, rid), self_ms in zip(tracer.spans, tracer.self_ms()):
        if rid in rids:
            by_rid.setdefault(rid, []).append((name, 1000 * (e0 - s0), self_ms))

    def of(op):
        return [r for r in reqs if r["op"] == op]

    def one(op):
        (r,) = of(op)
        return r

    def span_sum(rs, name):
        return sum(d for r in rs for n, d, _ in by_rid.get(r["rid"], []) if n == name)

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    local, search = of("search_local"), of("search")
    b = next(r for r in tracer.requests if r["op"] == "setup.build_index")
    heavy = [r for r in reqs if workloads.is_spark_op(r["op"])]
    build_ms = [d for r in search for n, d, _ in by_rid[r["rid"]] if n == "query.topk.search"]
    w0 = tracer.wand_at_setup
    decoded = tracer.wand["blocks_decoded"] - w0["blocks_decoded"]
    total = tracer.wand["blocks_total"] - w0["blocks_total"]
    m = {
        "analyze.tokenize_str.ms_per_req": span_sum(local, "analyze.tokenize_str") / len(local),
        "query.topk.lookup_terms.ms_per_req": span_sum(local, "query.topk.lookup_terms") / len(local),
        "query.topk.driver_scan.ms_per_req": span_sum(local, "query.topk.driver_scan") / len(local),
        "query.wand.scorer.ms_per_req": span_sum(local, "query.wand.scorer") / len(local),
        "index.codec.varint_decode.ms_per_req":
            span_sum(local, "index.codec.varint_decode") / len(local),
        "query.wand.blocks_decoded_frac": decoded / total if total else 0.0,
        "query.topk.search_local.self_ms_p50": statistics.median(
            sm for r in local for n, _, sm in by_rid[r["rid"]] if n == "query.topk.search_local"),
        "proc.driver_read_bytes_per_req": mean([r["rchar"] for r in local]),
        "query.topk.search.build_ms_p50": statistics.median(build_ms),
        "spark.collect_ms_p50": statistics.median(
            r["ms"] - ms for r, ms in zip(search, build_ms)),
        "query.topk.search_many.ms_per_query.driver": statistics.median(
            r["ms"] / workloads.MSEARCH_DRIVER for r in of("msearch_driver")),
        "query.topk.lookup_terms.calls_per_req": sum(
            1 for r in heavy for n, _, _ in by_rid.get(r["rid"], [])
            if n == "query.topk.lookup_terms") / len(heavy),
        "spark.jobs_per_req.search_local": mean([r["jobs"] for r in local]),
        "spark.jobs_per_req.search": mean([r["jobs"] for r in search]),
        "proc.jvm_cpu_ms_per_req.search": mean([r["jvm"] for r in search]),
        "spark.jobs_per_op": mean([r["jobs"] for r in heavy]),
        "spark.tasks_per_op": mean([r["tasks"] for r in heavy]),
        "spark.stage_s_per_op": mean([sum(w for _, w in r["stages"]) for r in heavy]),
        "spark.shuffle_write_bytes_per_op": mean([r["shuffle_bytes"] for r in heavy]),
        "proc.driver_cpu_ms_per_op": mean([r["driver"] for r in heavy]),
        "proc.jvm_cpu_ms_per_op": mean([r["jvm"] for r in heavy]),
        "proc.pyworker_cpu_ms_per_op": mean([r["pyworker"] for r in heavy]),
        "index.build.s": b["ms"] / 1000,
        "index.build.spark_jobs": b["jobs"],
        "index.build.spark_tasks": b["tasks"],
        "index.build.shuffle_write_bytes": b["shuffle_bytes"],
        "proc.jvm_cpu_s_per_build": b["jvm"] / 1000,
        "proc.pyworker_cpu_s_per_build": b["pyworker"] / 1000,
        "index.positions.build_positions.s": one("positions.build_positions")["ms"] / 1000,
        "index.positions.match_phrase_positional.ms_p50": statistics.median(
            r["ms"] for r in of("positions.match_phrase_positional")),
        "index.positions.match_phrase_positional.spark_jobs": mean(
            [r["jobs"] for r in of("positions.match_phrase_positional")]),
        "index.upsert.upsert_index.s": one("write.upsert_index")["ms"] / 1000,
        "index.upsert.upsert_index.spark_jobs": one("write.upsert_index")["jobs"],
        "index.upsert.upsert_index.bytes_written": run.diag["upsert_bytes_written"],
        "index.upsert.delete_docs.s": one("write.delete_docs")["ms"] / 1000,
        "index.upsert.delete_docs.spark_jobs": one("write.delete_docs")["jobs"],
        "index.delta_gens_live": run.diag["delta_gens_live"],
        "index.upsert.compact_index.s": one("write.compact_index")["ms"] / 1000,
        "index.upsert.compact_index.bytes_rewritten": run.diag["compact_bytes_rewritten"],
        "query.topk.first_read_extra_ms": statistics.median(
            r["ms"] for r in of("write.first_read")) - statistics.median(
            r["ms"] for r in local),
        "query.topk.read_after_write_ms_p50": statistics.median(
            r["ms"] for r in of("write.read")),
    }
    lines = []
    for op in sorted({r["op"] for r in reqs}):
        rs = of(op)
        lines.append(
            f"layer op.{op} n={len(rs)} ms_p50={statistics.median(r['ms'] for r in rs):.3f} "
            f"spark_jobs={mean([r['jobs'] for r in rs]):.2f} "
            f"spark_tasks={mean([r['tasks'] for r in rs]):.2f} "
            f"jvm_cpu_ms={mean([r['jvm'] for r in rs]):.1f} "
            f"driver_cpu_ms={mean([r['driver'] for r in rs]):.1f} "
            f"pyworker_cpu_ms={mean([r['pyworker'] for r in rs]):.1f} "
            f"shuffle_write_bytes={mean([r['shuffle_bytes'] for r in rs]):.0f}")
    for r in heavy + [b]:
        per_site: dict[str, float] = {}
        for site, wall in r["stages"]:
            per_site[site] = per_site.get(site, 0.0) + wall
        for site, wall in sorted(per_site.items(), key=lambda x: -x[1])[:8]:
            lines.append(f"layer {r['op']}.spark_stage_s.{site.replace(' ', '_')} {wall:.3f}")
    spans: dict[str, list[float]] = {}
    for rs in by_rid.values():
        for n, _, sm in rs:
            spans.setdefault(n, []).append(sm)
    for n, xs in sorted(spans.items()):
        lines.append(f"layer span.{n} calls={len(xs)} self_ms_total={sum(xs):.1f}")
    return m, lines


def untraced_baseline(workload: str, same_seed: str) -> tuple[dict, str]:
    """The untraced end-to-end metrics a traced run is compared with: the
    untraced run of the same seed if this checkout has one, else the
    median of every untraced run of the workload here."""
    if os.path.exists(same_seed):
        with open(same_seed) as f:
            return json.load(f), "same-seed"
    runs = []
    for name in sorted(os.listdir(OUT)):
        if name.startswith(f"e2e-{workload}-seed"):
            with open(os.path.join(OUT, name)) as f:
                runs.append(json.load(f))
    if not runs:
        return {}, ""
    return ({k: statistics.median(r[k] for r in runs) for k in runs[0]},
            f"median-of-{len(runs)}-seeds")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sparksearch", "__init__.py")):
        print(f"engine package sparksearch/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"run-{os.getpid()}")
    configure(work)
    steal0 = steal_jiffies()
    spark, cores = start_spark(work)
    tracer = None
    try:
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        run = workloads.Run(spark, args.seed, args.seconds, work, tracer)
        run.notes.append(f"phase jvm {time.perf_counter() - T_START:.2f}s")
        workloads.WORKLOADS[args.workload](run)
        if tracer:
            tracer.uninstall()
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    run.notes.append(f"phase stop {time.perf_counter() - t0:.2f}s")
    calib = host_calibration()

    print(f"run workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={cores} driver_mem={DRIVER_MEM}")
    for note in run.notes:
        print(note)
    print(f"diag steal_jiffies={steal_jiffies() - steal0} "
          + " ".join(f"{k}={v}" for k, v in calib.items()))
    for op in sorted(run.samples):
        print(f"samples {op} " + json.dumps([round(x, 3) for x in run.samples[op]]))
    for op in sorted(run.cpu):
        print(f"cpu_samples {op} " + json.dumps([[round(x, 1) for x in c] for c in run.cpu[op]]))
    for line in details(run):
        print(line)
    e2e = end_to_end(run)
    print("failed_frac", run.failed / max(1, run.attempted))
    os.makedirs(OUT, exist_ok=True)
    untraced = os.path.join(OUT, f"e2e-{args.workload}-seed{args.seed}.json")
    if args.trace:
        tracer.dump(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"))
        metrics, lines = per_layer(run, tracer)
        for line in lines:
            print(line)
        base, what = untraced_baseline(args.workload, untraced)
        if base:
            for k, v in e2e.items():
                print(f"overhead {k} traced={v:.4f} untraced={base[k]:.4f} "
                      f"diff={v - base[k]:+.4f} base={what}")
        else:
            print(f"overhead unknown: no untraced run of {args.workload} in this checkout")
        units = PER_LAYER
    else:
        metrics = e2e
        with open(untraced, "w") as f:
            json.dump(e2e, f)
        units = END_TO_END
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
