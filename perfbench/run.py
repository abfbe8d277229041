"""Benchmark entry point.

    python3 perfbench/run.py --workload {write,read} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Starts one local Spark session on
``local[nproc]``, generates the seeded inputs, sets the workload up, then
runs whole cycles of its operations until ``--seconds`` have passed, and
checks every operation against the oracles. The last stdout line is the
JSON result; the line before it reports the per-operation figures, and
the one before that the pinned environment.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs an
untraced cycle (scheduler and cache-leak counts) and then a traced cycle
(layer spans), prints the per-layer metrics, and writes the spans to
``.perfbench_out/``.

Everything the run writes lives under ``.perfbench_run/<run>/`` in the
checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import WORKLOADS  # noqa: E402  (needs the path above)

DRIVER_MEM = "2g"
ALL_KINDS = tuple(dict.fromkeys(k for wl in WORKLOADS.values() for k in wl.kinds))

#: per-layer time metric -> the spans whose self times it sums
SPAN_METRICS = {
    "reader.read_s": ["reader.read"],
    "text.prepare_s": ["text.prepare"],
    "chunk.explode_s": ["chunk.explode"],
    "embed.corpus_s": ["embed.corpus"],
    "embed.query_s": ["embed.query"],
    "pipeline.write_s": ["pipeline.build_index", "pipeline.append_to_index"],
    "pipeline.load_index_s": ["pipeline.load_index"],
    "pipeline.hydrate_s": ["pipeline.search"],
    "knn.join_s": ["knn.join"],
    "knn.build_ivf_s": ["knn.build_ivf"],
    "knn.ivf_search_s": ["knn.ivf_search"],
    "bm25.build_s": ["bm25.build"],
    "bm25.score_s": ["bm25.score"],
    "fusion.rrf_s": ["fusion.rrf"],
    "evaluate.metrics_s": ["evaluate.metrics"],
    "dedup.signatures_s": ["dedup.signatures"],
    "dedup.lsh_pairs_s": ["dedup.minhash_lsh_pairs"],
    "dedup.components_s": ["dedup.connected_components"],
}


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s"}
    units.update({m: "s" for m in SPAN_METRICS})
    units.update({
        "reader.rows": "count",
        "chunk.chunks": "count",
        "embed.corpus_rows_per_s": "rows/s",
        "pipeline.append_rows_written_per_new_row": "ratio",
        "pipeline.index_bytes_per_chunk": "bytes",
        "knn.pairs_scored": "count",
        "knn.pairs_per_s": "pairs/s",
        "knn.ivf_rows_scanned_per_query": "rows",
        "bm25.postings": "count",
        "bm25.contrib_rows": "count",
        "dedup.candidates": "count",
        "dedup.verified_pairs": "count",
        "dedup.candidate_yield": "ratio",
        "cache.persisted_after_op": "count",
        "trace.overhead_share": "ratio",
        "trace.decomposed_minus_fused_s": "s",
    })
    for kind in ALL_KINDS:
        for what in ("jobs", "stages", "tasks"):
            units[f"spark.{what}.{kind}"] = "count"
    return units


END_TO_END_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "call_ms": "ms",
    "bulk_items_per_s": "items/s",
    "approx_recall": "share",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def pin_environment(run_dir: str) -> dict:
    """Core count from the affinity mask (``nproc``), all scratch space
    inside the run directory, the checkout on the workers' path."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    for sub in ("tmp", "spark-local", "warehouse", "inputs"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # a bounded driver heap keeps peak RSS a property of the workload
        # rather than of when the JVM chose to grow its heap
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "INDEXLAB_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        # every JVM (the launcher too): temp files and perf data stay in
        # the run directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {"nproc": cpus, "SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEM": DRIVER_MEM}


def start_session(run_dir: str):
    from indexlab_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the session is usable once its first job ran
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then its JVM and the JVM's Python workers, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _children(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in children:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, 9)
    SparkContext._gateway = SparkContext._jvm = None


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return out + [c for p in out for c in _children(p)]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _peak_rss_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def versions() -> dict:
    import platform

    import numpy
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "numpy": numpy.__version__}


def run_op(ctx, wl, kind, lat, items, jobs=None):
    """One cold call: drop the engine's pins and Spark's cache, run, time,
    check. Exceptions and failed checks both count as a failed op."""
    from indexlab_spark.functions.cache import reset_pins

    reset_pins(ctx.spark)
    ctx.spark.catalog.clearCache()
    ctx.attempted += 1
    before = len(ctx.failures)
    tracer = ctx.tracer
    if tracer:
        tracer.trace_id = f"{kind}-{ctx.attempted}"
    try:
        with (jobs.group(kind) if jobs else nullcontext()):
            with (tracer.span(wl.entry[kind]) if tracer else nullcontext()):
                t = time.perf_counter()
                n, check = wl.run(kind)
                dt = time.perf_counter() - t
        lat.setdefault(kind, []).append(dt)
        items.append((kind, n, dt))
        ctx.check(kind, check())
    except Exception:
        ctx.failures.append(f"{kind}: {traceback.format_exc(limit=3)}")
    finally:
        if tracer:
            tracer.release()
    return len(ctx.failures) == before


def run_cycle(ctx, wl, lat, items, jobs=None, persisted=None) -> tuple[float, int]:
    """One pass over the workload's kinds; returns (op seconds, failed ops).
    With ``persisted``, records the live persisted RDD count after each op."""
    start, failed = len(items), 0
    for kind in wl.kinds:
        failed += not run_op(ctx, wl, kind, lat, items, jobs)
        if persisted is not None:
            persisted.append(len(ctx.spark.sparkContext._jsc.getPersistentRDDs()))
    return sum(dt for _, _, dt in items[start:]), failed


def op_report(wl_name, lat, inputs, recall) -> dict:
    """Per-operation figures under the names the workloads are discussed
    with: one median per operation kind, with its sample count."""
    from gen import chunk_windows

    s = inputs.sizes

    def n_chunks(docs):
        return sum(len(chunk_windows(len(t), s.chunk_size, s.chunk_overlap)) for t in docs)

    def p50(kind):
        return statistics.median(lat[kind]) if lat.get(kind) else float("nan")

    rep = {}
    if wl_name == "write":
        rep["build_ivf_chunks_per_s"] = (n_chunks(inputs.docs) / p50("build_ivf"),
                                          "chunks/s")
        rep["append_p50_s"] = (p50("append"), "s")
        rep["dedup_docs_per_s"] = (len(inputs.docs) / p50("dedup"), "docs/s")
        rep["dedup_pair_recall"] = (statistics.fmean(recall) if recall else 0.0, "share")
    else:
        for kind in ("vector", "hybrid", "ivf"):
            rep[f"search_{kind}_p50_ms"] = (1000 * p50(f"search_{kind}"), "ms")
        rep["eval_queries_per_s"] = (len(inputs.gold) / p50("evaluate"), "queries/s")
        rep["ivf_batch_queries_per_s"] = (len(inputs.batch_queries) / p50("batch_ivf"),
                                           "queries/s")
        rep["ivf_recall_at_5"] = (statistics.fmean(recall) if recall else 0.0, "share")
    samples = {k: [round(1000 * x, 1) for x in v] for k, v in lat.items()}
    return {"metrics": {k: {"value": v, "unit": u} for k, (v, u) in rep.items()},
            "samples_ms": samples}


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "indexlab_spark")):
        print(f"perfbench: no indexlab_spark package next to {HERE}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(run_dir)
    spark = None
    try:
        import gen
        from spans import JobCounter, Tracer, probe_layers
        from workloads import Ctx

        from indexlab_spark.config import EngineConfig

        t = time.perf_counter()
        spark = start_session(run_dir)
        session_start = time.perf_counter() - t
        env.update(versions(), master=spark.sparkContext.master)
        inputs = gen.generate(args.seed)
        paths = gen.write_inputs(inputs, os.path.join(run_dir, "inputs"))
        ctx = Ctx(spark=spark, engine=EngineConfig(), inputs=inputs, paths=paths)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t_start

        lat: dict[str, list[float]] = {}
        items: list[tuple[str, int, float]] = []  # (kind, items, seconds)
        failed = 0
        if not args.trace:
            t0 = time.perf_counter()
            while time.perf_counter() - t0 < args.seconds:
                failed += run_cycle(ctx, wl, lat, items)[1]
            bulk = [(n, dt) for kind, n, dt in items if kind not in wl.calls]
            metrics = {
                "setup_s": setup_s,
                "peak_rss_mb": (_peak_rss_kb("self") + _peak_rss_kb(
                    spark.sparkContext._gateway.proc.pid)) / 1024,
                "call_ms": 1000 * statistics.fmean(
                    dt for kind, _, dt in items if kind in wl.calls
                ),
                "bulk_items_per_s": sum(n for n, _ in bulk) / sum(dt for _, dt in bulk),
                "approx_recall": statistics.fmean(ctx.recall),
            }
            units = END_TO_END_UNITS
        else:
            # untraced cycle (scheduler and cache counts), then the traced
            # one; the traced cycle runs warmer, so the overhead it shows is
            # a lower estimate
            jobs, persisted = JobCounter(spark.sparkContext), []
            untraced, f1 = run_cycle(ctx, wl, lat, items, jobs, persisted)
            ctx.tracer = tracer = Tracer()
            remove = probe_layers(tracer)
            try:
                traced, f2 = run_cycle(ctx, wl, {}, items)
            finally:
                remove()
                ctx.tracer = None
            failed = f1 + f2
            metrics = layer_metrics(tracer, ctx, jobs, persisted, session_start,
                                    untraced, traced)
            units = per_layer_units()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"),
                         {"workload": args.workload, "seed": args.seed, "env": env})
        report = op_report(args.workload, lat, inputs, ctx.recall)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(os.path.dirname(run_dir)):
            os.rmdir(os.path.dirname(run_dir))

    for f in ctx.failures:
        print(f"check failed: {f}", file=sys.stderr)
    print("env " + json.dumps(env, sort_keys=True))
    print("report " + json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def layer_metrics(tracer, ctx, jobs, persisted, session_start, untraced, traced) -> dict:
    self_t = tracer.self_times()
    c = tracer.counts
    m = {k: 0.0 for k in per_layer_units()}
    m["session.start_s"] = session_start
    for name, spans in SPAN_METRICS.items():
        m[name] = sum(self_t.get(s, 0.0) for s in spans)
    for key in ("reader.rows", "chunk.chunks", "knn.pairs_scored", "bm25.postings",
                "bm25.contrib_rows", "dedup.candidates", "dedup.verified_pairs"):
        m[key] = c.get(key, 0)
    if m["embed.corpus_s"]:
        m["embed.corpus_rows_per_s"] = c.get("embed.corpus_rows", 0) / m["embed.corpus_s"]
    if m["knn.join_s"]:
        m["knn.pairs_per_s"] = m["knn.pairs_scored"] / m["knn.join_s"]
    if m["dedup.candidates"]:
        m["dedup.candidate_yield"] = m["dedup.verified_pairs"] / m["dedup.candidates"]
    for key in ("pipeline.append_rows_written_per_new_row", "pipeline.index_bytes_per_chunk"):
        m[key] = ctx.extra.get(key, 0.0)
    if ctx.extra.get("ivf_queries"):
        m["knn.ivf_rows_scanned_per_query"] = (
            ctx.extra["ivf_rows_scanned"] / ctx.extra["ivf_queries"]
        )
    m["cache.persisted_after_op"] = max(persisted) if persisted else 0
    m["trace.decomposed_minus_fused_s"] = traced - untraced
    m["trace.overhead_share"] = (traced - untraced) / untraced if untraced else 0.0
    for kind, (j, s, t) in jobs.per_op.items():
        m[f"spark.jobs.{kind}"], m[f"spark.stages.{kind}"], m[f"spark.tasks.{kind}"] = j, s, t
    return m


if __name__ == "__main__":
    sys.exit(main())
