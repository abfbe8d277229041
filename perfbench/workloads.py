"""The benchmark's workloads: fixed cycles of engine calls, each call
checked against :mod:`oracle`.

Both workloads are closed loops with one client: the next call is sent
when the previous one returns. Every call is cold with respect to the
engine's in-memory pins (``reset_pins`` + ``clearCache`` before it) and
uses a fresh index name/version, so repeats measure the same work.

- ``write``: build_index (IVF), append_to_index of a ~10 % batch onto
  the index just built, and dedup (minhash_lsh_pairs +
  connected_components) over the corpus with its injected families.
- ``read``: single-query search (vector, hybrid, IVF) against indexes
  built during set-up, then bulk calls: evaluate over the gold set and a
  batch IVF search.
"""

from __future__ import annotations

import os
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

import oracle

NLIST, NPROBE = 32, 8
DEDUP_THRESHOLD = 0.5


@dataclass
class Ctx:
    spark: object
    engine: object  # indexlab_spark.config.EngineConfig
    inputs: object  # gen.Inputs
    paths: dict
    tracer: object = None
    failures: list = field(default_factory=list)
    attempted: int = 0
    recall: list = field(default_factory=list)  # approximate-recall samples
    extra: dict = field(default_factory=dict)  # per-layer counts made here

    def check(self, kind: str, fails: list[str]) -> None:
        self.failures.extend(f"{kind}: {f}" for f in fails)


def _cfg(ctx, name, backend="flat"):
    from indexlab_spark.config import IngestConfig

    s = ctx.inputs.sizes
    return IngestConfig(
        index_name=name, text_column="text", chunk_size=s.chunk_size,
        chunk_overlap=s.chunk_overlap, backend=backend, nlist=NLIST, nprobe=NPROBE,
    )


def _partition_bytes(ctx, name, version) -> int:
    root = os.path.join(ctx.engine.chunks_path(), f"index_name={name}", f"version={version}")
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


def _centroids(ctx, name, version) -> np.ndarray:
    """Centroid matrix of one IVF build, ordered by cluster_id (the
    centroids table is unpartitioned, so filter on its columns)."""
    import pyarrow.dataset as ds

    t = ds.dataset(ctx.engine.centroids_path(), format="parquet").to_table(
        filter=(ds.field("index_name") == name) & (ds.field("version") == version)
    )
    order = np.argsort(t.column("cluster_id").to_numpy())
    return np.stack(t.column("centroid").to_numpy(zero_copy_only=False))[order]


class Write:
    kinds = ("build_ivf", "append", "dedup")
    calls = ("append",)  # single incremental requests; the rest is bulk work
    entry = {"build_ivf": "pipeline.build_index", "append": "pipeline.append_to_index",
             "dedup": "operators.dedup"}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n = 0

    def setup(self) -> None:
        """Warm-up: one flat build of the append batch, so the measured
        cycle does not pay JIT and Python-worker start-up."""
        from indexlab_spark import pipeline

        pipeline.build_index(
            self.ctx.spark, self.ctx.paths["append"], _cfg(self.ctx, "warmup"),
            self.ctx.engine, version="w",
        )

    def run(self, kind: str):
        """Run one call; returns (items, check thunk)."""
        ctx, s = self.ctx, self.ctx.inputs.sizes
        from indexlab_spark import pipeline

        if kind == "build_ivf":
            self.n += 1
            name, version = f"ivf{self.n}", f"v{self.n}"
            man = pipeline.build_index(
                ctx.spark, ctx.paths["corpus"], _cfg(ctx, name, "ivf"), ctx.engine,
                version=version,
            )
            self.last_built = (name, man["count"])

            def check():
                idx = oracle.StoredIndex(ctx.engine.warehouse_dir, name, version)
                fails = oracle.check_build(
                    idx, ctx.inputs.docs, s.chunk_size, s.chunk_overlap
                ) + _positions(idx) + _manifest_count(man, idx)
                cents = _centroids(ctx, name, version)
                if len(cents) != NLIST or not np.all(
                    (idx.cluster >= 0) & (idx.cluster < len(cents))
                ):
                    fails.append("IVF cells missing or out of range")
                ctx.extra["pipeline.index_bytes_per_chunk"] = _partition_bytes(
                    ctx, name, version
                ) / len(idx.doc_ids)
                return fails

            return len(ctx.inputs.docs), check

        if kind == "append":
            name, old_rows = self.last_built
            version = f"a{self.n}"
            res = pipeline.append_to_index(
                ctx.spark, ctx.paths["append"], name, ctx.engine, version=version
            )

            def check():
                idx = oracle.StoredIndex(ctx.engine.warehouse_dir, name, version)
                fails = oracle.check_build(
                    idx, ctx.inputs.docs + ctx.inputs.append_docs,
                    s.chunk_size, s.chunk_overlap,
                ) + _positions(idx)
                if res["count"] != len(idx.doc_ids):
                    fails.append(f"append count {res['count']} vs stored {len(idx.doc_ids)}")
                new_rows = len(idx.doc_ids) - old_rows
                ctx.extra["pipeline.append_rows_written_per_new_row"] = (
                    len(idx.doc_ids) / new_rows if new_rows else float("inf")
                )
                return fails

            return len(ctx.inputs.append_docs), check

        return self._dedup()

    def _dedup(self):
        from pyspark.sql import functions as F

        from indexlab_spark.operators import dedup
        from indexlab_spark.sources import reader

        ctx = self.ctx
        docs = reader.read_any(ctx.spark, ctx.paths["corpus"]).select(
            F.col("id").cast("long").alias("id"), "text"
        )
        span = ctx.tracer.span if ctx.tracer else lambda name: nullcontext()
        with span("dedup.minhash_lsh_pairs"):
            pairs_df = dedup.minhash_lsh_pairs(
                docs, id_col="id", text_col="text", threshold=DEDUP_THRESHOLD
            ).persist()
            pairs = [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs_df.collect()]
        with span("dedup.connected_components"):
            labels = {
                r["id"]: r["cluster"]
                for r in dedup.connected_components(pairs_df, docs.select("id")).collect()
            }
        pairs_df.unpersist()
        if ctx.tracer:
            ctx.tracer.counts["dedup.verified_pairs"] += len(pairs)

        def check():
            fails = oracle.check_dedup(ctx.inputs.docs, pairs, labels, DEDUP_THRESHOLD)
            want = ctx.inputs.dup_pairs()
            got = {(a, b) for a, b, _ in pairs}
            ctx.recall.append(len(want & got) / len(want))
            return fails

        return len(ctx.inputs.docs), check


class Read:
    calls = ("search_vector", "search_hybrid", "search_ivf")  # one query each
    kinds = calls + ("evaluate", "batch_ivf")
    entry = {k: "pipeline.evaluate" if k == "evaluate" else "pipeline.search"
             for k in kinds}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n = 0

    def setup(self) -> None:
        """Pre-build both indexes (the first build also warms the JVM and
        the Python workers) and load them for the oracles."""
        from indexlab_spark import pipeline
        from indexlab_spark.sources.reader import load_gold

        ctx = self.ctx
        for name, backend in (("flat", "flat"), ("ivf", "ivf")):
            pipeline.build_index(
                ctx.spark, ctx.paths["corpus"], _cfg(ctx, name, backend), ctx.engine,
                version="v1",
            )
        self.flat = oracle.StoredIndex(ctx.engine.warehouse_dir, "flat", "v1")
        self.ivf = oracle.StoredIndex(ctx.engine.warehouse_dir, "ivf", "v1")
        self.cents = _centroids(ctx, "ivf", "v1")
        self.gold_df = load_gold(ctx.spark, ctx.paths["gold"])
        self.batch_df = ctx.spark.createDataFrame(
            list(enumerate(ctx.inputs.batch_queries)), "query_id long, query string"
        )
        self.qvec = {}

    def _vec(self, text):
        if text not in self.qvec:
            self.qvec[text] = oracle.embed([text])[0]
        return self.qvec[text]

    def run(self, kind: str):
        from indexlab_spark import pipeline

        ctx = self.ctx
        if kind.startswith("search_"):
            q = ctx.inputs.single_queries[self.n % len(ctx.inputs.single_queries)]
            self.n += 1
            index = "ivf" if kind == "search_ivf" else "flat"
            rows = pipeline.search(ctx.spark, index, q, k=oracle.K,
                                   hybrid=kind == "search_hybrid",
                                   engine=ctx.engine).collect()
            mode = kind.split("_")[1]
            return 1, lambda: self._check_hits(mode, [q], rows)
        if kind == "evaluate":
            results, metrics = pipeline.evaluate(ctx.spark, "flat", self.gold_df,
                                                 k=oracle.K, engine=ctx.engine)
            # both frames share the kNN lineage: cache it once, as a caller
            # showing per-question rows and the summary would
            results = results.persist()
            res_rows, met = results.collect(), metrics.collect()[0]
            results.unpersist()
            return len(ctx.inputs.gold), lambda: self._check_eval(res_rows, met)
        rows = pipeline.search(ctx.spark, "ivf", self.batch_df, k=oracle.K,
                               engine=ctx.engine).collect()
        qs = ctx.inputs.batch_queries
        return len(qs), lambda: self._check_hits("ivf", qs, rows)

    def _check_hits(self, mode, queries, rows):
        by_q: dict[int, list] = {i: [] for i in range(len(queries))}
        for r in rows:
            by_q[r["query_id"]].append(r)
        fails = []
        for qid, q in enumerate(queries):
            hits = sorted(by_q[qid], key=lambda r: r["rank"])
            got = [r["doc_id"] for r in hits]
            v = self._vec(q)
            exact, scores = self.flat.exact(v, oracle.POOL)
            if mode == "vector":
                want = exact[:oracle.K]
                fails += _check_scores(self.flat, hits, scores)
            elif mode == "hybrid":
                want = oracle.rrf(exact, self.flat.bm25_top(q, oracle.POOL), oracle.K)
                in_pool = set(exact)
                vs = {r["doc_id"]: r["vector_score"] for r in hits}
                if any((d in in_pool) != (vs[d] is not None) for d in got):
                    fails.append("hybrid vector_score present/absent mismatch")
            else:
                want, scanned = self.ivf.ivf(v, self.cents, NPROBE, oracle.K)
                ctx_counts = self.ctx.extra
                ctx_counts["ivf_rows_scanned"] = ctx_counts.get("ivf_rows_scanned", 0) + scanned
                ctx_counts["ivf_queries"] = ctx_counts.get("ivf_queries", 0) + 1
                self.ctx.recall.append(len(set(got) & set(exact[:oracle.K])) / oracle.K)
            fails += oracle.check_ranked(got, want, f"{mode} q{qid}")
            fails += oracle.check_previews(hits, self.ivf if mode == "ivf" else self.flat)
        return fails

    def _check_eval(self, res_rows, met):
        gold = self.ctx.inputs.gold
        ranked = [self.flat.exact(self._vec(q), oracle.K)[0] for q, _ in gold]
        fails = []
        for r in res_rows:
            want = ranked[r["query_id"] - 1]
            if list(r["top_ids"]) != want:
                fails.append(f"eval q{r['query_id']}: top_ids {list(r['top_ids'])} want {want}")
        want_m = oracle.eval_metrics(ranked, [e for _, e in gold])
        if len(res_rows) != len(gold) or met["total"] != len(gold):
            fails.append(f"eval rows {len(res_rows)} / total {met['total']} vs {len(gold)}")
        for key, val in want_m.items():
            if abs(met[key] - val) > 1e-9:
                fails.append(f"eval {key} {met[key]} want {val}")
        return fails


def _check_scores(idx, hits, scores) -> list[str]:
    bad = [r for r in hits if r["vector_score"] != scores[idx.row_of[r["doc_id"]]]]
    return [f"{len(bad)} vector scores differ from the float64 fold"] if bad else []


def _positions(idx) -> list[str]:
    n = len(idx.chunk_pos)
    ok = np.array_equal(np.sort(idx.chunk_pos), np.arange(n))
    return [] if ok else ["chunk_pos is not 0..n-1"]


def _manifest_count(man, idx) -> list[str]:
    return [] if man["count"] == len(idx.doc_ids) else [
        f"manifest count {man['count']} vs stored {len(idx.doc_ids)}"
    ]


WORKLOADS = {"write": Write, "read": Read}
