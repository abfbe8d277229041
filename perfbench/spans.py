"""Spans, layer probes and scheduler counts for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:
:func:`probe_layers` swaps the engine's module attributes (the names the
pipeline and operators look up at call time) for wrappers that open a
span, call the real function, and end the span on an action. Spark is
lazy, so each probe persists the layer's output and counts it (or sums a
checksum): the span then holds that layer's work rather than its
planning, and the next layer reads the materialised frame. The traced
operation is therefore a decomposed version of the fused one; the
difference between the two is reported as tracing overhead.

Self time = a span's duration minus the part of it its children cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; one trace id per benchmarked operation."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.trace_id: str | None = None
        self._stack: list[dict] = []
        self._pinned: list = []

    @contextmanager
    def span(self, name: str):
        sp = {
            "id": len(self.spans),
            "trace": self.trace_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def pin(self, df):
        """Persist ``df`` until :meth:`release`."""
        df = df.persist()
        self._pinned.append(df)
        return df

    def materialize(self, df):
        """Persist ``df`` and count it — the action that ends a span."""
        df = self.pin(df)
        return df, df.count()

    def release(self) -> None:
        """Unpersist every frame the probes pinned (call after each op)."""
        for df in self._pinned:
            df.unpersist(True)
        self._pinned.clear()

    def self_times(self) -> dict[str, float]:
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sp in self.spans:
            if sp["parent"] is not None:
                kids[sp["parent"]].append((sp["start"], sp["end"]))
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            covered, reach = 0.0, sp["start"]
            for a, b in sorted(kids[sp["id"]]):
                a, b = max(a, reach), min(b, sp["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[sp["name"]] += sp["end"] - sp["start"] - covered
        return dict(out)

    def write(self, path: str, header: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            f.write(json.dumps({"header": header}) + "\n")
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


def probe_layers(tracer: Tracer):
    """Install the layer probes; returns a function that removes them."""
    from pyspark.sql import functions as F

    from indexlab_spark import pipeline
    from indexlab_spark.operators import bm25, dedup, evaluate, fusion
    from indexlab_spark.sources import reader

    undo = []

    def wrap(module, attr, finish):
        orig = getattr(module, attr)

        def probe(*args, **kwargs):
            return finish(orig, args, kwargs)

        setattr(module, attr, probe)
        undo.append((module, attr, orig))

    def frame_probe(span_name, count_key=None):
        def finish(orig, args, kwargs):
            with tracer.span(span_name):
                out, n = tracer.materialize(orig(*args, **kwargs))
            if count_key:
                tracer.counts[count_key] += n
            return out
        return finish

    def embed_probe(orig, args, kwargs):
        corpus = kwargs.get("text_col", "text") == "text"
        out_col = kwargs.get("out_col", "embedding")
        with tracer.span("embed.corpus" if corpus else "embed.query"):
            out = tracer.pin(orig(*args, **kwargs))
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.element_at(out_col, 1)).alias("checksum"),
            ).first()
        if corpus:
            tracer.counts["embed.corpus_rows"] += row["n"]
        return out

    def pair_probe(span_name):
        """For layers returning ``(frame, extra)``: materialise the frame."""
        def finish(orig, args, kwargs):
            with tracer.span(span_name):
                frame, extra = orig(*args, **kwargs)
                frame, _ = tracer.materialize(frame)
            return frame, extra
        return finish

    def knn_probe(orig, args, kwargs):
        with tracer.span("knn.join"):
            out, _ = tracer.materialize(orig(*args, **kwargs))
        tracer.counts["knn.pairs_scored"] += args[0].count() * args[1].count()
        return out

    def bm25_build_probe(orig, args, kwargs):
        with tracer.span("bm25.build"):
            term_stats, doc_lens, globals_df = orig(*args, **kwargs)
            tracer.counts["bm25.postings"] += term_stats.count()
        return term_stats, doc_lens, globals_df

    def bm25_score_probe(orig, args, kwargs):
        with tracer.span("bm25.score"):
            out, _ = tracer.materialize(orig(*args, **kwargs))
        queries, term_stats = args[0], args[1]
        q_terms = queries.select(
            "query_id", F.explode(bm25.tokenize("query")).alias("term")
        ).distinct()
        tracer.counts["bm25.contrib_rows"] += q_terms.join(term_stats, "term").count()
        return out

    def verify_probe(orig, args, kwargs):
        cand, n = tracer.materialize(args[0])
        tracer.counts["dedup.candidates"] += n
        return orig(cand, *args[1:], **kwargs)

    wrap(reader, "read_any", frame_probe("reader.read", "reader.rows"))
    for name in ("normalize_df", "with_row_numbers", "with_doc_text"):
        wrap(pipeline, name, frame_probe("text.prepare"))
    wrap(pipeline, "explode_chunks", frame_probe("chunk.explode", "chunk.chunks"))
    wrap(pipeline, "with_embedding", embed_probe)
    wrap(pipeline, "build_ivf", pair_probe("knn.build_ivf"))
    wrap(pipeline, "load_index", pair_probe("pipeline.load_index"))
    wrap(pipeline, "knn_join", knn_probe)
    wrap(pipeline, "ivf_search", frame_probe("knn.ivf_search"))
    wrap(bm25, "bm25_build", bm25_build_probe)
    wrap(bm25, "bm25_score", bm25_score_probe)
    wrap(fusion, "hybrid_search", frame_probe("fusion.rrf"))
    wrap(evaluate, "eval_results", frame_probe("evaluate.metrics"))
    wrap(evaluate, "eval_metrics", frame_probe("evaluate.metrics"))
    wrap(dedup, "minhash_signatures", frame_probe("dedup.signatures"))
    wrap(dedup, "_verify_jaccard", verify_probe)

    def remove():
        for module, attr, orig in reversed(undo):
            setattr(module, attr, orig)

    return remove


class JobCounter:
    """Jobs, stages and tasks per operation, read from outside the engine
    through a job group and ``statusTracker()``."""

    def __init__(self, sc):
        self.sc = sc
        self.per_op: dict[str, tuple[int, int, int]] = {}
        self._n = 0

    @contextmanager
    def group(self, kind: str):
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, kind)
        try:
            yield
        finally:
            self.sc.setJobGroup(f"perfbench-idle-{self._n}", "idle")
        self.per_op[kind] = self._count(gid)

    def _count(self, gid: str) -> tuple[int, int, int]:
        # job/stage records are filled from the listener bus: drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        st = self.sc.statusTracker()
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(gid)]
        stages = [st.getStageInfo(s) for j in jobs if j for s in j.stageIds]
        ran = [s for s in stages if s and s.numCompletedTasks > 0]
        return len(jobs), len(ran), sum(s.numCompletedTasks for s in ran)
