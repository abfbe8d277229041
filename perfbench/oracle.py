"""Independent numpy / pure-Python oracles for every benchmarked operation.

Nothing here imports the engine: the embedder, chunker, ranking, BM25,
RRF and union-find are re-derived from the reference contracts, and the
engine's stored index is read back with pyarrow rather than Spark.

Each ``check_*`` returns a list of failure strings (empty == correct), so
the caller can count failed checks without stopping the run.
"""

from __future__ import annotations

import math
import re
import zlib
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.dataset as ds

from gen import chunk_windows

K = 5
POOL = 50  # max(k, SEARCH_POOL_MIN) and the default BM25 depth
RRF_K = 60
BM25_K1, BM25_B, BM25_EPS = 1.5, 0.75, 0.25
PREVIEW = 220
_WORD = re.compile(r"\W+")
_WS = re.compile(r"\s+", re.ASCII)


# ----------------------------------------------------------------- embedder
def embed(texts: list[str], dim: int = 64) -> np.ndarray:
    """hash-ngram-<dim>: signed crc32 buckets of each lowercase token's
    ``^tok$`` char-3-grams, L2-normalised, float32."""
    out = np.zeros((len(texts), dim), dtype=np.float64)
    for r, text in enumerate(texts):
        for tok in _WORD.split(text.lower()):
            if not tok:
                continue
            padded = f"^{tok}$"
            grams = [padded] if len(padded) <= 3 else [
                padded[i:i + 3] for i in range(len(padded) - 2)
            ]
            for g in grams:
                b = g.encode()
                out[r, zlib.crc32(b) % dim] += 1.0 if zlib.crc32(b"s:" + b) & 1 else -1.0
    norms = np.sqrt((out * out).sum(axis=1, keepdims=True))
    norms[norms == 0.0] = 1.0
    return (out / norms).astype(np.float32)


def dot_fold(mat: np.ndarray, vec: np.ndarray) -> np.ndarray:
    """Row-wise float64 dot products folded left to right over the
    dimensions — the engine's documented accumulation order, so scores
    compare bit for bit."""
    m = mat.astype(np.float64)
    v = vec.astype(np.float64)
    acc = np.zeros(len(m))
    for j in range(m.shape[1]):
        acc = acc + m[:, j] * v[j]
    return acc


def _round_half_up(x: float, digits: int) -> float:
    return float(Decimal(x).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP))


# ------------------------------------------------------------ stored index
class StoredIndex:
    """One (index_name, version) partition of the chunks table, read
    with pyarrow and ordered by ``chunk_pos``."""

    def __init__(self, warehouse: str, index_name: str, version: str):
        table = ds.dataset(
            f"{warehouse}/chunks/index_name={index_name}/version={version}",
            format="parquet",
        ).to_table(columns=["doc_id", "chunk_pos", "text", "embedding", "cluster_id"])
        order = np.argsort(table.column("chunk_pos").to_numpy())
        self.doc_ids = np.array(table.column("doc_id").to_pylist(), dtype=object)[order]
        self.chunk_pos = table.column("chunk_pos").to_numpy()[order]
        self.texts = np.array(table.column("text").to_pylist(), dtype=object)[order]
        self.emb = np.stack(table.column("embedding").to_numpy(zero_copy_only=False))[order]
        cl = table.column("cluster_id").to_pylist()
        self.cluster = None if cl[0] is None else np.array(cl)[order]
        self.row_of = {d: i for i, d in enumerate(self.doc_ids)}
        self._bm25 = None

    def exact(self, qvec: np.ndarray, k: int) -> tuple[list[str], np.ndarray]:
        """Exact top-k ids (ties: ascending chunk_pos) and all scores."""
        s = dot_fold(self.emb, qvec)
        order = np.lexsort((self.chunk_pos, -s))[:k]
        return list(self.doc_ids[order]), s

    def ivf(self, qvec: np.ndarray, centroids: np.ndarray, nprobe: int, k: int):
        """Top-k inside the ``nprobe`` best cells (cells ranked by score,
        then cluster_id; candidates by score, then doc_id)."""
        cs = dot_fold(centroids, qvec)
        cells = np.lexsort((np.arange(len(cs)), -cs))[:nprobe]
        rows = np.flatnonzero(np.isin(self.cluster, cells))
        s = dot_fold(self.emb[rows], qvec)
        order = sorted(range(len(rows)), key=lambda i: (-s[i], self.doc_ids[rows[i]]))[:k]
        return [self.doc_ids[rows[i]] for i in order], len(rows)

    def bm25_top(self, query: str, k: int) -> list[str]:
        """BM25Okapi (rank_bm25 semantics) over chunk texts; scores
        rounded to 6 dp, ties by doc_id; zero-score docs never returned."""
        if self._bm25 is None:
            toks = [t.lower().split() for t in self.texts]
            n = len(toks)
            tfs = []
            dfreq: dict[str, int] = {}
            for t in toks:
                c: dict[str, int] = {}
                for w in t:
                    c[w] = c.get(w, 0) + 1
                tfs.append(c)
                for w in c:
                    dfreq[w] = dfreq.get(w, 0) + 1
            idf = {w: math.log(n - d + 0.5) - math.log(d + 0.5) for w, d in dfreq.items()}
            avg_idf = sum(idf.values()) / len(idf)
            idf = {w: BM25_EPS * avg_idf if v < 0 else v for w, v in idf.items()}
            avgdl = sum(len(t) for t in toks) / n
            postings: dict[str, list[tuple[int, int]]] = {}
            for i, c in enumerate(tfs):
                for w, f in c.items():
                    postings.setdefault(w, []).append((i, f))
            self._bm25 = (idf, postings, [len(t) for t in toks], avgdl)
        idf, postings, dls, avgdl = self._bm25
        scores: dict[int, float] = {}
        for w in _WS.split(query.lower()):
            if not w or w not in idf:
                continue
            for i, f in postings[w]:
                scores[i] = scores.get(i, 0.0) + idf[w] * f * (BM25_K1 + 1) / (
                    f + BM25_K1 * (1 - BM25_B + BM25_B * dls[i] / avgdl)
                )
        ranked = sorted(
            ((-_round_half_up(v, 6), self.doc_ids[i]) for i, v in scores.items())
        )
        return [d for _, d in ranked[:k]]


def rrf(vec_ids: list[str], bm_ids: list[str], k: int) -> list[str]:
    fused: dict[str, float] = {}
    for ids in (vec_ids, bm_ids):
        for r, d in enumerate(ids, start=1):
            fused[d] = fused.get(d, 0.0) + 1.0 / (RRF_K + r)
    ranked = sorted((-_round_half_up(v, 9), d) for d, v in fused.items())
    return [d for _, d in ranked[:k]]


def preview(text: str) -> str:
    return text[:PREVIEW] + "…" if len(text) > PREVIEW else text


# ------------------------------------------------------------------ checks
def check_build(idx: StoredIndex, docs: list[str], size: int, overlap: int) -> list[str]:
    """Chunk texts/ids equal Python fixed-char windows; embeddings equal
    the reference embedder and have unit norm."""
    want_ids, want_txt = [], []
    for d, text in enumerate(docs):
        for c, (a, b) in enumerate(chunk_windows(len(text), size, overlap)):
            want_ids.append(f"{d}#{c}")
            want_txt.append(text[a:b])
    got = dict(zip(idx.doc_ids, idx.texts))
    fails = []
    missing = [i for i in want_ids if i not in got]
    if len(got) != len(want_ids) or missing:
        fails.append(f"chunks: {len(got)} stored vs {len(want_ids)} expected")
        return fails
    if any(got[i] != t for i, t in zip(want_ids, want_txt)):
        fails.append("chunk text differs from fixed-char windows")
    rows = [idx.row_of[i] for i in want_ids]
    norms = np.linalg.norm(idx.emb[rows].astype(np.float64), axis=1)
    if not np.allclose(norms, 1.0, atol=1e-5):
        fails.append(f"embedding norms in [{norms.min():.6f}, {norms.max():.6f}]")
    if not np.allclose(idx.emb[rows], embed_cached(want_txt), atol=1e-6):
        fails.append("embeddings differ from the reference embedder")
    return fails


_EMBED_CACHE: dict[str, np.ndarray] = {}


def embed_cached(texts: list[str]) -> np.ndarray:
    """:func:`embed` memoised per text (repeat builds re-check the same
    chunks)."""
    missing = [t for t in dict.fromkeys(texts) if t not in _EMBED_CACHE]
    if missing:
        _EMBED_CACHE.update(zip(missing, embed(missing)))
    return np.stack([_EMBED_CACHE[t] for t in texts])


def check_ranked(got: list[str], want: list[str], what: str) -> list[str]:
    return [] if list(got) == list(want) else [f"{what}: got {got} want {want}"]


def check_previews(rows, idx: StoredIndex) -> list[str]:
    bad = [r for r in rows if r["preview"] != preview(idx.texts[idx.row_of[r["doc_id"]]])]
    return [f"{len(bad)} hydrated previews differ"] if bad else []


def eval_metrics(ranked: list[list[str]], expected: list[str]) -> dict:
    ranks = [r.index(e) + 1 if e in r else None for r, e in zip(ranked, expected)]
    n = len(ranks)
    return {
        "recall_at_k": sum(r is not None for r in ranks) / n,
        "mrr": sum(1.0 / r for r in ranks if r) / n,
        "ndcg": sum(1.0 / math.log2(r + 1) for r in ranks if r) / n,
    }


def shingles(text: str, n: int = 3) -> set[str]:
    toks = [t for t in _WS.split(text.lower()) if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def components(ids: list[int], pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find; each id maps to the smallest id of its component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def check_dedup(docs: list[str], pairs: list[tuple[int, int, float]],
                clusters: dict[int, int], threshold: float) -> list[str]:
    fails = []
    sh = {}
    for a, b, jac in pairs:
        for d in (a, b):
            if d not in sh:
                sh[d] = shingles(docs[d])
        exact = jaccard(sh[a], sh[b])
        if _round_half_up(exact, 6) < threshold or abs(exact - jac) > 1e-6:
            fails.append(f"pair ({a},{b}) jaccard {jac} vs exact {exact:.6f}")
    want = components(list(range(len(docs))), [(a, b) for a, b, _ in pairs])
    if clusters != want:
        diff = sum(clusters.get(i) != c for i, c in want.items())
        fails.append(f"components: {diff} ids labelled differently from union-find")
    return fails
