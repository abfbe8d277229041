"""Seeded input generator for the benchmark.

Everything the engine sees is derived from one seed: a Zipf-vocabulary
prose corpus with injected near-duplicate families, an append batch, a
gold set whose ``expected_id`` is the chunk that really contains the
question span, and the query sequences. Token draws are vectorised (one
``rng.choice`` over the whole corpus), so generation stays well under a
second at benchmark sizes.

Files written by :func:`write_inputs` (the engine only reads these):

- ``corpus.csv`` / ``append.csv``: ``id,text`` rows, ``id`` == file row
  index == the engine's ``doc_no``;
- ``gold.csv``: ``question,expected_id``;
- ``meta.json``: near-duplicate families, query texts, sizes.

Texts use only ``[a-z .]`` so no CSV quoting is ever needed.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np


@dataclass(frozen=True)
class Sizes:
    base_docs: int = 600
    families: int = 100  # near-duplicate families, 2-4 members each
    append_docs: int = 100
    gold: int = 128
    batch_queries: int = 128
    single_queries: int = 240
    vocab: int = 4000
    zipf_s: float = 1.1
    min_words: int = 60
    max_words: int = 180
    sentence_rate: float = 1 / 12
    mutation_rate: float = 0.03  # share of tokens replaced in a variant
    chunk_size: int = 400
    chunk_overlap: int = 50


@dataclass
class Inputs:
    seed: int
    sizes: Sizes
    docs: list[str]
    append_docs: list[str]
    families: list[list[int]]  # doc ids, ascending, per family
    gold: list[tuple[str, str]]  # (question, expected_id)
    batch_queries: list[str]
    single_queries: list[str]

    def dup_pairs(self) -> set[tuple[int, int]]:
        return {
            (a, b) for fam in self.families for i, a in enumerate(fam) for b in fam[i + 1:]
        }


def chunk_windows(n_chars: int, size: int, overlap: int) -> list[tuple[int, int]]:
    """Fixed-char windows ``[start, end)`` — the reference chunker's rule
    (advance ``max(end - overlap, start + 1)``, stop at the window that
    reaches the end). Used by the generator and the oracles alike."""
    out, i = [], 0
    while i < n_chars:
        j = min(i + size, n_chars)
        out.append((i, j))
        if j >= n_chars:
            break
        i = max(j - overlap, i + 1)
    return out


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    lens = rng.integers(2, 10, size=3 * n)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))[
        rng.integers(0, 26, size=int(lens.sum()))
    ]
    words = ["".join(w) for w in np.split(letters, np.cumsum(lens)[:-1])]
    uniq = list(dict.fromkeys(words))[:n]
    if len(uniq) < n:  # pragma: no cover - 3n candidates always suffice
        raise RuntimeError("vocabulary draw produced too few distinct words")
    return np.array(uniq, dtype=object)


def _render(ids: np.ndarray, stops: np.ndarray, vocab: np.ndarray,
            vocab_dot: np.ndarray, bounds: np.ndarray) -> list[str]:
    words = np.where(stops, vocab_dot[ids], vocab[ids])
    return [" ".join(w) for w in np.split(words, bounds)]


def generate(seed: int, sizes: Sizes = Sizes()) -> Inputs:
    rng = np.random.default_rng(seed)
    s = sizes
    vocab = _vocabulary(rng, s.vocab)
    vocab_dot = np.array([w + "." for w in vocab], dtype=object)
    p = 1.0 / np.arange(1, s.vocab + 1) ** s.zipf_s
    p /= p.sum()

    def draw_docs(n_docs: int):
        lens = rng.integers(s.min_words, s.max_words + 1, size=n_docs)
        ids = rng.choice(s.vocab, size=int(lens.sum()), p=p)
        stops = rng.random(int(lens.sum())) < s.sentence_rate
        return lens, ids, stops

    # base corpus + near-duplicate variants of randomly chosen base docs
    lens, ids, stops = draw_docs(s.base_docs)
    offs = np.concatenate([[0], np.cumsum(lens)])
    fam_bases = rng.choice(s.base_docs, size=s.families, replace=False)
    # sizes 2, 3, 4 in equal shares: the document count is seed-independent
    fam_sizes = rng.permutation(2 + np.arange(s.families) % 3)
    var_src = np.repeat(fam_bases, fam_sizes - 1)
    var_lens = lens[var_src]
    var_idx = np.concatenate([np.arange(offs[b], offs[b + 1]) for b in var_src])
    var_ids = ids[var_idx].copy()
    mutate = rng.random(len(var_ids)) < s.mutation_rate
    var_ids[mutate] = rng.choice(s.vocab, size=int(mutate.sum()), p=p)
    var_stops = stops[var_idx]

    all_lens = np.concatenate([lens, var_lens])
    all_ids = np.concatenate([ids, var_ids])
    all_stops = np.concatenate([stops, var_stops])
    texts = _render(all_ids, all_stops, vocab, vocab_dot, np.cumsum(all_lens)[:-1])

    # shuffle so families spread over the file; id == final row index
    perm = rng.permutation(len(texts))  # perm[new_pos] = old_pos
    pos_of = np.empty_like(perm)
    pos_of[perm] = np.arange(len(perm))
    docs = [texts[i] for i in perm]
    families = []
    var_start = s.base_docs
    for b, m in zip(fam_bases, fam_sizes):
        members = [int(b)] + list(range(var_start, var_start + int(m) - 1))
        var_start += int(m) - 1
        families.append(sorted(int(pos_of[x]) for x in members))
    families.sort()

    a_lens, a_ids, a_stops = draw_docs(s.append_docs)
    append_docs = _render(a_ids, a_stops, vocab, vocab_dot, np.cumsum(a_lens)[:-1])

    gold = _gold_questions(rng, docs, s)
    batch_queries = _spans(rng, docs, s.batch_queries, 2, 7)
    # fixed length: a single query's cost should not hinge on its length
    single_queries = _spans(rng, docs, s.single_queries, 5, 5)
    return Inputs(seed, s, docs, append_docs, families, gold, batch_queries,
                  single_queries)


def _spans(rng: np.random.Generator, docs: list[str], n: int, lo: int, hi: int) -> list[str]:
    """``n`` word spans of ``lo..hi`` words taken from random documents."""
    picks = rng.integers(0, len(docs), size=n)
    widths = rng.integers(lo, hi + 1, size=n)
    out = []
    for d, w in zip(picks, widths):
        words = docs[d].split(" ")
        start = int(rng.integers(0, max(1, len(words) - w)))
        out.append(" ".join(words[start:start + w]))
    return out


def _gold_questions(rng: np.random.Generator, docs: list[str], s: Sizes):
    """Question = a 5-9 word span lying inside exactly one chunk of its
    document (outside both overlap zones); expected_id = that chunk."""
    stride = s.chunk_size - s.chunk_overlap
    out: list[tuple[str, str]] = []
    while len(out) < s.gold:
        d = int(rng.integers(0, len(docs)))
        text = docs[d]
        wins = chunk_windows(len(text), s.chunk_size, s.chunk_overlap)
        c = int(rng.integers(0, len(wins)))
        lo = wins[c][0] + (s.chunk_overlap if c > 0 else 0)
        hi = wins[c][0] + stride if c < len(wins) - 1 else wins[c][1]
        starts = [i for i in range(lo, hi) if i == 0 or text[i - 1] == " "]
        if not starts:
            continue
        a = starts[int(rng.integers(0, len(starts)))]
        width = int(rng.integers(5, 10))
        words = text[a:].split(" ")[:width]
        q = " ".join(words)
        if len(words) < width or a + len(q) > hi:
            continue  # span would leave the chunk's own region: redraw
        out.append((q, f"{d}#{c}"))
    return out


def write_inputs(inputs: Inputs, out_dir: str) -> dict[str, str]:
    """Write the engine-facing files; returns their paths by role."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "corpus": os.path.join(out_dir, "corpus.csv"),
        "append": os.path.join(out_dir, "append.csv"),
        "gold": os.path.join(out_dir, "gold.csv"),
        "meta": os.path.join(out_dir, "meta.json"),
    }
    for role, docs in (("corpus", inputs.docs), ("append", inputs.append_docs)):
        with open(paths[role], "w", encoding="utf-8", newline="\n") as f:
            f.write("id,text\n")
            f.writelines(f"{i},{t}\n" for i, t in enumerate(docs))
    with open(paths["gold"], "w", encoding="utf-8", newline="\n") as f:
        f.write("question,expected_id\n")
        f.writelines(f"{q},{e}\n" for q, e in inputs.gold)
    with open(paths["meta"], "w", encoding="utf-8") as f:
        json.dump(
            {
                "seed": inputs.seed,
                "sizes": asdict(inputs.sizes),
                "families": inputs.families,
                "batch_queries": inputs.batch_queries,
                "single_queries": inputs.single_queries,
            },
            f,
            sort_keys=True,
        )
    return paths
