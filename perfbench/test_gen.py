"""Input generator properties: seeded determinism and gold-set validity.

    python3 -m pytest perfbench/test_gen.py -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _file_bytes(seed, out_dir):
    paths = gen.write_inputs(gen.generate(seed), str(out_dir))
    return {role: open(p, "rb").read() for role, p in paths.items()}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _file_bytes(7, tmp_path / "a") == _file_bytes(7, tmp_path / "b")


def test_other_seed_changes_every_input(tmp_path):
    a, b = _file_bytes(7, tmp_path / "a"), _file_bytes(8, tmp_path / "b")
    assert all(a[role] != b[role] for role in a)


def test_gold_question_lies_in_its_expected_chunk():
    inputs = gen.generate(7)
    s = inputs.sizes
    for question, expected in inputs.gold:
        doc, chunk = map(int, expected.split("#"))
        text = inputs.docs[doc]
        start, end = gen.chunk_windows(len(text), s.chunk_size, s.chunk_overlap)[chunk]
        assert question in text[start:end]


def test_families_are_near_duplicates():
    inputs = gen.generate(7)
    sizes = sorted(len(f) for f in inputs.families)
    assert sizes[0] >= 2 and sizes[-1] <= 4
    for fam in inputs.families:
        words = [inputs.docs[d].split(" ") for d in fam]
        assert len({len(w) for w in words}) == 1  # variants replace tokens only
        same = sum(x == y for x, y in zip(words[0], words[1])) / len(words[0])
        assert same > 0.8  # two variants of one base differ in ~6% of tokens
