"""The benchmark's inputs are a pure function of the seed.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import inputs  # noqa: E402


def _blobs(seed: int) -> dict[str, bytes]:
    """Every seeded input of one seed, serialized by name."""
    out = dict(inputs.ingest_videos(seed, 2, 2.0))
    images = inputs.query_images(seed, 2)
    for i, (_, img) in enumerate(images):
        out[f"image{i}"] = img
    planted = inputs.ha_tokens(["1 2 3 " * 33 + "4", "a b c " * 33 + "d"])
    corpus = inputs.search_corpus(seed, 10, 30, planted)
    out["corpus"] = "\n".join(inputs.ha_strings(corpus)).encode()
    for b, (_, ha) in enumerate(inputs.live_batches(seed, 3, 50)):
        out[f"batch{b}"] = "\n".join(ha).encode()
    return out


def test_same_seed_gives_identical_inputs():
    assert _blobs(7) == _blobs(7)


def test_other_seed_changes_every_input():
    a, b = _blobs(7), _blobs(8)
    assert a.keys() == b.keys()
    assert [k for k in a if a[k] == b[k]] == []


def test_live_batches_hold_near_duplicates():
    rows = [h for _, ha in inputs.live_batches(3, 4, 200) for h in ha]
    tokens = [set(enumerate(r.split())) for r in rows]
    near = sum(
        any(len(t & u) >= 98 for u in tokens[:i]) for i, t in enumerate(tokens)
    )
    assert 0.1 < near / len(rows) < 0.3


def test_search_corpus_plants_scene_heads():
    planted = inputs.ha_tokens(["1 2 3 " * 33 + "4"])
    corpus = inputs.search_corpus(5, 4, 20, planted)
    assert corpus.shape == (80, 100)
    assert (corpus[0] == planted[0]).all()
    assert len(set(map(bytes, corpus))) == 80
