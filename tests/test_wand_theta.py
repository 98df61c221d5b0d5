"""The one scoring kernel, ``_sweep_topk``, against exhaustive scoring of
every posting — no Spark.

bmw, maxscore and wand all score through ``_sweep_topk``, a static-θ₀
interval sweep; they differ only in the pruning intervals they hand it:
block maxima (bmw, wand) or one interval per term (maxscore).  Both shapes
are pinned here against ``_rank`` over every posting.

The data is the exact-k trap of the adaptive-θ WAND loop this kernel
replaced: that loop read the running k-th score before ranking a candidate
set of exactly k, so θ could be inflated to the best score and prune a
true top-k doc.  The sweep never raises θ, so that bug class is gone with
the loop; the trap stays as a dense tie-free top-k that crosses many
intervals.  One term, one posting per block, 17 blocks at even docIDs
0..32; with k=16 the top-k is every doc but doc 0, the highest-scoring doc
(30) is last but one in docID order and doc 32 scores between the middle
and the top.
"""

from __future__ import annotations

import numpy as np
import pytest

from ds2s.codecs import encode_docs, encode_tfs
from ds2s.config import DEFAULT_SCORER
from ds2s.serve import _rank, _sweep_topk


def _score(tf: float, k1: float, b: float, ln: float, avg: float) -> float:
    return tf / (tf + k1 * (1.0 - b + b * ln / avg))


@pytest.mark.parametrize("intervals", ["block_maxima", "term_interval"])
@pytest.mark.parametrize("theta0", ["zero", "kth"])
def test_sweep_equals_exhaustive_at_exact_k(intervals, theta0):
    scorer = DEFAULT_SCORER
    k1, b = scorer.k1, scorer.b
    avg = 10.0
    w, idf = 1.0, 1.0
    k = 16

    # docs 0,2,...,32: one per block. tf picks the score ordering:
    #   doc 0 lowest, docs 2..28 middle, doc 30 highest, doc 32 between.
    docs = np.arange(0, 34, 2, dtype=np.int64)
    tfs = np.full(len(docs), 5, dtype=np.int64)
    tfs[0] = 1        # lowest — the only doc outside the true top-16
    tfs[-2] = 1000    # doc 30: max score, last but one in docID order
    tfs[-1] = 10      # doc 32: in the true top-16, after doc 30
    lens = np.full(len(docs), int(avg), dtype=np.int64)

    payloads = []
    bmax = np.empty(len(docs), dtype=np.float64)
    for i, (d, tf, ln) in enumerate(zip(docs, tfs, lens)):
        payloads.append(
            (
                encode_docs(np.array([d], dtype=np.int64), int(d) + 1, "ef"),
                encode_tfs(np.array([tf], dtype=np.int64), "ef"),
                encode_tfs(np.array([ln], dtype=np.int64), "ef"),
            )
        )
        bmax[i] = idf * _score(float(tf), k1, b, float(ln), avg)

    if intervals == "block_maxima":
        firsts, lasts, ubs = docs, docs, bmax * w
    else:
        firsts, lasts = docs[:1], docs[-1:]
        ubs = np.array([bmax.max() * w])
    per_term = [
        dict(
            firsts=firsts, lasts=lasts, ubs=ubs,
            block_first=docs, block_last=docs,
            payloads=payloads, w=w, idf=idf,
        )
    ]

    # oracle: exhaustive scoring of every posting, same tie discipline
    all_scores = w * bmax
    exp_docs, exp_scores = _rank(docs.copy(), all_scores.copy(), k, 6)
    assert 32 in exp_docs and 0 not in exp_docs  # the trap is armed

    # θ₀ as the seed sets it: the true k-th score less one quantum, the
    # tightest static threshold the driver can hand the kernel
    th = 0.0 if theta0 == "zero" else float(exp_scores[-1]) - 1e-6
    got_docs, got_scores = _sweep_topk(
        per_term, k, theta0=th, avg=avg, scorer=scorer, rank_round=6
    )

    np.testing.assert_array_equal(got_docs, exp_docs)
    np.testing.assert_allclose(got_scores, exp_scores, rtol=0, atol=1e-12)
