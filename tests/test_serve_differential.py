"""Differential serving harness: every pruned algorithm, through every
serving tier, off a cached and an uncached store and from the live build
in memory, equals exhaustive ranked-OR on seeded adversarial batches.

One seeded generator (stdlib ``random`` + numpy) writes the corpus and
the query batches.  The corpus has:

- Zipf-hot terms (``h0``… in most docs, tf Zipf-distributed), mid terms
  and single-posting terms (``s0``…, one doc each);
- an ``edge`` term in every third doc whose high-tf postings are the
  first and last of each of its blocks, so top-k docs sit on block
  boundaries (block_size 8 makes every list many blocks long, and a
  superblock is 4 blocks).

The batches mix hot-only, rare + hot, single-posting-only (k larger than
the matches), out-of-vocabulary and duplicate query terms, at k=10 and
k=1.  Every combination of {bmw, maxscore, wand} × four tiers × {cached
store, uncached store, in-memory ``ServingIndex(idx)``} serves one of the
two batches, rotated so that each batch meets every algorithm, tier and
mode (36 runs, not 72, to stay within a minute).  Tiers are forced by
patching the serving module's constants:

- fetched driver tier (default caps: one fetch, kernel in the driver);
- unfetched driver tier (``_DRIVER_FETCH_BLOCKS`` = 0: Spark kernel);
- superblock tier (``_PLAN_COLLECT_CAP`` one below the batch's estimated
  blocks, so only the superblock grid's pruning brings it under the cap);
- kernel tier (``_PLAN_COLLECT_CAP`` = 0).

Every index cuts superblocks of ``SB`` blocks (``_SB_SIZE`` patched while
the store is written and the in-memory index is built).  Every run must
land in its tier and equal ``ranked_or_topk``.
"""

from __future__ import annotations

import dataclasses
import random

import numpy as np
import pandas as pd
import pytest

from ds2s import query as Q
from ds2s.config import DEFAULT_CONFIG
from ds2s.serve import ServingIndex

SEED = 20251
N_DOCS = 1200
BLOCK = 8
SB = 4
N_HOT, N_MID, N_SINGLE = 8, 40, 30
TIERS = ("fetched", "unfetched", "superblock", "kernel")
MODES = ("cached", "uncached", "memory")


def gen_corpus(seed: int = SEED) -> list[tuple[int, str]]:
    """(doc_id, content) rows; see the module docstring for the shapes."""
    rng = np.random.default_rng(seed)
    docs: list[list[str]] = [[] for _ in range(N_DOCS)]
    for h in range(N_HOT):
        present = rng.random(N_DOCS) < 0.95 / (h + 1) ** 0.5
        tfs = np.minimum(rng.zipf(2.0, N_DOCS), 20)
        for d in np.flatnonzero(present):
            docs[d] += [f"h{h}"] * int(tfs[d])
    for m in range(N_MID):
        for d in rng.choice(N_DOCS, int(rng.integers(5, 40)), replace=False):
            docs[d] += [f"m{m}"] * int(rng.integers(1, 6))
    for s, d in enumerate(rng.choice(N_DOCS, N_SINGLE, replace=False)):
        docs[d] += [f"s{s}"] * int(rng.integers(1, 9))
    # 400 postings = 50 full blocks; block-edge postings score highest
    for i, d in enumerate(range(0, N_DOCS, 3)):
        docs[d] += ["edge"] * (9 if i % BLOCK in (0, BLOCK - 1) else 1)
    for d in range(N_DOCS):  # filler: spreads doc lengths
        docs[d] += ["pad"] * int(rng.integers(0, 30))
    return [(d, " ".join(toks)) for d, toks in enumerate(docs)]


def gen_batches(seed: int = SEED) -> list[tuple[str, int, list[tuple]]]:
    """(name, k, query rows (qid, ord, term)) — two seeded batches."""
    rng = random.Random(seed)
    hot = [f"h{i}" for i in range(N_HOT)]
    mid = [f"m{i}" for i in range(N_MID)]
    single = [f"s{i}" for i in range(N_SINGLE)]

    def rows(queries):
        return [(q, o, t) for q, terms in enumerate(queries)
                for o, t in enumerate(terms)]

    def mixed():
        fixed = [
            [rng.choice(single)],                       # 1 match < k
            rng.sample(single, 2),                      # 2 matches < k
            rng.sample(hot, 2),                         # hot only
            [rng.choice(hot), rng.choice(mid), rng.choice(single)],
            ["edge"],                                   # block boundaries
            ["edge", rng.choice(hot)],
            [rng.choice(mid)] * 2 + [rng.choice(hot)],  # duplicate term
            ["zzoov"],                                  # out of vocabulary
            ["zzoov", rng.choice(mid)],
            [hot[0], hot[0]],                           # duplicate hot term
        ]
        pool = hot + mid + single + ["edge", "zzoov"]
        return fixed + [rng.sample(pool, rng.randint(2, 5)) for _ in range(6)]

    return [("mixed", 10, rows(mixed())), ("top1", 1, rows(mixed()))]


@pytest.fixture(scope="module")
def diff_store(spark, tmp_path_factory):
    import ds2s.serve as serve
    from ds2s.invert import build_index
    from ds2s.manifest import IndexStore

    corpus = spark.createDataFrame(gen_corpus(),
                                   schema="doc_id long, content string")
    idx = build_index(corpus, cfg=dataclasses.replace(DEFAULT_CONFIG,
                                                      block_size=BLOCK),
                      build_arrays=False)
    store = IndexStore(str(tmp_path_factory.mktemp("diff") / "store"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(serve, "_SB_SIZE", SB)
        store.write_checkpointed(idx, source="differential", n_buckets=4)
    return idx, store


def _frame(df) -> pd.DataFrame:
    return (df.orderBy("qid", "rank").toPandas().reset_index(drop=True)
            .astype({"qid": "int64", "rank": "int64"}))


def test_generator_is_seeded_and_adversarial():
    """Same seed, same corpus and batches; the shapes the harness claims
    are present."""
    assert gen_corpus() == gen_corpus() and gen_batches() == gen_batches()
    tf = {}
    for d, text in gen_corpus():
        for t in set(text.split()):
            tf.setdefault(t, []).append(d)
    assert all(len(tf[f"s{i}"]) == 1 for i in range(N_SINGLE))
    assert len(tf["h0"]) > 0.9 * N_DOCS and len(tf["edge"]) % BLOCK == 0
    terms = [r for _, _, rows in gen_batches() for r in rows]
    assert any(t == "zzoov" for *_, t in terms)
    assert {k for _, k, _ in gen_batches()} == {1, 10}


@pytest.mark.parametrize("mode", MODES)
def test_every_tier_equals_ranked_or(spark, diff_store, monkeypatch, mode):
    import ds2s.serve as serve

    idx, store = diff_store
    lex_df = dict(idx.lexicon.select("term", "df").collect())
    batches = []
    for name, k, rows in gen_batches():
        qdf = Q.queries_df(spark, rows)
        terms = {t for *_, t in rows if t in lex_df}
        est_blocks = sum(-(-lex_df[t] // BLOCK) for t in terms)
        exact = _frame(Q.ranked_or_topk(idx, qdf, k=k))
        assert len(exact) > 0, name
        batches.append((name, k, qdf, est_blocks, exact))
    if mode == "memory":
        monkeypatch.setattr(serve, "_SB_SIZE", SB)
        sidx = ServingIndex(idx)
    else:
        sidx = ServingIndex.from_store(spark, store,
                                       cache_blocks=mode == "cached")
    assert sidx.sb_size == SB
    fetch, cap = serve._DRIVER_FETCH_BLOCKS, serve._PLAN_COLLECT_CAP
    try:
        for ai, algo in enumerate(("bmw", "maxscore", "wand")):
            for ti, tier in enumerate(TIERS):
                name, k, qdf, est_blocks, exact = batches[
                    (ai + ti + MODES.index(mode)) % len(batches)
                ]
                tier_fetch, tier_cap = {
                    "fetched": (fetch, cap),
                    "unfetched": (0, cap),
                    "superblock": (fetch, est_blocks - 1),
                    "kernel": (fetch, 0),
                }[tier]
                monkeypatch.setattr(serve, "_DRIVER_FETCH_BLOCKS", tier_fetch)
                monkeypatch.setattr(serve, "_PLAN_COLLECT_CAP", tier_cap)
                got = _frame(sidx.topk(qdf, k=k, algo=algo))
                plan = sidx.last_plan
                where = (name, algo, tier, mode, plan)
                landed = ("fetched" if plan["scoring"] == "driver"
                          else "unfetched" if plan["tier"] == "driver"
                          else plan["tier"])
                assert landed == tier, where
                pd.testing.assert_frame_equal(
                    got, exact, check_exact=False, atol=1e-8, obj=str(where)
                )
    finally:
        sidx.unpersist()
