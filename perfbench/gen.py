"""Seeded corpus and query-batch generators.

Pure Python (``random.Random``), so one seed yields byte-identical rows on
every run and platform.  Nothing here touches Spark; the benchmark turns
the rows into DataFrames.

Two corpora:

- ``fixture_docs``: shaped like the ``documents`` driver fixture at sf0.1
  (5,000 docs, 10-100 tokens each drawn from 30 common words, plus a rare
  ``dup`` term in ~5% of docs; about 116k distinct (term, doc) postings).
- ``replica_docs``: ``fixture_docs`` repeated ``replicas`` times, each
  replica's token stream rotated by its replica number and followed by an
  identifier tail (``id<r>w<d%50>``, ``fn<r>x<d%17>``,
  ``var<(31d+r)%997>``): a hot head of 31 terms plus a long tail of rare
  ones, the way a code corpus looks.
"""

from __future__ import annotations

import random

HEAD = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
RARE = "dup"
N_DOCS = 5000


def fixture_tokens(seed: int, n_docs: int = N_DOCS) -> list[list[str]]:
    rng = random.Random(f"fixture:{seed}")
    docs = []
    for _ in range(n_docs):
        toks = [rng.choice(HEAD) for _ in range(rng.randint(10, 100))]
        if rng.random() < 0.05:
            toks[rng.randrange(len(toks))] = RARE
        docs.append(toks)
    return docs


def fixture_docs(seed: int, n_docs: int = N_DOCS) -> list[tuple[int, str]]:
    """(doc_id, content) rows with dense doc ids."""
    return [(d, " ".join(t)) for d, t in enumerate(fixture_tokens(seed, n_docs))]


def tail_terms(r: int, d: int) -> list[str]:
    return [f"id{r}w{d % 50}", f"fn{r}x{d % 17}", f"var{(d * 31 + r) % 997}"]


def replica_docs(seed: int, replicas: int,
                 n_docs: int = N_DOCS) -> list[tuple[int, str]]:
    base = fixture_tokens(seed, n_docs)
    rows = []
    for r in range(replicas):
        for d, toks in enumerate(base):
            k = r % len(toks)
            rows.append(
                (d + r * n_docs, " ".join(toks[k:] + toks[:k] + tail_terms(r, d)))
            )
    return rows


TAIL_KINDS = ("id", "fn", "var")


def replica_vocab(replicas: int, n_docs: int = N_DOCS) -> dict[str, list]:
    """Vocabulary of ``replica_docs`` by kind, each list sorted: ``head``
    (the fixture words, ``dup`` included: it is in every replica) and one
    list per identifier kind of the tail.  Every term listed is present."""
    vocab = {"head": sorted(HEAD + [RARE])}
    for i, kind in enumerate(TAIL_KINDS):
        vocab[kind] = sorted({tail_terms(r, d)[i] for r in range(replicas)
                              for d in range(n_docs)})
    return vocab


def query_batch(seed: int, batch: int, vocab: dict[str, list],
                n_queries: int = 20) -> list[tuple[int, int, str]]:
    """One batch of (qid, ord, term) rows, different for every (seed,
    batch).  Every batch has the same shape, so batches differ in their
    terms but not in how much work they ask for: query q has 1 + q % 5
    terms, and its term j is a head term when q + j is even, else a tail
    term of kind ``TAIL_KINDS[(q + j) // 2 % 3]``.  Query 0 also holds one
    out-of-vocabulary term and query 1 repeats its first term."""
    rng = random.Random(f"queries:{seed}:{batch}")
    rows = []
    for qid in range(n_queries):
        terms = [
            rng.choice(vocab["head"] if (qid + j) % 2 == 0
                       else vocab[TAIL_KINDS[(qid + j) // 2 % 3]])
            for j in range(1 + qid % 5)
        ]
        if qid == 0:
            terms.append(f"zzzoov{seed}x{batch}")
        elif qid == 1:
            terms.append(terms[0])
        rows.extend((qid, i, t) for i, t in enumerate(terms))
    return rows
