"""spark-submit entry points: build an index, query an index.

The ds2i workflow is three CLIs — create_freq_index, create_wand_data,
queries ([U] ds2i/create_freq_index.cpp, create_wand_data.cpp, queries.cpp
— upstream layout, SURVEY.md §2.1).  Here the same workflow is two
subcommands over persisted index *tables* (north rule: run via
``spark-submit --py-files``):

    spark-submit --driver-memory 16g --py-files ds2s.zip \\
        path/to/ds2s/cli.py build \\
        --corpus /path/to/corpus.parquet --out /path/to/index \\
        [--codec optpfd] [--buckets 8]

    spark-submit --driver-memory 16g --py-files ds2s.zip \\
        path/to/ds2s/cli.py query \\
        --index /path/to/index --queries queries.txt \\
        [--algo bmw|maxscore|wand] [--k 10]

(--driver-memory must be on the spark-submit LINE: the driver JVM exists
before the session factory runs, so ``ds2s.session``'s 16g builder conf
cannot apply there — the factory warns on stderr if it detects the
mismatch.)

(or, in a plain Python environment, ``python -m ds2s.cli build ...`` —
spark-submit takes an application FILE, not a ``-m`` module flag).

Corpus input: the north-rule shape (repo, path, commit, lang, content) —
dense docIDs are assigned by the deterministic global sort — or the
``documents`` fixture shape (doc_id, text, ...).  Queries: one query per
line, whitespace-separated terms (ds2i's query-line format with terms
instead of pre-resolved termIDs; we own the lexicon, SURVEY.md §1.4).

``build`` is resumable: rerunning with the same --out skips completed
units via the manifest (kill/rerun safe).

Imports of the engine are absolute (``ds2s.*``): spark-submit executes
this file as a top-level application script with no package context, so
relative imports would fail there; the ds2s package itself arrives via
``--py-files`` (or the adjacent source tree).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _load_corpus(spark, path: str, aux: list | None = None):
    from pyspark.sql import functions as F

    from ds2s.corpus import load_code_corpus

    df = spark.read.parquet(path)
    cols = set(df.columns)
    # "lang" is part of the gate: load_code_corpus selects it
    # unconditionally, so admitting a corpus without it would crash with
    # an opaque UNRESOLVED_COLUMN deep inside the build instead of the
    # clean schema error below (round-5 review finding)
    if {"repo", "path", "commit", "lang", "content"} <= cols:
        return load_code_corpus(spark, path, aux=aux)
    if {"doc_id", "text"} <= cols:
        return df.select(F.col("doc_id").cast("long").alias("doc_id"),
                         F.col("text").alias("content"))
    raise SystemExit(
        f"unrecognized corpus schema {sorted(cols)}: need "
        "(repo,path,commit,lang,content) or (doc_id,text)"
    )


def cmd_build(args: argparse.Namespace) -> None:
    from ds2s.invert import build_index
    from ds2s.manifest import IndexStore
    from ds2s.session import get_spark

    spark = get_spark(app="ds2s-build")
    t0 = time.perf_counter()
    # persist_tf=False: in the build→store pipeline the tf join has one
    # consumer (the encode shuffle) — no second 100 M-row cache pass
    aux: list = []
    idx = build_index(
        _load_corpus(spark, args.corpus, aux=aux),
        build_arrays=False, persist_tf=False,
    )
    # build_index has materialized its own corpus cache — the dense-id
    # sort intermediate is now a dead duplicate of the full corpus in
    # executor storage; release it before the write jobs need the memory
    for df in aux:
        df.unpersist()
    store = IndexStore(args.out)
    written = store.write_checkpointed(
        idx, source=args.corpus, codec=args.codec, n_buckets=args.buckets
    )
    stats = {
        "n_docs": idx.n_docs,
        "avg_len": round(idx.avg_len, 4),
        "n_postings": idx.n_postings,
        "units_written": written,
        "units_total": len(store.completed_units()),
        "wall_s": round(time.perf_counter() - t0, 2),
        "out": args.out,
    }
    if args.check:
        # decode-all equality after build, the reference build tool's
        # --check semantics ([U] ds2i/create_freq_index.cpp): every stored
        # block decodes back to exactly the (term_id, doc_id, tf) posting
        # multiset the inverter produced.  A second full pass by design —
        # opt-in verification, distributed (set difference both ways,
        # nothing collected beyond two counts).
        from ds2s.blocks import decode_blocks_flat

        dec = decode_blocks_flat(store.load_blocks(spark)).select(
            "term_id", "doc_id", "tf"
        )
        tf = idx.tf.select("term_id", "doc_id", "tf")
        stats["check_missing"] = tf.exceptAll(dec).count()
        stats["check_extra"] = dec.exceptAll(tf).count()
        stats["check"] = (
            "pass" if stats["check_missing"] == 0 == stats["check_extra"]
            else "FAIL"
        )
    print(json.dumps(stats))
    if stats.get("check") == "FAIL":
        raise SystemExit(1)


def cmd_query(args: argparse.Namespace) -> None:
    """Top-k over a stored index, with the reference tool's benchmark
    semantics (BASELINE.md §b: per-query wall time over repeated runs,
    avg time per query, JSON-lines stats — [U] ds2i/queries.cpp +
    util.hpp stats_line, upstream layout):

    - default: ONE timed batch (the Spark-native shape — all queries in a
      single plan) repeated ``--runs`` times, best wall reported.
    - ``--per-query``: each query timed individually over ``--runs``
      repetitions, one JSON stats line per query on stderr (min/avg wall).
      One Spark job per query per run — a benchmark mode, not the
      throughput path; the batch plan is how the engine is meant to serve.

    Stream note: result rows are TSV on stdout, stats are JSON objects on
    stderr.  Under ``spark-submit`` the two arrive merged (PythonRunner
    pipes the python app's stderr into the JVM's stdout — observed on
    Spark 4.1, plain ``python -m ds2s.cli`` keeps them separate); they
    stay mechanically separable by the leading ``{``.
    """
    from ds2s.manifest import IndexStore
    from ds2s.serve import ServingIndex
    from ds2s.session import get_spark

    spark = get_spark(app="ds2s-query")
    store = IndexStore(args.index)
    sidx = ServingIndex.from_store(
        spark, store, cache_blocks=not args.no_cache
    )
    from ds2s.query import queries_df

    # Query-side tokenization mirrors the ENGINE's tokenizer (the
    # token_pattern frozen in the store's config), not a bare
    # whitespace split: a query line `hash-join` must resolve to the
    # lexicon entries `hash`, `join` — the raw hyphenated token exists in
    # no lexicon this engine builds, so keeping it silently scored zero
    # (round-5 review finding).  Python `re` and Spark's regexp share the
    # semantics of this simple character-class pattern.
    import re

    tok = re.compile(sidx.cfg.token_pattern)
    rows = []
    with open(args.queries) as fh:
        for qid, line in enumerate(fh):
            i = 0
            for word in line.split():
                for term in tok.findall(word.lower()):
                    rows.append((qid, i, term))
                    i += 1
    # queries_df holds the batch as a local relation: the engine reads it
    # in the driver, and a per-query filter of it folds into the relation,
    # so neither the batch nor one query's slice of it costs a Spark job
    qdf = queries_df(spark, rows=rows)
    n_q = len({r[0] for r in rows}) or 1
    runs = max(args.runs, 1)

    def timed(make_df):
        # takes a THUNK: sidx.topk() does eager driver work (bounded plan
        # fetches; with a driver-grid plan the kernel itself runs inside
        # topk and returns a local relation), so evaluating it before the
        # timer starts would exclude virtually all serving work and report
        # microsecond "walls" for a driver-local sort over ≤k rows
        t0 = time.perf_counter()
        out = make_df().orderBy("qid", "rank").collect()
        return out, time.perf_counter() - t0

    if args.per_query:
        out = []
        for qid in sorted({r[0] for r in rows}):
            one = qdf.filter(f"qid = {qid}")
            walls = []
            for _ in range(runs):
                res, dt = timed(
                    lambda: sidx.topk(one, k=args.k, algo=args.algo)
                )
                walls.append(dt)
            out.extend(res)
            print(json.dumps({
                "query": qid,
                "runs": runs,
                "min_us": round(1e6 * min(walls), 1),
                "avg_us": round(1e6 * sum(walls) / runs, 1),
                "algo": args.algo,
                "k": args.k,
            }), file=sys.stderr)
        dt = None
    else:
        walls = []
        for _ in range(runs):
            out, dt = timed(lambda: sidx.topk(qdf, k=args.k, algo=args.algo))
            walls.append(dt)
        dt = min(walls)
    for r in out:
        print(f"{r['qid']}\t{r['rank']}\t{r['doc_id']}\t{r['score']:.4f}")
    if dt is not None:
        print(json.dumps({
            "n_queries": n_q,
            "runs": runs,
            "wall_s": round(dt, 3),
            "avg_ms_per_query": round(1000 * dt / n_q, 2),
            "algo": args.algo,
            "k": args.k,
        }), file=sys.stderr)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="ds2s")
    sub = p.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("build", help="build + checkpoint an index")
    b.add_argument("--corpus", required=True)
    b.add_argument("--out", required=True)
    from ds2s.codecs import CODEC_IDS

    # choices= so a typo'd codec fails at parse time, not deep inside
    # executor tasks after the full inversion already ran
    b.add_argument("--codec", default=None,
                   choices=sorted(CODEC_IDS) + ["auto"])
    b.add_argument("--buckets", type=int, default=8)
    b.add_argument("--check", action="store_true",
                   help="decode-all equality verification after build "
                        "(reference --check semantics; a second full pass)")
    b.set_defaults(fn=cmd_build)
    q = sub.add_parser("query", help="top-k BM25 over a stored index")
    q.add_argument("--index", required=True)
    q.add_argument("--queries", required=True, help="one query per line (terms)")
    q.add_argument("--algo", default="bmw", choices=["bmw", "maxscore", "wand"])
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--runs", type=int, default=1,
                   help="timed repetitions (best wall reported)")
    q.add_argument("--per-query", action="store_true",
                   help="time each query individually; one JSON stats "
                        "line per query on stderr (reference queries-tool "
                        "semantics)")
    q.add_argument("--no-cache", action="store_true",
                   help="serve straight off the store's parquet (no "
                        "block-table persist): per-batch term+bucket "
                        "predicates prune partition directories and row "
                        "groups — the mode for indexes larger than "
                        "executor storage")
    q.set_defaults(fn=cmd_query)
    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
