"""Corpus loading, deterministic docID assignment, sha256 invariant.

ds2i consumes a pre-parsed binary collection whose docIDs are dense [0, N)
and whose posting lists are docID-sorted ([U] ds2i/binary_collection.hpp;
SURVEY.md §1.1).  Here the corpus is a DataFrame; we own docID assignment
and it must be deterministic across runs AND across parallelism levels
(north rule: rank-identity at N and 4N executors), so IDs derive from a
global sort order — never from raw ``monotonically_increasing_id`` (its
partition-id bits are masked off; only the within-sorted-partition row
index is used, re-based by exactly-counted offsets).

North-rule input shape (BASELINE.json:15): Iceberg table
(repo, path, commit, lang, content).  The sandbox has no Iceberg runtime
jar, so IO is parquet; ``load_corpus`` accepts either the north-rule shape
or the driver's ``documents`` fixture (doc_id, text, lang, source, n_chars)
and normalizes both to (doc_id, content [, repo, path, commit, lang,
content_sha256]).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def with_dense_id(
    df: DataFrame,
    order_cols: list[str],
    id_col: str,
    num_partitions: int | None = None,
    aux: list | None = None,
) -> DataFrame:
    """Assign dense ids [0, N) by global ``ORDER BY order_cols``.

    Scale-safe alternative to a single-partition ``row_number()`` window:
    range-repartition on the sort key, sort within partitions, then add
    per-partition offsets (the classic two-pass zipWithIndex trick),
    entirely JVM-side: ``monotonically_increasing_id``'s LOW 33 bits are
    the row index within the explicitly-sorted partition, and the exact
    per-partition offsets come from a counts collect — so the id is a
    pure function of the global sort order (the unstable part of m_i_id,
    the partition-id upper bits, is masked off and replaced by counted
    offsets).  Identical at any parallelism level — required for
    rank-identity across cluster sizes (SURVEY.md §7.5) — and pytest-
    checked.  (The previous mapInPandas id stage made every dense-id
    call spin up python workers serialized on the SparkEnv monitor —
    round-3 thread dumps showed 11% of build executor samples BLOCKED
    there.)

    ``order_cols`` must be a unique key of ``df``.
    """
    num_partitions = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    sorted_df = df.repartitionByRange(num_partitions, *order_cols).sortWithinPartitions(
        *order_cols
    )
    sorted_df = sorted_df.persist()
    if aux is not None:
        aux.append(sorted_df)
    # One agg job collects BOTH the per-partition counts (for offsets) and
    # max(m_i_id low bits): the low-33-bit row index is an implementation
    # detail of monotonically_increasing_id, so verify it here — if a Spark
    # version ever changes the bit layout or the partition contents shift
    # between this job and the id projection, max+1 != count and we fail
    # loudly instead of silently corrupting docIDs.
    counts = (
        sorted_df.select(
            F.spark_partition_id().alias("_pid"),
            F.monotonically_increasing_id()
            .bitwiseAND(F.lit((1 << 33) - 1))
            .alias("_rip"),
        )
        .groupBy("_pid")
        .agg(F.count("*").alias("count"), F.max("_rip").alias("_maxrow"))
        .collect()
    )
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        if row["_maxrow"] is not None and row["_maxrow"] + 1 != row["count"]:
            raise RuntimeError(
                "with_dense_id: monotonically_increasing_id low-bit layout "
                f"violated in partition {row['_pid']} "
                f"(max_row={row['_maxrow']}, count={row['count']}) — "
                "dense docIDs would be corrupt; check Spark version."
            )
        offsets[row["_pid"]] = acc
        acc += row["count"]

    if not offsets:
        return sorted_df.withColumn(id_col, F.lit(0).cast("long"))
    entries: list = []
    for pid in sorted(offsets):
        entries += [F.lit(int(pid)), F.lit(int(offsets[pid]))]
    offmap = F.create_map(*entries)
    row_in_part = F.monotonically_increasing_id().bitwiseAND(
        F.lit((1 << 33) - 1)
    )
    return sorted_df.withColumn(
        id_col,
        (
            F.coalesce(
                F.element_at(offmap, F.spark_partition_id()), F.lit(0)
            ) + row_in_part
        ).cast("long"),
    )


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver fixture → normalized corpus (doc_id, content, lang, source).

    ``doc_id`` in the fixture is already dense [0, N) (FIXTURES.md F2),
    so it is the docID — no reassignment.
    """
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text").alias("content"),
        "lang",
        "source",
    )


def load_code_corpus(spark: SparkSession, path: str,
                     aux: list | None = None) -> DataFrame:
    """North-rule corpus (repo, path, commit, lang, content) → + dense doc_id.

    docID contract: dense [0, N) by ORDER BY (repo, path, commit)
    (FIXTURES.md F1).  Reads Iceberg when a catalog table name is given and
    the runtime has Iceberg; parquet path otherwise (sandbox fallback,
    SURVEY.md §1.6).

    ``aux`` receives with_dense_id's persisted sort intermediate so the
    caller can release it once a downstream cache materializes (round-5
    review: without the hook the range-sorted full corpus stays pinned in
    executor storage for the session lifetime, doubling the corpus
    footprint next to build_index's own cache).
    """
    # a path that exists on the local filesystem is parquet even when bare
    # and relative ("corpusdir") — only a non-path name falls through to
    # the catalog (round-5 review: the CLI schema-sniffs relative dirs as
    # parquet, then this routed the same string to read.table and crashed)
    if "/" in path or path.endswith(".parquet") or os.path.exists(path):
        df = spark.read.parquet(path)
    else:  # pragma: no cover - needs an Iceberg catalog
        df = spark.read.table(path)
    return with_dense_id(df, ["repo", "path", "commit"], "doc_id",
                         aux=aux).select(
        "doc_id", "repo", "path", "commit", "lang", "content"
    )


def with_sha256(df: DataFrame, col: str = "content") -> DataFrame:
    """Per-row content sha256 (BASELINE.json:15 invariant), JVM-side, as
    the 32-byte digest: half the bytes of its hex string."""
    return df.withColumn("content_sha256", F.unhex(F.sha2(F.col(col), 256)))


# ---------------------------------------------------------------------------
# Deterministic synthetic north-rule corpus (FIXTURES.md F1)
# ---------------------------------------------------------------------------

_KEYWORDS = (
    "def class return import if else for while try except lambda yield "
    "static void int float public private final var let const fn match "
    "struct impl trait enum map filter reduce select join group order"
).split()
_IDENTS = [f"var{i}" for i in range(200)] + [f"fn{i}" for i in range(100)]
_LANGS = ["py", "java", "scala", "c", "md"]


def synth_corpus_rows(n_repos: int = 20, paths_per_repo: int = 15, seed: int = 42):
    """Pure-python deterministic rows: (repo, path, commit, lang, content).

    Zipfian token frequencies (exercises hot-term salting) and a few exact
    duplicate contents (exercises the sha256 invariant); includes empty and
    one-token contents (edge cases per FIXTURES.md F1).
    """
    import random

    rng = random.Random(seed)
    vocab = _KEYWORDS + _IDENTS
    # Zipf-ish weights over the vocab
    weights = [1.0 / (i + 1) for i in range(len(vocab))]
    rows = []
    dup_content = "def dup_marker return dup_marker"
    for r in range(n_repos):
        repo = f"org{r % 5}/proj{r}"
        for p in range(paths_per_repo):
            path = f"src/module_{p}.{rng.choice(_LANGS)}"
            commit = hashlib.sha1(f"{repo}/{path}".encode()).hexdigest()
            lang = rng.choice(_LANGS)
            if (r, p) == (0, 0):
                content = ""
            elif (r, p) == (0, 1):
                content = "singleton"
            elif p == paths_per_repo - 1 and r < 3:
                content = dup_content  # exact duplicates across repos
            else:
                n_tok = rng.randint(5, 120)
                content = " ".join(rng.choices(vocab, weights=weights, k=n_tok))
            rows.append((repo, path, commit, lang, content))
    return rows


def synth_corpus(spark: SparkSession, n_repos: int = 20, paths_per_repo: int = 15,
                 seed: int = 42, aux: list | None = None) -> DataFrame:
    rows = synth_corpus_rows(n_repos, paths_per_repo, seed)
    df = spark.createDataFrame(
        rows, schema="repo string, path string, commit string, lang string, content string"
    )
    return with_dense_id(df, ["repo", "path", "commit"], "doc_id",
                         aux=aux).select(
        "doc_id", "repo", "path", "commit", "lang", "content"
    )
