"""Checkpointed, resumable index persistence with per-partition lineage.

The reference freezes one mmap blob ([U] succinct/mapper.hpp freeze/map —
upstream ot/ds2i layout); at 10^12-file scale the index must instead be a
set of *partitioned tables* written segment-by-segment so a failed build
resumes where it stopped (north rule: "checkpoints per-partition posting
segments ... resumable builds with lineage + metrics", BASELINE.json:14).

Layout under ``out_dir`` (parquet in the sandbox; the same layout maps to
Iceberg partitioned tables when a runtime jar is present, SURVEY.md §1.6):

    corpus_manifest/            doc_id, content_sha256   (per-row invariant;
                                the digest as binary(32), not 64 hex chars)
    sizes/  lexicon/            dimension tables
    blocks/bucket=K/            encoded posting blocks, bucket = term_id % B
    superblocks/                derived pruning tier
    manifest.jsonl              one line per completed unit: lineage +
                                metrics + the table's Spark schema
    _index.json                 frozen IndexConfig + collection stats

Payload columns carry no parquet statistics: ``doc_bytes``, ``tf_bytes``,
``len_bytes`` and ``content_sha256`` are written with
``parquet.column.statistics.enabled#<col>=false``, so no footer repeats
min/max blobs or a column index no reader filters on.  ``term_id`` keeps
its stats: uncached serving's ``term_id IN`` prunes row groups with them.

Resume protocol: a bucket is complete iff its manifest line exists —
manifest lines are appended via atomic rename AFTER the bucket's parquet
write succeeds, so a crash mid-bucket leaves no line and the bucket is
rewritten idempotently (overwrite) on the next run.  Each line carries
lineage (source path, config hash) + metrics (rows, bytes, wall seconds),
the "_metrics table" of SURVEY.md §2.7.

Schema record: every table unit's line also carries ``schema``, the Spark
schema (``StructType.jsonValue()``) of the table as written — the
``blocks_bucket_K`` lines all carry the blocks table's schema, ``bucket``
partition column included.  It lives in the manifest line, written by the
same atomic append that marks the unit complete, never in a file inside
the table directory (store bytes stay the table bytes).  Every read of a
store table (``IndexStore.load_table``) uses the recorded schema, so
opening a store runs no Spark schema-inference job, and an empty table (a
no-token corpus writes a part-file-less ``blocks/``) reads like any
other.  A table unit whose line has no schema (a store written before the
record existed) is stale, exactly like a line from a foreign config
fingerprint: ``write_checkpointed`` rewrites it, and ``from_store``
refuses a stale lexicon or blocks bucket.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import asdict
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from . import serve
from .blocks import blocks_from_tf, superblock_agg
from .config import IndexConfig
from .corpus import with_sha256
from .invert import InvertedIndex


def _no_stats(*cols: str) -> dict[str, str]:
    """Parquet writer options that drop statistics (footer min/max and
    column index) from ``cols``: payload columns no reader filters on."""
    return {f"parquet.column.statistics.enabled#{c}": "false" for c in cols}


def _config_fingerprint(cfg: IndexConfig, extra: dict | None = None) -> str:
    """Unit-completeness fingerprint.  ``extra`` carries the write
    settings that change the bytes on disk but live OUTSIDE IndexConfig
    (codec override, n_buckets, superblock size) — round-5 review: hashing only
    asdict(cfg) made ``write_checkpointed(..., codec='gvb')`` over a
    pef-written store a silent no-op (same fp ⇒ every unit 'done')."""
    import hashlib

    payload = dict(asdict(cfg))
    if extra:
        payload["__write_args"] = dict(sorted(extra.items()))
    return hashlib.sha256(
        json.dumps(payload, sort_keys=True).encode()
    ).hexdigest()[:16]


class IndexStore:
    """One on-disk index; ``write_checkpointed`` is restartable."""

    def __init__(self, out_dir: str):
        self.root = Path(out_dir)
        self.manifest_path = self.root / "manifest.jsonl"

    # -- manifest ----------------------------------------------------------
    def completed_units(self) -> dict[str, dict]:
        units: dict[str, dict] = {}
        if self.manifest_path.exists():
            for line in self.manifest_path.read_text().splitlines():
                if line.strip():
                    row = json.loads(line)
                    units[row["unit"]] = row
        return units

    @staticmethod
    def unit_current(name: str, row: dict, fp: str | None) -> bool:
        """Whether manifest line ``row`` vouches for unit ``name`` under
        config fingerprint ``fp`` (None: a store too old to record one).
        A line from another config is stale, and so is a table unit's
        line without a schema record: it predates the record."""
        return (fp is None or row.get("config") == fp) and (
            "schema" in row or name == "_index"
        )

    def _rewrite_manifest(self, units: dict) -> None:
        """The ONE atomic manifest rewrite (tmp + POSIX rename) — both
        writers go through here so the crash-safety discipline cannot
        drift between them."""
        tmp = self.manifest_path.with_suffix(".tmp")
        tmp.write_text("".join(json.dumps(r) + "\n" for r in units.values()))
        os.replace(tmp, self.manifest_path)

    def _append_manifest(self, row: dict) -> None:
        """Atomic append: rewrite to tmp + rename (POSIX atomic).  A row
        with an existing unit name REPLACES it (config-mismatch rewrite)."""
        units = self.completed_units()
        units[row["unit"]] = row
        self._rewrite_manifest(units)

    def _invalidate_units(self, names: set[str]) -> None:
        """Drop manifest lines for units about to be REWRITTEN (any
        fingerprint), atomically, BEFORE their data dirs are overwritten.
        Round-5 review: blocks_group's mode('overwrite') destroys the old
        config's data first — a crash mid-rewrite must not leave stale
        lines vouching for a directory that no longer holds what they
        describe (rerun under the old config would then skip the unit and
        serve the partial dir as complete)."""
        if not self.manifest_path.exists():
            return
        units = self.completed_units()
        keep = {k: v for k, v in units.items() if k not in names}
        if len(keep) == len(units):
            return
        self._rewrite_manifest(keep)

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        rows = list(self.completed_units().values())
        return spark.createDataFrame(
            [
                (
                    r["unit"], r["source"], r["config"], r["n_rows"],
                    r.get("bytes", 0), float(r["wall_s"]),
                )
                for r in rows
            ],
            schema="unit string, source string, config string, n_rows long, "
            "bytes long, wall_s double",
        )

    # -- write -------------------------------------------------------------
    def write_checkpointed(
        self,
        idx: InvertedIndex,
        source: str,
        codec: str | None = None,
        n_buckets: int = 8,
        fail_after_units: int | None = None,
        blocks: DataFrame | None = None,
    ) -> int:
        """Write all index tables; returns number of units written THIS run.

        The superblocks unit is cut at ``serve._SB_SIZE`` blocks, recorded
        in _index.json and hashed into the fingerprint.

        ``fail_after_units`` injects a crash after N fresh units (test hook
        for the kill/rerun resume property, SURVEY.md §7 Milestone 5).

        ``blocks`` optionally supplies an ALREADY-ENCODED block table (e.g.
        ``ServingIndex.blocks``, typically persisted): the write then skips
        the duplicate blocks_from_tf pass — encode once, write what you
        encoded.  blocks_from_tf is deterministic, so the stored table is
        identical either way; the caller owns codec consistency (pass the
        serving table built with the codec you want persisted).
        """
        cfg = idx.cfg
        eff_codec = codec or cfg.block_codec
        sb_size = serve._SB_SIZE
        fp = _config_fingerprint(
            cfg,
            extra={
                "codec": eff_codec,
                "n_buckets": int(n_buckets),
                "sb_size": int(sb_size),
            },
        )
        spark = idx.corpus.sparkSession
        # Resume safety: a unit counts as done ONLY if it was written under
        # the SAME config fingerprint — rerunning with a changed
        # IndexConfig/codec override/bucketing treats stale units as
        # incomplete and rewrites them (a mixed-config index would silently
        # corrupt top-k: e.g. old-block_size blocks no longer align with
        # fresh metadata).
        done = {
            name: row
            for name, row in self.completed_units().items()
            if self.unit_current(name, row, fp)
        }
        bucket_names = [f"blocks_bucket_{k}" for k in range(n_buckets)]
        # Invalidate-before-overwrite: any unit this run will (re)write
        # loses its old manifest line NOW, in one atomic rewrite, before
        # any data dir is touched — a crash mid-rewrite then reads as
        # "never completed" under EVERY config, never as "complete under
        # the previous one" (round-5 review finding).
        expected = (
            ["corpus_manifest", "sizes", "lexicon"]
            + bucket_names
            + ["superblocks", "_index"]
        )
        self._invalidate_units({u for u in expected if u not in done})
        written = 0
        mlock = threading.Lock()  # _append_manifest is read-modify-write

        def record(name: str, n_rows: int, nbytes: int, wall_s: float,
                   schema: StructType) -> None:
            with mlock:
                self._append_manifest(
                    {
                        "unit": name,
                        "source": source,
                        "config": fp,
                        "n_rows": int(n_rows),
                        "bytes": int(nbytes),
                        "wall_s": round(wall_s, 3),
                        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                        "schema": schema.jsonValue(),
                    }
                )

        def unit(name: str, fn) -> None:
            nonlocal written
            if name in done:
                return
            if fail_after_units is not None and written >= fail_after_units:
                raise RuntimeError(f"injected failure before unit {name}")
            t0 = time.perf_counter()
            n_rows, nbytes, schema = fn()
            record(name, n_rows, nbytes, time.perf_counter() - t0, schema)
            with mlock:
                written += 1

        def plain(df_or_fn, sub: str, options: dict | None = None):
            """``df_or_fn`` may be a zero-arg callable building the frame:
            unit() skips done units BEFORE running it, so a resumed no-op
            pass must not pay (or crash on) the plan-construction reads of
            already-written tables (round-5 review finding)."""
            def run():
                df = df_or_fn() if callable(df_or_fn) else df_or_fn
                df.write.mode("overwrite").options(**(options or {})).parquet(
                    str(self.root / sub))
                # count from the written files (parquet footer metadata) —
                # never re-executes the producing pipeline
                n = self._read(spark, sub, df.schema).count()
                return n, _dir_bytes(self.root / sub), df.schema

            return run

        def blocks_group() -> None:
            # ONE pass writes every bucket (write.partitionBy): the
            # blocks_from_tf pipeline executes exactly once, not once per
            # bucket.  Bucket units commit together; a crash mid-write
            # leaves no bucket lines and the whole blocks dir is rewritten
            # (overwrite) idempotently on resume.
            nonlocal written, blocks
            t0 = time.perf_counter()
            if blocks is None:
                blocks = blocks_from_tf(
                    idx.tf.select("term_id", "doc_id", "tf", "len", "df"),
                    idx.n_docs, idx.avg_len, cfg, codec=codec,
                )
            bucketed = blocks.withColumn(
                "bucket", F.pmod(F.col("term_id"), F.lit(n_buckets))
            )
            # local sort (no shuffle) clusters each written file by
            # term_id, so its parquet row-group min/max stats are tight —
            # uncached serving's `term_id IN (...)` PushedFilters then
            # skip row groups inside the surviving buckets instead of
            # scanning them; leading with `bucket` also satisfies the
            # partitionBy writer's required ordering, so it inserts no
            # second sort of its own
            bucketed = bucketed.sortWithinPartitions(
                "bucket", "term_id", "block_id"
            )
            bucketed.write.partitionBy("bucket").mode("overwrite").options(
                **_no_stats("doc_bytes", "tf_bytes", "len_bytes")
            ).parquet(str(self.root / "blocks"))
            wall = time.perf_counter() - t0
            # partitionBy stores `bucket` in the directory names; a read
            # lists it last, where withColumn already put it
            schema = bucketed.schema
            # ONE footer-metadata count job for all buckets, not one per
            # bucket (the per-bucket variant was n_buckets driver jobs)
            counts = {
                int(r["bucket"]): int(r["n"])
                for r in self._read(spark, "blocks", schema)
                .groupBy("bucket")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            for k, name in enumerate(bucket_names):
                sub = self.root / "blocks" / f"bucket={k}"
                record(name, counts.get(k, 0),
                       _dir_bytes(sub) if sub.exists() else 0,
                       wall / n_buckets, schema)
                with mlock:
                    written += 1

        # The four leading outputs are INDEPENDENT tables (corpus sha
        # manifest, sizes, lexicon, blocks) — their write jobs run
        # concurrently from worker threads against the shared scheduler
        # (idle-executor overlap; the same shape a cluster writer uses).
        # The sequential path is kept for fail_after_units: crash
        # injection needs a deterministic unit order (resume pytest).
        # INVARIANT: do not run a ds2s.serve query batch on this session
        # while these threads are in flight — serve's _no_aqe guard flips
        # the session-global spark.sql.adaptive.enabled (serialized among
        # serve callers by serve._AQE_LOCK, but a build stage launched
        # inside that window would run without AQE; the lexicon write
        # relies on AQE coalescing its range partitions).
        indep: list[tuple[str, object]] = [
            # per-row sha256 invariant vs the source (BASELINE.json:15)
            (
                "corpus_manifest",
                plain(
                    with_sha256(idx.corpus).select(
                        "doc_id", "content_sha256"
                    ),
                    "corpus_manifest",
                    _no_stats("content_sha256"),
                ),
            ),
            ("sizes", plain(idx.sizes, "sizes")),
            # lexicon is written TERM-SORTED (range partition + in-file
            # sort): serving's `term IN (...)` lookup then prunes whole
            # files via parquet min/max stats instead of scanning a
            # billions-row code vocabulary per query batch (round-2
            # verdict item 4).  No explicit partition count:
            # repartitionByRange defaults to spark.sql.shuffle.partitions
            # (AQE coalesces small ranges) and avoids the .rdd
            # conversion-job probe.
            (
                "lexicon",
                plain(
                    idx.lexicon.repartitionByRange("term")
                    .sortWithinPartitions("term"),
                    "lexicon",
                ),
            ),
        ]
        blocks_pending = any(name not in done for name in bucket_names)

        if fail_after_units is not None:
            for name, fn in indep:
                unit(name, fn)
            if blocks_pending:
                if written >= fail_after_units:
                    raise RuntimeError("injected failure before unit blocks")
                blocks_group()
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=4) as ex:
                futs = [
                    ex.submit(unit, name, fn)
                    for name, fn in indep
                    if name not in done
                ]
                if blocks_pending:
                    futs.append(ex.submit(blocks_group))
                for f in futs:
                    f.result()  # re-raise the first failure

        # superblock tier (Variable-BMW upper level, round-3): shared
        # definition with live serving (blocks.superblock_agg) — a
        # metadata-only scan of the stored blocks; serving grid-prunes
        # this 1/sb_size table before ever touching per-block metadata of
        # hot terms
        unit(
            "superblocks",
            plain(
                lambda: superblock_agg(self.load_table(spark, "blocks"),
                                       sb_size),
                "superblocks",
            ),
        )

        if "_index" not in done:
            stats = {
                "n_docs": idx.n_docs,
                "avg_len": idx.avg_len,
                "config": asdict(cfg),
                "config_fingerprint": fp,
                # blocks_from_tf defaults to cfg.block_codec when codec is
                # None — record what was actually used
                "codec": eff_codec,
                "n_buckets": n_buckets,
                "sb_size": sb_size,
                "source": source,
            }
            # tmp + rename: a crash mid-write must leave either the old
            # complete _index.json or none — never truncated JSON
            tmp = self.root / "_index.json.tmp"
            tmp.write_text(json.dumps(stats, indent=2))
            os.replace(tmp, self.root / "_index.json")
            self._append_manifest(
                {
                    "unit": "_index",
                    "source": source,
                    "config": fp,
                    "n_rows": 1,
                    "bytes": 0,
                    "wall_s": 0.0,
                    "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                }
            )
            written += 1
        return written

    # -- load --------------------------------------------------------------
    def load_table(self, spark: SparkSession, name: str,
                   units: dict[str, dict] | None = None) -> DataFrame:
        """Stored table ``name`` (``blocks`` included, with its ``bucket``
        partition column), read under the schema its manifest line
        recorded at write time — no schema-inference job, and an empty
        table reads as an empty frame.  ``units`` is a
        ``completed_units()`` snapshot to take the record from (default:
        the manifest now).  A table with no schema record — never
        completed, or written before the record existed — raises."""
        units = self.completed_units() if units is None else units
        row = units.get("blocks_bucket_0" if name == "blocks" else name)
        if row is None or "schema" not in row:
            raise RuntimeError(
                f"store at {self.root} has no schema record for table "
                f"{name!r} — rerun write_checkpointed"
            )
        return self._read(spark, name, StructType.fromJson(row["schema"]))

    def _read(self, spark: SparkSession, name: str,
              schema: StructType) -> DataFrame:
        return spark.read.schema(schema).parquet(str(self.root / name))

    def load_meta(self) -> dict:
        return json.loads((self.root / "_index.json").read_text())

    def verify_sha256(self, corpus: DataFrame) -> int:
        """Rows whose stored sha256 differs from the live source (must be 0).
        Digests compare as binary; a store written before the binary
        column existed stores hex strings, which are unhexed first."""
        stored = self.load_table(corpus.sparkSession, "corpus_manifest")
        if isinstance(stored.schema["content_sha256"].dataType, StringType):
            stored = stored.withColumn(
                "content_sha256", F.unhex("content_sha256"))
        live = with_sha256(corpus).select(
            "doc_id", F.col("content_sha256").alias("live_sha")
        )
        return (
            stored.join(live, "doc_id", "full")
            .filter(
                (F.col("content_sha256") != F.col("live_sha"))
                | F.col("content_sha256").isNull()
                | F.col("live_sha").isNull()
            )
            .count()
        )


def _dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
