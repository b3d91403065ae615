"""Incremental index maintenance — the Spark shape of SHARE's indexer daemon.

The reference's incremental path is a RabbitMQ work queue: UPDATE_INDEXCARD
messages per changed card, drained in chunks of 2000 by a daemon thread that
bulk-writes to ES and then deletes stale value-docs (share/search/daemon.py,
share/search/index_messenger.py:37-76, trovesearch_denorm.py:955-999).

Here the same semantics are Lucene-segment-shaped (and transactional):

- an incremental batch of changed pages becomes a NEW GENERATION — a full
  mini-index (docs/termdoc/term_stats/postings) built by the same batch DAG,
  registered in the top-level manifest.
- re-ingested urls (same doc_id) in older generations are TOMBSTONED; query
  paths anti-join/exclude tombstoned doc_ids (the analog of the reference's
  delayed delete_by_query of stale value docs — but atomic, no 3s scrap
  window).
- BM25 stats: df/N from dead docs linger until compaction — exactly
  Lucene's deleted-doc semantics; `compact()` rebuilds a single generation
  from live docs and resets stats.
- `watch_incremental` wires the same `apply_incremental` through Structured
  Streaming's foreachBatch, giving at-least-once micro-batches over a file
  source (the queue analog). Idempotence: a generation is named by its batch
  id, and rebuilding the same generation overwrites it.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.build import (
    _KEEP,
    DOCS_SCHEMA,
    TOMBSTONE_SCHEMA,
    IndexConfig,
    IndexReader,
    _parquet_rows,
    build_index,
    config_of,
    register_generation,
)


# The largest batch, in extractor input bytes (see batch_width), that is
# ingested as ONE task: one input partition, n_partitions=1, one file per
# generation stage. Below it a stage's per-task fixed cost (launch, Python
# worker, file commit) is more than splitting its work saves. A warm
# build_index of text-only pages at width 1 / 2 / 4, local[4] on a 4-core
# host, median of 3 runs:
#   0.27 MB: 0.37 / 0.84 / 0.81 s     2.11 MB: 1.01 / 0.94 / 0.83 s
#   0.53 MB: 0.42 / 0.66 / 0.63 s     4.20 MB: 1.77 / 1.43 / 1.19 s
#   1.06 MB: 0.62 / 0.66 / 0.67 s
# Width 1 wins up to about 1 MB and loses from 2 MB; with a tenth of the
# pages carrying HTML the order is the same (1.05 MB: 0.59 / 0.66 / 0.64,
# 2.10 MB: 0.93 / 0.89 / 0.83). corpus.admit_batch writes a batch under
# the same limit as one file per sink.
_ONE_TASK_MAX_BYTES = 1 << 20


def batch_width(pages: DataFrame) -> tuple[int, dict]:
    """(rows, width) of a batch of pages, from ONE aggregate job. Its bytes
    are what the extractor reads: `html` where a page has it, else `text`.
    `width` is {"path": "one_task" | "spread", "batch_bytes", "limit"}:
    one_task when the bytes are at most _ONE_TASK_MAX_BYTES."""
    src = [F.col(c) for c in ("html", "text") if c in pages.columns]
    payload = F.octet_length(F.coalesce(*src)) if src else F.lit(0)
    r = pages.agg(
        F.count(F.lit(1)).alias("rows"), F.sum(payload).alias("bytes")
    ).first()
    n_bytes = int(r["bytes"] or 0)
    return int(r["rows"]), {
        "path": "one_task" if n_bytes <= _ONE_TASK_MAX_BYTES else "spread",
        "batch_bytes": n_bytes,
        "limit": _ONE_TASK_MAX_BYTES,
    }


def _manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "manifest.json")) as f:
        return json.load(f)


def apply_incremental(
    spark: SparkSession,
    index_dir: str,
    changed_pages: DataFrame,
    cfg: IndexConfig | None = None,
    generation: int | None = None,
) -> dict:
    """Index a batch of new/changed pages as a new generation + tombstones.

    Returns the new generation's manifest. Commit order is crash-safe:
    (1) build the generation directory UNREGISTERED, (2) merge tombstones for
    the replaced docs, (3) atomically register the generation in the
    top-level manifest. A crash after (1) or (2) leaves the new gen invisible
    (queries see exactly the old index — early tombstones in (2) only name
    `before_gen = generation`, which no reader resolves until (3) registers
    it, and before_gen semantics kill docs only in generations < it, so the
    old copies stay live); only (3) makes the swap, and it is a single
    os.replace.

    `cfg` defaults to the INDEX'S OWN registered config (config_of):
    tombstone application and WAND pruning are chunk-keyed, so a generation
    with different chunk geometry silently fails to kill replaced docs.
    Passing an explicit cfg with a different strategy checksum raises —
    reindex into a fresh directory to change strategy (the reference's
    backfill-to-new-index + alias swap)."""
    man = _manifest(index_dir)
    if cfg is None:
        cfg = config_of(index_dir)
    elif cfg.checksum() != man.get("strategy_check"):
        raise ValueError(
            "incremental cfg does not match the index's registered strategy "
            f"({cfg.checksum()} != {man.get('strategy_check')}); "
            "build a new index directory to change strategy"
        )
    older_gens = list(man["generations"])
    if generation is None:
        generation = max(older_gens) + 1

    # right-size the generation's width to the BATCH, not the base index:
    # incremental batches are small relative to the corpus (2000-doc
    # chunks in the reference, settings.py:303), and inheriting the base's
    # width runs that many near-empty tasks per stage and writes that many
    # near-empty files per generation — file-count bloat at every
    # micro-batch and extra footer opens on every query until compaction.
    # n_partitions is layout-free (unlike chunk_docs, which MUST match for
    # tombstone correctness), so this never changes semantics. One
    # aggregate job sizes the batch by the bytes the extractor reads:
    # - one_task: at most _ONE_TASK_MAX_BYTES (the measured crossover, see
    #   there). The batch coalesces to one partition and builds with
    #   n_partitions=1, so dedup's map side, extract, tokenize, encode,
    #   the tombstone semi-join's batch side and every write run as one
    #   task, and each generation stage is one file.
    # - spread: the batch keeps its own width, and the postings get ~25k
    #   docs per partition (the full build's density at its own defaults),
    #   capped at the base's n_partitions but never fewer than 4.
    batch_docs, width = batch_width(changed_pages)
    if width["path"] == "one_task":
        changed_pages = changed_pages.coalesce(1)
        n_parts = 1
    else:
        base_parts = cfg.n_partitions or spark.sparkContext.defaultParallelism
        n_parts = max(4, min(base_parts, batch_docs // 25_000 + 1))
    cfg = dataclasses.replace(cfg, n_partitions=n_parts)

    # doc ids being replaced (same derivation as build_docs: doc_id column
    # if present, else xxhash64(url))
    if "doc_id" in changed_pages.columns:
        new_ids = changed_pages.select("doc_id").distinct()
    else:
        new_ids = changed_pages.select(
            F.xxhash64("url").alias("doc_id")
        ).distinct()

    # tombstones for replaced docs depend only on the OLD generations' docs
    # and the batch's ids — independent of the new generation's build until
    # the single commit below — so the merge runs CONCURRENTLY with the
    # build (guide §2.6: overlap independent jobs; the tombstone version
    # dir stays unreferenced and invisible until register_generation).
    from concurrent.futures import ThreadPoolExecutor

    older = [g for g in older_gens if g < generation]

    def _tombstone_merge() -> str:
        old_ids = (
            spark.read.schema(DOCS_SCHEMA)
            .parquet(*[os.path.join(index_dir, f"gen{g}", "docs") for g in older])
            .select("doc_id")
            .join(new_ids, "doc_id", "left_semi")
            .distinct()
            .withColumn("before_gen", F.lit(generation))
        )
        return _merge_tombstones(spark, index_dir, old_ids)

    tomb_version: object = _KEEP
    if older:
        with ThreadPoolExecutor(max_workers=1) as pool:
            tomb_f = pool.submit(_tombstone_merge)
            gen_manifest = build_index(
                spark, changed_pages, index_dir, cfg, generation=generation,
                register=False,
            )
            tomb_version = tomb_f.result()
    else:
        gen_manifest = build_index(
            spark, changed_pages, index_dir, cfg, generation=generation,
            register=False,
        )
    # the width decision, next to build_index's `finish`; the generation
    # is still unregistered, so this rewrite is invisible to readers
    gen_manifest["width"] = width
    with open(
        os.path.join(index_dir, f"gen{generation}", "manifest.json"), "w"
    ) as f:
        json.dump(gen_manifest, f, indent=1, sort_keys=True)
    # ONE commit swings both the generation list and the tombstone-version
    # pointer (the batch is a single logical transaction); before it, the
    # new version dir is unreferenced and invisible to every reader
    register_generation(
        index_dir,
        generation,
        cfg,
        tombstones=tomb_version,
        summary={
            "generation": generation,
            "n_docs": gen_manifest["n_docs"],
            "ingest": "incremental",
        },
    )
    return gen_manifest


def _merge_tombstones(
    spark: SparkSession, index_dir: str, new_rows: DataFrame
) -> str:
    """Merge new tombstone rows with the current version into a NEW
    immutable version dir (tombstones_v{next snapshot id}); returns its
    name WITHOUT committing — the caller's manifest/snapshot commit makes
    it visible.  Old versions are never mutated, so readers opened against
    earlier snapshots keep a consistent view (Iceberg-style versioned
    delete files), and a reader lists its version once
    (IndexReader.tombstone_files); expire_snapshots() reclaims them."""
    from ..index.snapshots import next_snapshot_id, resolve_tombstone_dir

    cur = resolve_tombstone_dir(index_dir)
    merged = new_rows
    if cur is not None:
        merged = (
            spark.read.schema(TOMBSTONE_SCHEMA)
            .parquet(os.path.join(index_dir, cur))
            .unionByName(new_rows)
        )
    merged = merged.groupBy("doc_id").agg(F.max("before_gen").alias("before_gen"))
    vname = f"tombstones_v{next_snapshot_id(index_dir)}"
    # overwrite handles a crash leftover of the same (uncommitted) name
    merged.write.mode("overwrite").parquet(os.path.join(index_dir, vname))
    return vname


def expel(spark: SparkSession, index_dir: str, doc_ids: list[int]) -> None:
    """Soft-delete documents in ALL generations (the reference's expel /
    soft-delete tombstones, trove/digestive_tract.py:232-241,
    trove/models/indexcard.py:215-233)."""
    from ..index.build import EXPEL_ALL, commit_manifest

    new = spark.createDataFrame(
        [(int(d), EXPEL_ALL) for d in doc_ids], TOMBSTONE_SCHEMA
    )
    vname = _merge_tombstones(spark, index_dir, new)
    commit_manifest(
        index_dir,
        tombstones=vname,
        operation="delete",
        summary={"expelled": len(doc_ids)},
    )


def compact(
    spark: SparkSession,
    index_dir: str,
    cfg: IndexConfig | None = None,
    keep_history: bool = False,
    mode: str = "merge",
) -> dict:
    """Merge all generations into one: live docs only, fresh global stats.

    The analog of both Lucene segment merging and the reference's
    backfill-to-new-index + alias swap (elastic8.py:222-239), committed as
    an Iceberg-style "replace" snapshot either way:

    - ``mode="merge"`` (default): a POSTING-LEVEL segment merge of the
      encoded blocks (build.merge_generations_blocks): every generation's
      blocks shuffle by the build's own salted key, and the merge kernel
      decodes, drops tombstoned postings and re-encodes them.  The corpus
      is never re-analyzed: at web scale the skipped extract+tokenize pass
      is the whole corpus' CPU cost, and the merge is IO-bound like
      Lucene's.  The blocks are byte-identical to a rebuild's (same rows
      into the same encoder).  The merge is declined, and the compaction
      rebuilds, when `cfg` changes the analyzer (terms are baked into the
      postings) or the chunk/salt geometry (the block shuffle key), or
      when the tombstone set is over local_tombstone_arrays' cap; the
      snapshot summary records why as ``merge_declined``
      ("analyzer" | "geometry" | "tombstones").
    - ``mode="rebuild"``: re-extract + re-tokenize the live docs' stored
      text — the strategy-migration path (new analyzer / k1 / b).
    - ``keep_history=False`` (default): the new single-generation index is
      built in a sibling directory and atomically swapped in; the lineage
      log is carried across the swap, but the PRE-compaction snapshots'
      data files are gone — time travel to them raises SnapshotExpiredError
      (Iceberg's rewrite + immediate expire_snapshots).
    - ``keep_history=True``: the merged segment is built IN PLACE as a new
      generation number and the commit just swings the manifest to it; old
      generations and tombstone versions stay on disk, so every earlier
      snapshot remains time-travelable until expire_snapshots() reclaims
      them (Iceberg's rewrite_data_files).

    `cfg` defaults to the index's own registered config — compaction is a
    rewrite, so a different strategy here IS allowed when passed explicitly
    (this is how a strategy migration reindexes in place)."""
    from ..index.build import (
        commit_manifest,
        local_tombstone_arrays,
        merge_generations_blocks,
    )

    registered = config_of(index_dir)
    cfg = cfg or registered
    if mode not in ("merge", "rebuild"):
        raise ValueError(f"unknown compact mode {mode!r}")
    reader = IndexReader.open(spark, index_dir)
    merge_declined = None
    if mode == "merge":
        if cfg.analyzer != registered.analyzer:
            merge_declined = "analyzer"  # a new analyzer must re-tokenize
        elif (cfg.chunk_docs, cfg.salt_chunks) != (
            registered.chunk_docs,
            registered.salt_chunks,
        ):
            merge_declined = "geometry"  # the block shuffle key changes
        else:
            tomb_local = local_tombstone_arrays(reader)
            if tomb_local is None:
                merge_declined = "tombstones"  # over the driver-side cap
        if merge_declined is not None:
            mode = "rebuild"
    old_gens = list(reader.manifest["generations"])
    docs = reader.live_docs()
    # tombstones normally leave exactly one live row per doc; belt and
    # braces for crash windows between gen build and tombstone write.
    # Probe for duplicate ids on the PRUNED key column first (the groupBy
    # projects doc_id only, so the shuffle moves 8-byte ids): the common
    # no-dup case then skips dropDuplicates' full payload shuffle of the
    # docs table — text bytes should cross the wire exactly once, into the
    # new generation's docs files (guide §8's move-heavy-rows-once rule).
    has_dups = not (
        docs.groupBy("doc_id")
        .count()
        .filter(F.col("count") > 1)
        .isEmpty()
    )
    if has_dups:
        docs = docs.dropDuplicates(["doc_id"])

    pages = docs_df = postings_df = None
    if mode == "merge":
        # shuffle the encoded blocks (~1x index bytes) and decode/drop-dead/
        # re-encode inside the merge kernel (guide §2.3/§8); blocks
        # re-encode at cfg.block_size
        docs_df = docs.select(*[f.name for f in DOCS_SCHEMA])
        postings_df = merge_generations_blocks(
            reader, cfg, tomb_local[0], tomb_local[1]
        )
    else:
        # path_key rides along so a field-scoped index keeps its per-path
        # term namespaces through the re-tokenize
        pages = docs.select(
            "doc_id", "url", "lang", "path_key",
            F.col("text_norm").alias("text"),
        )
    summary = {"mode": mode}
    if merge_declined is not None:
        summary["merge_declined"] = merge_declined

    if keep_history:
        new_gen = max(old_gens) + 1
        manifest = build_index(
            spark, pages, index_dir, cfg, generation=new_gen, register=False,
            assume_unique_ids=True, docs_df=docs_df, postings_df=postings_df,
        )
        commit_manifest(
            index_dir,
            generations=[new_gen],
            strategy_check=cfg.checksum(),
            tombstones=None,  # the merged segment has no dead docs
            operation="replace",
            summary={
                "compacted_generations": old_gens,
                "generation": new_gen,
                "n_docs": manifest["n_docs"],
                **summary,
            },
        )
        return manifest

    new_dir = index_dir.rstrip("/") + "_compacting"
    shutil.rmtree(new_dir, ignore_errors=True)
    manifest = build_index(
        spark, pages, new_dir, cfg, generation=0, register=False,
        assume_unique_ids=True, docs_df=docs_df, postings_df=postings_df,
    )
    # carry the lineage log across the swap: history records remain
    # auditable even though their data files die with the old directory
    log = os.path.join(index_dir, "snapshots.jsonl")
    if os.path.exists(log):
        shutil.copy2(log, os.path.join(new_dir, "snapshots.jsonl"))
    # ... and the field index's frow<->doc mapping (index-level sidecar,
    # generation-independent: frow ids are deterministic per (doc, path))
    fmap = os.path.join(index_dir, "fieldmap")
    if os.path.exists(fmap):
        shutil.copytree(fmap, os.path.join(new_dir, "fieldmap"))
    commit_manifest(
        new_dir,
        generations=[0],
        strategy_check=cfg.checksum(),
        tombstones=None,
        operation="replace",
        summary={
            "compacted_generations": old_gens,
            "generation": 0,
            "n_docs": manifest["n_docs"],
            **summary,
            "history_expired": True,
        },
    )
    old_dir = index_dir.rstrip("/") + "_old"
    shutil.rmtree(old_dir, ignore_errors=True)
    os.rename(index_dir, old_dir)
    os.rename(new_dir, index_dir)
    shutil.rmtree(old_dir, ignore_errors=True)
    # the swap replaced every file under index_dir; Spark's session-wide
    # FileStatusCache would otherwise serve the dead build's listings to
    # the next read of the same paths
    spark.catalog.refreshByPath(index_dir)
    return manifest


@dataclass(frozen=True)
class CompactionPolicy:
    """When to fold generations back into a single segment — the analog of
    the reference's backfill-then-promote lifecycle
    (share/models/index_backfill.py:35-146) made automatic, and of
    Lucene's TieredMergePolicy trigger conditions.

    Every un-compacted generation costs queries one extra set of parquet
    footer opens plus tombstone rows in every query's chunk shuffle; dead
    docs inflate df/N.  Both trigger inputs are DRIVER-SIDE METADATA ONLY
    (manifest generation list + parquet footer row counts) — the decision
    itself never runs a Spark job, so checking after every micro-batch is
    free.

    max_generations: compact when the live generation count exceeds this.
    max_tombstone_frac: ... or when tombstoned docs / total indexed docs
        exceeds this (dead-doc bloat: wasted scan + stale corpus stats).
    """

    max_generations: int = 8
    max_tombstone_frac: float = 0.25


def _tombstone_rows(index_dir: str) -> int:
    """Row count of the current tombstone version from parquet footers only
    (a version the manifest names but that is missing raises)."""
    from ..index.snapshots import resolve_tombstone_dir

    name = resolve_tombstone_dir(index_dir)
    if name is None:
        return 0
    return _parquet_rows(os.path.join(index_dir, name))


def should_compact(
    index_dir: str, policy: CompactionPolicy
) -> str | None:
    """The policy decision: a human-readable reason, or None to skip."""
    gens = _manifest(index_dir)["generations"]
    if len(gens) > policy.max_generations:
        return (
            f"{len(gens)} generations > max_generations="
            f"{policy.max_generations}"
        )
    n_docs = 0
    for g in gens:
        with open(os.path.join(index_dir, f"gen{g}", "manifest.json")) as f:
            n_docs += json.load(f)["n_docs"]
    n_tomb = _tombstone_rows(index_dir)
    if n_docs and n_tomb / n_docs > policy.max_tombstone_frac:
        return (
            f"tombstone fraction {n_tomb}/{n_docs} = "
            f"{n_tomb / n_docs:.3f} > max_tombstone_frac="
            f"{policy.max_tombstone_frac}"
        )
    return None


def maybe_compact(
    spark: SparkSession,
    index_dir: str,
    policy: CompactionPolicy,
    cfg: IndexConfig | None = None,
) -> dict | None:
    """Run compact() iff the policy says so; returns the new gen0 manifest
    when compaction fired, else None."""
    reason = should_compact(index_dir, policy)
    if reason is None:
        return None
    manifest = compact(spark, index_dir, cfg)
    manifest["compacted_because"] = reason
    return manifest


def watch_incremental(
    spark: SparkSession,
    pages_stream_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    cfg: IndexConfig | None = None,
    schema=None,
    compaction: CompactionPolicy | None = None,
    max_files_per_trigger: int | None = None,
):
    """Structured Streaming wiring: file-source micro-batches -> generations.

    Each micro-batch calls apply_incremental with generation = base + batch
    id (idempotent on replay: rebuilding a generation overwrites it).
    With a CompactionPolicy, each batch commit is followed by a free
    metadata-only policy check and, when triggered, an atomic compact() —
    generation numbering stays monotonic across the swap (gen = base +
    batch id regardless of what compaction collapsed), so replays remain
    idempotent.  Returns the StreamingQuery; caller owns
    awaitTermination/stop."""
    # default to the INDEX'S registered config, not IndexConfig(): the
    # non-checksummed layout knob (n_partitions) must
    # survive both the per-batch builds and any policy-triggered
    # compaction — an explicit IndexConfig() default would silently
    # rewrite the index with default layout when compaction fires
    cfg = cfg or config_of(index_dir)
    base_gen = max(_manifest(index_dir)["generations"]) + 1

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # bound each micro-batch (the reference drains its queue in
        # 2000-message chunks, share/search/daemon.py) — availableNow
        # still processes ALL pending input, just split across batches
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(pages_stream_dir)

    def _on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_incremental(
            spark, index_dir, batch_df, cfg, generation=base_gen + int(batch_id)
        )
        if compaction is not None:
            maybe_compact(spark, index_dir, compaction, cfg)

    return (
        stream.writeStream.foreachBatch(_on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
