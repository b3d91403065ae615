"""Incremental corpus hygiene: streaming ingest with cross-batch dedup.

The batch pipeline (share_spark/pipeline.py) dedups WITHIN its input; a
crawl arrives as a stream of segments, and a page seen in segment 1 must
still be dropped when segment 40 re-crawls it. This module keeps a
persistent SEEN-KEYS store (plain parquet, append-only, partitioned by
key prefix) holding the canonical-url and content-fingerprint keys of
every document ever admitted, and each micro-batch:

  1. dedups within itself (same rules as the batch pipeline),
  2. anti-joins the survivors against the seen store (cross-batch dedup),
  3. appends the admitted docs to the output corpus directory and their
     keys to the seen store — keys FIRST, so a crash between the two
     writes re-drops (never re-admits) the batch on replay: at-least-once
     delivery degrades to exactly-once OUTPUT for dedup keys, the same
     crash-ordering argument as the index's tombstone-before-manifest
     commit (streaming/incremental.py).

Scale shape: the seen store is (key, kind) pairs — bytes per admitted
document, not document bytes. The honest cost at 10^10 admitted docs is
the per-batch anti-join against that ~TB store: Spark cannot broadcast
the preserved side of a left_anti, so the HISTORY side shuffles each
batch unless the store is key-bucketed (bucketBy on `key` makes the
anti-join a co-located per-bucket merge — the production layout; plain
append parquet keeps this sandbox honest) or fronted by a Bloom sidecar
that pre-drops the non-colliding majority of the batch before the exact
join. Batch sizing amortizes the rest: the join cost is per BATCH, not
per document. Nothing corpus-sized reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import textops, urltools
from .incremental import batch_width

# kind: "fp" (content md5), "url" (canonical url) or "mh" (MinHash band key)
SEEN_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("kind", T.StringType()),
    ]
)


def _seen(spark: SparkSession, seen_dir: str) -> DataFrame | None:
    """Read the seen store, or None before the first batch. Probed via the
    Spark reader, NOT os.path — the store lives on whatever filesystem the
    session writes to (hdfs://, s3a://, ...), where a local-path check
    would always be False and silently disable cross-batch dedup. The
    schema is named, so a read starts no inference job; a missing path
    still raises AnalysisException."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(SEEN_SCHEMA).parquet(seen_dir)
    except AnalysisException:
        return None


def admit_batch(
    spark: SparkSession,
    batch: DataFrame,
    corpus_dir: str,
    seen_dir: str,
    near_dedup: bool = False,
    n_perm: int = 16,
    band_size: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """Dedup `batch` (doc_id, text, optionally url) within itself AND
    against the persistent seen store, then append the admitted docs to
    `corpus_dir` and their keys to `seen_dir`. Returns the admitted
    DataFrame (already written).

    `near_dedup=True` additionally drops NEAR-duplicates via persisted
    MinHash band keys: a doc is dropped when any of its LSH bands collides
    with an earlier doc's (earlier in this batch by doc_id, or any doc
    ever admitted). This is banded LSH WITHOUT the exact-Jaccard verify —
    the standard incremental-dedup tradeoff (verify would need the
    historical documents' shingles, i.e. corpus-sized state): a band
    collision between genuinely dissimilar docs falsely drops one, at a
    rate driven by band_size (raise it for fewer false drops, lower
    recall) and by `ngram` — the shingle space the signatures sketch
    (unigram signatures collide superlinearly at corpus scale, see
    minhash_signatures_wide; 3 is the floor for prose). Batch pipelines
    wanting the exact guarantee run pipeline.build_training_corpus over
    the admitted corpus instead.

    Idempotence: keys are written BEFORE documents, so a replayed batch
    whose first run crashed mid-write can only under-admit (safe for a
    dedup pipeline) — and because a replay re-derives the same
    deterministic keys, its anti-join drops everything already keyed."""
    # coalesce NULL text to '' for the fingerprint: a NULL md5 key would
    # (a) collapse DISTINCT null-text docs within a batch via the groupBy
    # and (b) never match in the anti-join, so a crash replay would
    # re-admit the doc — breaking the idempotence contract. With the
    # coalesce, contentless docs dedup against each other (first one
    # wins), which is the correct reading of "same content".
    keyed = batch.withColumn(
        "_fp", F.md5(F.coalesce(F.col("text"), F.lit("")))
    )
    if "url" in batch.columns:
        keyed = keyed.withColumn(
            "_urlkey", urltools.canonical_url_col(F.col("url"))
        )
    else:
        keyed = keyed.withColumn("_urlkey", F.lit(None).cast("string"))

    # within-batch: first doc_id wins per url key, then per fingerprint;
    # docs with a NULL url pass the url stage untouched (no key to clash)
    if "url" in batch.columns:
        w_url = (
            keyed.where(F.col("_urlkey").isNotNull())
            .groupBy("_urlkey")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
            .unionByName(
                keyed.where(F.col("_urlkey").isNull()).select("doc_id")
            )
        )
        keyed = keyed.join(w_url, "doc_id", "left_semi")
    w_fp = keyed.groupBy("_fp").agg(F.min("doc_id").alias("doc_id"))
    keyed = keyed.join(w_fp.select("doc_id"), "doc_id", "left_semi")

    bands = None
    if near_dedup:
        # band rows computed ONCE and lineage-truncated: they feed three
        # consumers (within-batch offenders, cross-batch hits, new keys),
        # and without the checkpoint each action would re-shingle and
        # re-minhash the batch — the dominant per-batch compute
        bands = textops.minhash_band_rows(
            keyed, n_perm, band_size, ngram=ngram
        ).localCheckpoint()
        # within-batch: first doc (min doc_id) per LSH bucket wins; any
        # later doc sharing >=1 bucket is dropped (chain-aggressive by
        # design — see the docstring tradeoff note)
        bucket_min = bands.groupBy("band", "band_key").agg(
            F.min("doc_id").alias("_min")
        )
        offenders = (
            bands.join(bucket_min, ["band", "band_key"])
            .where(F.col("doc_id") != F.col("_min"))
            .select("doc_id")
            .distinct()
        )
        keyed = keyed.join(offenders, "doc_id", "left_anti")

    # cross-batch: drop anything whose url key OR fingerprint was admitted
    seen = _seen(spark, seen_dir)
    if seen is not None:
        keyed = keyed.join(
            seen.where(F.col("kind") == "fp").select(
                F.col("key").alias("_fp")
            ),
            "_fp",
            "left_anti",
        )
        keyed = keyed.join(
            seen.where(F.col("kind") == "url").select(
                F.col("key").alias("_urlkey")
            ),
            "_urlkey",
            "left_anti",
        )
        if near_dedup:
            batch_bk = bands.select(
                "doc_id",
                F.concat_ws(":", F.col("band"), F.col("band_key")).alias(
                    "_bk"
                ),
            )
            hit = (
                batch_bk.join(
                    seen.where(F.col("kind") == "mh").select(
                        F.col("key").alias("_bk")
                    ),
                    "_bk",
                    "left_semi",
                )
                .select("doc_id")
                .distinct()
            )
            keyed = keyed.join(hit, "doc_id", "left_anti")

    # materialize and TRUNCATE LINEAGE before touching the seen store: the
    # admitted plan anti-joins seen_dir, so a lazy re-execution after the
    # key append below would read its own keys back and erase itself
    admitted = keyed.localCheckpoint()
    new_keys = admitted.select(
        F.col("_fp").alias("key"), F.lit("fp").alias("kind")
    ).unionByName(
        admitted.where(F.col("_urlkey").isNotNull()).select(
            F.col("_urlkey").alias("key"), F.lit("url").alias("kind")
        )
    )
    if near_dedup:
        new_keys = new_keys.unionByName(
            bands.join(admitted.select("doc_id"), "doc_id", "left_semi")
            .select(
                F.concat_ws(":", F.col("band"), F.col("band_key")).alias(
                    "key"
                ),
                F.lit("mh").alias("kind"),
            )
        )
    out = admitted.drop("_fp", "_urlkey")
    # a small batch appends ONE file to each sink, not one per partition
    # of the checkpoint (and two per partition for the keys' union): every
    # later batch's anti-join opens every file the seen store holds
    if batch_width(admitted)[1]["path"] == "one_task":
        new_keys = new_keys.coalesce(1)
        out = out.coalesce(1)
    # keys first (see module doc), then the documents
    new_keys.write.mode("append").parquet(seen_dir)
    out.write.mode("append").parquet(corpus_dir)
    return out


def watch_corpus(
    spark: SparkSession,
    pages_stream_dir: str,
    corpus_dir: str,
    seen_dir: str,
    checkpoint_dir: str,
    schema,
    max_files_per_trigger: int | None = None,
    near_dedup: bool = False,
):
    """Structured Streaming wiring: file-source micro-batches of raw pages
    -> deduped, append-only corpus. Returns the StreamingQuery; caller
    owns awaitTermination/stop. Same foreachBatch shape as the index's
    watch_incremental — a deployment runs both sinks off one source."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(pages_stream_dir)

    def _on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        admit_batch(
            spark, batch_df, corpus_dir, seen_dir, near_dedup=near_dedup
        )

    return (
        stream.writeStream.foreachBatch(_on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
