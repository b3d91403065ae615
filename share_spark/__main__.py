"""spark-submit job surface: `python -m share_spark <cmd>`.

The north-rule deployment shape is a batch driver shipped with
`spark-submit --py-files share_spark.zip`; this module is that driver.
Under spark-submit the session already exists (getOrCreate attaches to it
and master/conf flags win); standalone it falls back to the local-mode
factory in session.py. Every command prints ONE JSON line on stdout so
orchestration (Airflow/cron/shell) can parse results without scraping logs.

  python -m share_spark build --pages P.parquet --index-dir IDX [--resume]
  python -m share_spark build --pages warcs/ --warc --index-dir IDX
  python -m share_spark query --index-dir IDX --query "data science" -k 10
  python -m share_spark compact --index-dir IDX

Analog of the reference's management commands + celery ingest tasks
(share/bin/, share/tasks/__init__.py) collapsed onto one Spark driver.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _get_spark(app: str):
    from .session import get_spark

    return get_spark(app)


def _cmd_build(args: argparse.Namespace) -> dict:
    from .index.build import IndexConfig, build_index

    spark = _get_spark("share_spark_build")
    if args.wet:
        from .warc import read_wet

        pages = read_wet(spark, args.pages)
    elif args.warc:
        from .warc import read_warc

        pages = read_warc(spark, args.pages)
    else:
        pages = spark.read.parquet(args.pages)
    cfg = IndexConfig(
        analyzer=args.analyzer,
        block_size=args.block_size,
        chunk_docs=args.chunk_docs,
        n_partitions=args.partitions,
    )
    t0 = time.time()
    manifest = build_index(
        spark,
        pages,
        args.index_dir,
        cfg,
        resume=args.resume,
        generation=args.generation,
    )
    wall = time.time() - t0
    return {
        "cmd": "build",
        "index_dir": args.index_dir,
        "generation": manifest["generation"],
        "n_docs": manifest["n_docs"],
        "n_terms": manifest["n_terms"],
        "build_s": round(wall, 2),
        "docs_per_sec": round(manifest["n_docs"] / wall, 1) if wall else None,
        "stage_seconds": manifest["stage_seconds"],
    }


def _cmd_corpus(args: argparse.Namespace) -> dict:
    from pyspark.sql import functions as F

    from .pipeline import PipelineConfig, build_training_corpus
    from .textops import materialize_packs

    spark = _get_spark("share_spark_corpus")
    if args.wet:
        from .warc import read_wet

        pages = read_wet(spark, args.pages)
        # non-negative synthetic ids: downstream consumers (index build
        # chunking, pack bucketing) are tested on the natural-number range
        docs = pages.select(
            F.pmod(F.xxhash64("url"), F.lit(1 << 62)).alias("doc_id"),
            "url",
            "text",
        )
    else:
        docs = spark.read.parquet(args.pages)
    evals = (
        spark.read.parquet(args.eval_texts) if args.eval_texts else None
    )
    cfg = PipelineConfig(
        lang=args.lang or None,
        budget_tokens=args.budget_tokens,
        jaccard_ngram=args.jaccard_ngram,
    )
    corpus, stats = build_training_corpus(
        docs, cfg, eval_texts=evals, audit=args.audit
    )
    if args.packs_dir:
        shards = materialize_packs(
            corpus.select("doc_id", "pack_id", "pack_offset", "n_tokens"),
            corpus.select("doc_id", F.col("text_scrubbed").alias("text")),
        )
        shards.write.mode("overwrite").parquet(args.packs_dir)
    corpus.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    return {"cmd": "corpus", "out": args.out, "n_docs": n, "stats": stats}


def _cmd_ingest(args: argparse.Namespace) -> dict:
    from .streaming.incremental import apply_incremental

    spark = _get_spark("share_spark_ingest")
    changed = spark.read.parquet(args.pages)
    manifest = apply_incremental(spark, args.index_dir, changed)
    return {
        "cmd": "ingest",
        "index_dir": args.index_dir,
        "generation": manifest["generation"],
        "n_docs": manifest["n_docs"],
    }


def _cmd_query(args: argparse.Namespace) -> dict:
    from .index.build import IndexReader
    from .query.wand import wand_topk

    spark = _get_spark("share_spark_query")
    idx = IndexReader.open(
        spark, args.index_dir, snapshot_id=args.snapshot_id
    )
    t0 = time.time()
    rows = wand_topk(idx, args.query, k=args.k, offset=args.offset).collect()
    return {
        "cmd": "query",
        "query": args.query,
        "snapshot_id": args.snapshot_id,
        "latency_s": round(time.time() - t0, 3),
        "hits": [
            {"rank": r["rank"], "doc_id": r["doc_id"], "score": r["score"]}
            for r in rows
        ],
    }


def _cmd_expel(args: argparse.Namespace) -> dict:
    from .streaming.incremental import expel

    spark = _get_spark("share_spark_expel")
    ids = [int(x) for x in args.doc_ids.split(",") if x]
    expel(spark, args.index_dir, ids)
    return {"cmd": "expel", "index_dir": args.index_dir, "n_expelled": len(ids)}


def _cmd_compact(args: argparse.Namespace) -> dict:
    from .streaming.incremental import compact

    spark = _get_spark("share_spark_compact")
    result = compact(
        spark, args.index_dir, keep_history=args.keep_history
    )
    return {"cmd": "compact", "index_dir": args.index_dir, **(result or {})}


def _cmd_snapshots(args: argparse.Namespace) -> dict:
    # metadata-only: no SparkSession needed to list lineage
    from .index.snapshots import read_snapshots

    return {
        "cmd": "snapshots",
        "index_dir": args.index_dir,
        "snapshots": read_snapshots(args.index_dir),
    }


def _cmd_expire(args: argparse.Namespace) -> dict:
    from .index.snapshots import expire_snapshots

    report = expire_snapshots(args.index_dir, keep_last=args.keep)
    return {"cmd": "expire", "index_dir": args.index_dir, **report}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="python -m share_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="full backfill index build")
    b.add_argument("--pages", required=True,
                   help="input parquet path (or a WARC dir with --warc)")
    b.add_argument("--warc", action="store_true",
                   help="treat --pages as a directory of WARC files "
                        "(Common-Crawl container; decoded via warc.read_warc)")
    b.add_argument("--wet", action="store_true",
                   help="treat --pages as a directory of WET files "
                        "(pre-extracted text records; warc.read_wet)")
    b.add_argument("--index-dir", required=True)
    b.add_argument("--analyzer", default="standard")
    b.add_argument("--block-size", type=int, default=128)
    b.add_argument("--chunk-docs", type=int, default=8192)
    b.add_argument("--partitions", type=int, default=None)
    b.add_argument("--generation", type=int, default=0)
    b.add_argument("--resume", action="store_true",
                   help="skip stages with a done-marker (crash recovery)")
    b.set_defaults(fn=_cmd_build)

    co = sub.add_parser(
        "corpus", help="training-corpus hygiene pipeline over raw pages"
    )
    co.add_argument("--pages", required=True,
                    help="input parquet (doc_id,text[,url,source]) or a "
                         "WET dir with --wet")
    co.add_argument("--wet", action="store_true")
    co.add_argument("--out", required=True, help="output corpus parquet dir")
    co.add_argument("--packs-dir", default=None,
                    help="also write one-row-per-pack training shards here")
    co.add_argument("--eval-texts", default=None,
                    help="parquet of (eval_id,text) to decontaminate against")
    co.add_argument("--lang", default="en",
                    help="language gate ('' keeps all)")
    co.add_argument("--budget-tokens", type=int, default=2048)
    co.add_argument("--jaccard-ngram", type=int, default=1)
    co.add_argument("--audit", action="store_true",
                    help="count survivors per stage (one job per stage)")
    co.set_defaults(fn=_cmd_corpus)

    g = sub.add_parser("ingest", help="incremental batch -> new generation")
    g.add_argument("--pages", required=True)
    g.add_argument("--index-dir", required=True)
    g.set_defaults(fn=_cmd_ingest)

    q = sub.add_parser("query", help="BM25 top-k via block-max WAND")
    q.add_argument("--index-dir", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("-k", type=int, default=13)
    q.add_argument("--offset", type=int, default=0)
    q.add_argument("--snapshot-id", type=int, default=None,
                   help="time-travel: answer as of this commit in the "
                        "lineage log (see the `snapshots` command)")
    q.set_defaults(fn=_cmd_query)

    e = sub.add_parser("expel", help="soft-delete docs in all generations")
    e.add_argument("--index-dir", required=True)
    e.add_argument("--doc-ids", required=True,
                   help="comma-separated doc ids to tombstone")
    e.set_defaults(fn=_cmd_expel)

    c = sub.add_parser("compact", help="fold tombstones, drop dead postings")
    c.add_argument("--index-dir", required=True)
    c.add_argument("--keep-history", action="store_true",
                   help="leave old generations on disk so earlier "
                        "snapshots stay time-travelable until `expire`")
    c.set_defaults(fn=_cmd_compact)

    s = sub.add_parser("snapshots", help="list the commit lineage log")
    s.add_argument("--index-dir", required=True)
    s.set_defaults(fn=_cmd_snapshots)

    x = sub.add_parser("expire", help="expire old snapshots, reclaim data")
    x.add_argument("--index-dir", required=True)
    x.add_argument("--keep", type=int, default=1,
                   help="how many newest snapshots to retain (default 1)")
    x.set_defaults(fn=_cmd_expire)

    args = p.parse_args(argv)
    out = args.fn(args)
    print(json.dumps(out, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
