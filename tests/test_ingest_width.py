"""An ingest batch's width comes from its own bytes (the bytes the
extractor reads: html where a page has it, else text).

Pinned here:
  1. a batch of at most incremental._ONE_TASK_MAX_BYTES builds its
     generation with n_partitions=1: one file in each of docs, postings,
     postings_term and term_stats, and the manifest says `one_task`
  2. above the constant the width is the batch's own and n_partitions
     follows max(4, min(base, docs // 25_000 + 1)), as four files per
     posting stage, and the manifest says `spread`
  3. the one-task generation ranks identically under wand_topk,
     exact_topk and the serve tier, and a merge compaction after it is
     byte-identical to a rebuild
  4. batch_width sizes html where present, else text
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest

from share_spark.corpus import make_web_pages
from share_spark.index.build import IndexConfig, IndexReader, build_index
from share_spark.query.bm25 import exact_topk
from share_spark.query.serve import TopKServer
from share_spark.query.wand import wand_topk
from share_spark.streaming import incremental
from share_spark.streaming.incremental import apply_incremental, compact

CFG = IndexConfig(block_size=32, chunk_docs=64)
QUERIES = ["the", "danger", "the data", "danger -warning", '"the data"', "zzmarker the"]
STAGES = ("docs", "postings", "postings_term", "term_stats")


@pytest.fixture()
def base_index(spark, tmp_path):
    pages = make_web_pages(120, seed=9)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pages), d, CFG)
    return d, pages


def _batch(spark, pages):
    """40 new pages and 3 re-crawls of base pages, over 8 partitions."""
    new = make_web_pages(40, seed=10)
    new["doc_id"] += 1000
    new["url"] = [f"https://new.example/page/{i}" for i in new["doc_id"]]
    new.loc[new.index[:2], "text"] = "zzmarker the fresh pages"
    new.loc[new.index[:2], "html"] = None
    upd = pages.iloc[[3, 5, 7]].copy()
    upd["text"] = "the data replaced by zzmarker content"
    upd["html"] = None
    return spark.createDataFrame(
        pd.concat([new, upd], ignore_index=True)
    ).repartition(8)


def _files(d, gen, stage):
    return sorted(glob.glob(os.path.join(d, f"gen{gen}", stage, "*.parquet")))


def _gen_manifest(d, gen):
    with open(os.path.join(d, f"gen{gen}", "manifest.json")) as f:
        return json.load(f)


def test_small_batch_is_one_task(spark, base_index):
    d, pages = base_index
    gm = apply_incremental(spark, d, _batch(spark, pages))
    on_disk = _gen_manifest(d, 1)
    assert on_disk == gm
    assert gm["n_partitions"] == 1
    assert gm["width"]["path"] == "one_task"
    assert gm["width"]["limit"] == incremental._ONE_TASK_MAX_BYTES
    assert 0 < gm["width"]["batch_bytes"] <= incremental._ONE_TASK_MAX_BYTES
    for stage in STAGES:
        assert len(_files(d, 1, stage)) == 1, stage
    # the base build's layout is untouched
    assert len(_files(d, 0, "postings_term")) == 4


def test_batch_over_the_limit_keeps_its_width(spark, base_index, monkeypatch):
    d, pages = base_index
    monkeypatch.setattr(incremental, "_ONE_TASK_MAX_BYTES", 0)
    gm = apply_incremental(spark, d, _batch(spark, pages))
    base_parts = spark.sparkContext.defaultParallelism
    assert gm["n_partitions"] == max(4, min(base_parts, 43 // 25_000 + 1)) == 4
    assert gm["width"]["path"] == "spread"
    assert gm["width"]["limit"] == 0
    for stage in ("postings", "postings_term", "term_stats"):
        assert len(_files(d, 1, stage)) == 4, stage


def test_one_task_generation_ranks_identically(spark, base_index, tmp_path):
    d, pages = base_index
    apply_incremental(spark, d, _batch(spark, pages))
    idx = IndexReader.open(spark, d)
    srv = TopKServer.open(d)

    def rows(df):
        return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]

    for q in QUERIES:
        w, e = rows(wand_topk(idx, q, k=20)), rows(exact_topk(idx, q, k=20))
        s = [(rk, doc, sc) for doc, sc, rk in srv.topk(q, k=20)]
        assert w, q
        for got in (e, s):
            assert [x[:2] for x in got] == [x[:2] for x in w], q
            assert all(abs(a[2] - b[2]) <= 1e-9 for a, b in zip(got, w)), q

    # a merge compaction after the one-task ingest writes the same posting
    # blocks, part file by part file, as a rebuild of the live docs
    d_rebuild = str(tmp_path / "rebuild")
    shutil.copytree(d, d_rebuild)
    compact(spark, d, mode="merge")
    compact(spark, d_rebuild, mode="rebuild")
    merged = [pq.read_table(f).to_pylist() for f in _files(d, 0, "postings")]
    rebuilt = [pq.read_table(f).to_pylist() for f in _files(d_rebuild, 0, "postings")]
    assert len(merged) > 1 and merged == rebuilt


def test_batch_width_sizes_html_else_text(spark):
    df = spark.createDataFrame(
        [(1, "<p>héllo</p>", "ignored"), (2, None, "four"), (3, None, None)],
        "doc_id long, html string, text string",
    )
    rows, width = incremental.batch_width(df)
    assert rows == 3
    assert width == {
        "path": "one_task",
        "batch_bytes": len("<p>héllo</p>".encode()) + 4,
        "limit": incremental._ONE_TASK_MAX_BYTES,
    }
    rows, width = incremental.batch_width(df.select("doc_id", "text"))
    assert (rows, width["batch_bytes"]) == (3, len("ignored") + 4)
