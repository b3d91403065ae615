"""Posting-level segment merge (compact mode="merge"): decode -> drop dead
-> re-encode through the build's own shuffle, never re-tokenizing.

The merge must be RESULT-IDENTICAL to a rebuild (same rows into the same
encoder): rank, score, stats, and corpus aggregates all pinned below.
Lucene-segment-merge semantics; the reference's only compaction analog is
backfill-to-new-index (share/models/index_backfill.py:35-146), which
re-derives everything — the merge path is the at-scale replacement."""

import shutil

import pytest
from pyspark.sql import functions as F

from share_spark.corpus import make_web_pages
from share_spark.index.build import IndexConfig, IndexReader, build_index
from share_spark.index.snapshots import current_snapshot
from share_spark.query.bm25 import exact_topk
from share_spark.query.wand import wand_topk
from share_spark.streaming.incremental import apply_incremental, compact, expel

CFG = IndexConfig(block_size=32, chunk_docs=64)

QUERIES = [
    "danger",
    "the variable danger system",
    '"nothing valued is here"',
    "danger -warning",
]


def _results(idx, q, k=50):
    return [
        (r["doc_id"], round(r["score"], 10), r["rank"])
        for r in wand_topk(idx, q, k=k).collect()
    ]


@pytest.fixture()
def churned_index(spark, tmp_path):
    """3 generations + replacements + expels — a worst-case merge input."""
    pages = make_web_pages(150, seed=21)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pages), d, CFG)

    hits = sorted(
        r["doc_id"] for r in wand_topk(IndexReader.open(spark, d), "danger", k=300).collect()
    )
    changed = pages[pages.doc_id.isin(hits[:3])].copy()
    changed["text"] = "entirely fresh replacement xylophone content"
    changed["html"] = None
    apply_incremental(spark, d, spark.createDataFrame(changed), CFG)

    changed2 = pages[pages.doc_id.isin(hits[3:5])].copy()
    changed2["text"] = "second wave quarantine zephyr material"
    changed2["html"] = None
    apply_incremental(spark, d, spark.createDataFrame(changed2), CFG)

    expel(spark, d, hits[5:7])
    return d


def test_merge_identical_to_rebuild(spark, tmp_path, churned_index):
    d_merge = churned_index
    d_rebuild = str(tmp_path / "idx_rebuild")
    shutil.copytree(d_merge, d_rebuild)

    m_man = compact(spark, d_merge, CFG, mode="merge")
    r_man = compact(spark, d_rebuild, CFG, mode="rebuild")

    # corpus stats agree exactly
    assert m_man["n_docs"] == r_man["n_docs"]
    assert m_man["avgdl"] == pytest.approx(r_man["avgdl"], abs=0)
    assert m_man["n_terms"] == r_man["n_terms"]

    im, ir = IndexReader.open(spark, d_merge), IndexReader.open(spark, d_rebuild)
    # full term_stats identical (df AND cf — positions/tf round-tripped)
    sm = {(r["term"], r["df"], r["cf"]) for r in im.term_stats().collect()}
    sr = {(r["term"], r["df"], r["cf"]) for r in ir.term_stats().collect()}
    assert sm == sr
    # rank + score identity on terms, multi-term, phrase, negation
    for q in QUERIES:
        assert _results(im, q) == _results(ir, q), q
    # WAND == exact on the merged index (block metadata still sound)
    w = _results(im, "the danger")
    e = [
        (r["doc_id"], round(r["score"], 10), r["rank"])
        for r in exact_topk(im, "the danger", k=50).collect()
    ]
    assert w == e
    assert current_snapshot(d_merge)["summary"]["mode"] == "merge"
    assert current_snapshot(d_rebuild)["summary"]["mode"] == "rebuild"


def test_merge_replaced_and_expelled_stay_dead(spark, churned_index):
    d = churned_index
    pre = IndexReader.open(spark, d)
    pre_danger = {r["doc_id"] for r in wand_topk(pre, "danger", k=300).collect()}
    pre_xylo = {r["doc_id"] for r in wand_topk(pre, "xylophone", k=50).collect()}
    pre_zephyr = {r["doc_id"] for r in wand_topk(pre, "zephyr", k=50).collect()}

    compact(spark, d, CFG, mode="merge")
    idx = IndexReader.open(spark, d)
    assert len(idx.gen_manifests) == 1
    assert idx.tombstones() is None
    assert {
        r["doc_id"] for r in wand_topk(idx, "danger", k=300).collect()
    } == pre_danger
    assert {
        r["doc_id"] for r in wand_topk(idx, "xylophone", k=50).collect()
    } == pre_xylo
    assert {
        r["doc_id"] for r in wand_topk(idx, "zephyr", k=50).collect()
    } == pre_zephyr


def test_merge_keep_history_in_place(spark, churned_index):
    d = churned_index
    pre_gens = IndexReader.open(spark, d).manifest["generations"]
    compact(spark, d, CFG, keep_history=True, mode="merge")
    rec = current_snapshot(d)
    assert rec["operation"] == "replace"
    assert rec["generations"] == [max(pre_gens) + 1]
    # old snapshots still travelable (data left on disk)
    IndexReader.open(spark, d, snapshot_id=0)


def test_merge_analyzer_change_falls_back_to_rebuild(spark, tmp_path):
    pages = make_web_pages(60, seed=4)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pages), d, CFG)
    import dataclasses

    eng = dataclasses.replace(CFG, analyzer="english")
    compact(spark, d, eng, mode="merge")
    assert current_snapshot(d)["summary"]["mode"] == "rebuild"
    # the migrated index answers with the new analyzer's stemming
    idx = IndexReader.open(spark, d)
    assert idx.gen_manifests[0]["analyzer"] == "english"
    assert wand_topk(idx, "dangerous", k=5).collect()  # stems to danger


def test_rebuild_compact_preserves_field_scoping(spark, tmp_path):
    """Regression: compaction used to drop path_key, silently collapsing a
    field-scoped index's per-path term namespaces (both modes covered)."""
    from share_spark.query.fields import FieldIndex, build_field_index

    pages = make_web_pages(80, seed=7)
    docs = spark.createDataFrame(pages[["doc_id", "text"]])
    toks = F.split("text", " ")
    rows = docs.select(
        "doc_id",
        F.lit("title").alias("path_key"),
        F.array_join(F.slice(toks, 1, 8), " ").alias("text"),
    ).unionByName(
        docs.select(
            "doc_id",
            F.lit("body").alias("path_key"),
            F.array_join(
                F.slice(toks, 9, F.greatest(F.size(toks) - 8, F.lit(0))), " "
            ).alias("text"),
        ).filter(F.col("text") != "")
    )
    for mode in ("merge", "rebuild"):
        d = str(tmp_path / f"fidx_{mode}")
        fidx = build_field_index(spark, rows, d, CFG)
        before = [
            (r["doc_id"], round(r["score"], 10))
            for r in fidx.scoped_topk("w00001", ["title"], k=20).collect()
        ]
        assert before  # fixture exercises the path
        compact(spark, d, CFG, mode=mode)
        fidx2 = FieldIndex.open(spark, d)
        after = [
            (r["doc_id"], round(r["score"], 10))
            for r in fidx2.scoped_topk("w00001", ["title"], k=20).collect()
        ]
        assert after == before, mode


def test_block_merge_identical_to_row_merge(spark, tmp_path, churned_index, monkeypatch):
    """The block-level merge (shuffle encoded blocks, decode+drop+re-encode
    in the kernel) produces BYTE-identical posting blocks to the row-level
    merge (decode first, shuffle posting rows) — same rows, same order,
    same encoder, per partition file. Also with a block_size change: the
    block path re-encodes at the new size."""
    import dataclasses
    import glob
    import os

    import pyarrow.parquet as pq

    import share_spark.index.build as B

    d_row = str(tmp_path / "rowidx")
    shutil.copytree(churned_index, d_row)
    cfg16 = dataclasses.replace(CFG, block_size=16)
    d_blk16, d_row16 = str(tmp_path / "blk16"), str(tmp_path / "row16")
    shutil.copytree(churned_index, d_blk16)
    shutil.copytree(churned_index, d_row16)

    block_runs = []
    real_merge = B.merge_generations_blocks
    monkeypatch.setattr(
        B,
        "merge_generations_blocks",
        lambda *a, **k: block_runs.append(a[1].block_size) or real_merge(*a, **k),
    )
    # block path (default)
    compact(spark, churned_index, mode="merge")
    compact(spark, d_blk16, cfg16, mode="merge")
    assert block_runs == [CFG.block_size, 16]
    # force the row-level fallback on the copy: over the cap (cap=0), the
    # real tombstone lookup declines the block path
    real = B.local_tombstone_arrays
    tomb_dir = IndexReader.open(spark, d_row).tombstone_dir
    assert tomb_dir is not None
    assert real(d_row, tomb_dir, cap=0) is None
    monkeypatch.setattr(
        B, "local_tombstone_arrays", lambda *a, **k: real(*a, **{**k, "cap": 0})
    )
    compact(spark, d_row, mode="merge")
    compact(spark, d_row16, cfg16, mode="merge")
    assert block_runs == [CFG.block_size, 16]

    def _blocks(d):
        rows = []
        for f in sorted(glob.glob(os.path.join(d, "gen0", "postings", "*.parquet"))):
            t = pq.read_table(f)
            rows.extend(
                sorted(
                    zip(
                        t.column("term").to_pylist(),
                        t.column("chunk").to_pylist(),
                        t.column("first_doc").to_pylist(),
                        t.column("n").to_pylist(),
                        t.column("docs_bin").to_pylist(),
                        t.column("tfs_bin").to_pylist(),
                        t.column("dls_bin").to_pylist(),
                        t.column("pos_bin").to_pylist(),
                        t.column("max_tf").to_pylist(),
                        t.column("min_dl").to_pylist(),
                        t.column("part_id").to_pylist(),
                    )
                )
            )
        return rows

    a, b = _blocks(churned_index), _blocks(d_row)
    assert len(a) == len(b) and a == b
    # and the merged index still answers identically
    ia, ib = IndexReader.open(spark, churned_index), IndexReader.open(spark, d_row)
    for q in QUERIES:
        assert _results(ia, q) == _results(ib, q), q

    a16, b16 = _blocks(d_blk16), _blocks(d_row16)
    assert len(a16) == len(b16) and a16 == b16
    assert max(r[3] for r in a16) == 16 and len(a16) > len(a)
    ia16 = IndexReader.open(spark, d_blk16)
    for q in QUERIES:
        assert _results(ia16, q) == _results(ia, q), q
