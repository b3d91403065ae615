"""Posting-level segment merge (compact mode="merge"): shuffle the encoded
blocks by the build's own salted key, then decode -> drop dead -> re-encode
inside the merge kernel, never re-tokenizing. A merge the blocks cannot
serve (new analyzer, new chunk/salt geometry, tombstones over the cap)
compacts by rebuild and says why.

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
    assert "merge_declined" not in current_snapshot(d_merge)["summary"]


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
    assert current_snapshot(d)["summary"]["merge_declined"] == "analyzer"
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


def _part_files(d):
    """Every gen0/postings part file's block rows, in file and row order."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(d, "gen0", "postings", "*.parquet")))
    return [pq.read_table(f).to_pylist() for f in files]


def test_block_merge_identical_to_rebuild(spark, tmp_path, churned_index, monkeypatch):
    """The block merge (shuffle encoded blocks, decode+drop+re-encode in the
    kernel) writes BYTE-identical posting blocks to mode="rebuild" (the
    live docs re-tokenized) — same rows, same order, same encoder, part
    file by part file. Also with a block_size change: the block path
    re-encodes at the new size."""
    import dataclasses

    import share_spark.index.build as B

    cfg16 = dataclasses.replace(CFG, block_size=16)
    copies = {
        name: str(tmp_path / name) for name in ("rebuild", "blk16", "rebuild16")
    }
    for d in copies.values():
        shutil.copytree(churned_index, d)

    block_runs = []
    real_merge = B.merge_generations_blocks
    monkeypatch.setattr(
        B,
        "merge_generations_blocks",
        lambda *a, **k: block_runs.append(a[1].block_size) or real_merge(*a, **k),
    )
    compact(spark, churned_index, mode="merge")
    compact(spark, copies["blk16"], cfg16, mode="merge")
    compact(spark, copies["rebuild"], mode="rebuild")
    compact(spark, copies["rebuild16"], cfg16, mode="rebuild")
    assert block_runs == [CFG.block_size, 16]
    for d in (churned_index, copies["blk16"]):
        summary = current_snapshot(d)["summary"]
        assert summary["mode"] == "merge" and "merge_declined" not in summary

    a, b = _part_files(churned_index), _part_files(copies["rebuild"])
    assert len(a) > 1 and a == b
    a16, b16 = _part_files(copies["blk16"]), _part_files(copies["rebuild16"])
    assert a16 == b16
    assert max(r["n"] for f in a16 for r in f) == 16
    assert sum(map(len, a16)) > sum(map(len, a))
    ia, ia16 = IndexReader.open(spark, churned_index), IndexReader.open(
        spark, copies["blk16"]
    )
    for q in QUERIES:
        assert _results(ia16, q) == _results(ia, q), q


def test_declined_merge_rebuilds_and_says_why(spark, tmp_path, churned_index, monkeypatch):
    """A chunk_docs change moves the block shuffle key, and a tombstone set
    over local_tombstone_arrays' cap does not fit the driver: either way
    compact(mode="merge") rebuilds and records why in the snapshot."""
    import dataclasses

    import share_spark.index.build as B

    d_geo = str(tmp_path / "geo")
    shutil.copytree(churned_index, d_geo)
    wide = dataclasses.replace(CFG, chunk_docs=128)
    m_geo = compact(spark, d_geo, wide, mode="merge")
    summary = current_snapshot(d_geo)["summary"]
    assert summary["mode"] == "rebuild"
    assert summary["merge_declined"] == "geometry"
    assert m_geo["chunk_docs"] == 128

    real = B.local_tombstone_arrays
    monkeypatch.setattr(
        B, "local_tombstone_arrays", lambda *a, **k: real(*a, **{**k, "cap": 0})
    )
    m_tomb = compact(spark, churned_index, mode="merge")
    summary = current_snapshot(churned_index)["summary"]
    assert summary["mode"] == "rebuild"
    assert summary["merge_declined"] == "tombstones"
    assert m_tomb["n_docs"] == m_geo["n_docs"]
    ig, it = IndexReader.open(spark, d_geo), IndexReader.open(spark, churned_index)
    for q in QUERIES:
        assert _results(ig, q) == _results(it, q), q
