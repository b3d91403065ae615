"""Incremental update / tombstone / compaction / streaming semantics.

Mirrors the reference's deletion+update re-index invariants
(_common_trovesearch_tests.py:64-102,167-208) on the generation-based index."""

import pytest
from pyspark.sql import functions as F

from share_spark.corpus import make_web_pages
from share_spark.index.build import IndexConfig, IndexReader, build_index
from share_spark.query.wand import wand_topk
from share_spark.streaming.incremental import (
    apply_incremental,
    compact,
    expel,
    watch_incremental,
)

CFG = IndexConfig(block_size=32, chunk_docs=64)


def _hits(idx, q, k=300):
    return {r["doc_id"] for r in wand_topk(idx, q, k=k).collect()}


@pytest.fixture()
def base_index(spark, tmp_path):
    pages = make_web_pages(120, seed=9)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pages), d, CFG)
    return d, pages


def test_update_replaces_and_old_content_disappears(spark, base_index):
    d, pages = base_index
    idx0 = IndexReader.open(spark, d)
    target = sorted(_hits(idx0, "danger"))[0]  # a B/C-class doc
    assert target is not None

    changed = pages[pages.doc_id == target].copy()
    changed["text"] = "entirely fresh replacement xylophone content"
    changed["html"] = None
    apply_incremental(spark, d, spark.createDataFrame(changed), CFG)

    idx1 = IndexReader.open(spark, d)
    assert target not in _hits(idx1, "danger")          # old content gone
    assert _hits(idx1, "xylophone") == {target}         # new content found
    # unchanged docs still searchable
    assert _hits(idx1, "danger") == _hits(idx0, "danger") - {target}


def test_expel_soft_delete(spark, base_index):
    d, _ = base_index
    idx0 = IndexReader.open(spark, d)
    victims = sorted(_hits(idx0, "danger"))[:2]
    expel(spark, d, victims)
    idx1 = IndexReader.open(spark, d)
    assert _hits(idx1, "danger") == _hits(idx0, "danger") - set(victims)


def test_mass_tombstones_unhinted_join_and_rank_identity(spark, base_index):
    """The exact path and live_docs must survive an unbounded tombstone set:
    no broadcast HINT on the tombstone join (AQE may still pick broadcast at
    runtime from actual size — the point is nothing forces a 10^8-row set
    into driver memory), and rank identity exact-vs-WAND is preserved."""
    from share_spark.query.bm25 import exact_topk, live_postings

    d, _ = base_index
    idx0 = IndexReader.open(spark, d)
    victims = sorted(_hits(idx0, "danger"))[:2]
    # 10^5 tombstones: 2 real victims + the rest outside the doc-id range
    expel(spark, d, victims + list(range(10_000_000, 10_099_998)))

    idx1 = IndexReader.open(spark, d)
    live = idx1.live_docs()
    postings = live_postings(idx1, ["danger"])
    for df in (live, postings):
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in plan, plan
    assert set(victims).isdisjoint({r["doc_id"] for r in live.collect()})
    ex = [r["doc_id"] for r in exact_topk(idx1, "danger", k=300).collect()]
    wd = [r["doc_id"] for r in wand_topk(idx1, "danger", k=300).collect()]
    assert ex == wd and set(victims).isdisjoint(ex)
    assert set(ex) == _hits(idx0, "danger") - set(victims)


def test_compact_equals_fresh_rebuild(spark, base_index, tmp_path):
    d, pages = base_index
    target = int(pages.iloc[5].doc_id)
    changed = pages.iloc[[5]].copy()
    changed["text"] = "compacted unique zebrafish terms"
    changed["html"] = None
    apply_incremental(spark, d, spark.createDataFrame(changed), CFG)
    expel(spark, d, [int(pages.iloc[10].doc_id)])
    compact(spark, d, CFG)

    # fresh index over the equivalent corpus
    fresh_pages = pages[pages.doc_id != pages.iloc[10].doc_id].copy()
    fresh_pages.loc[fresh_pages.doc_id == target, "text"] = (
        "compacted unique zebrafish terms"
    )
    fresh_pages.loc[fresh_pages.doc_id == target, "html"] = None
    fd = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(fresh_pages), fd, CFG)

    idx_c = IndexReader.open(spark, d)
    idx_f = IndexReader.open(spark, fd)
    assert len(idx_c.gen_manifests) == 1
    assert idx_c.n_docs == idx_f.n_docs
    assert abs(idx_c.avgdl - idx_f.avgdl) < 1e-9
    for q in ("danger", "zebrafish", "the data"):
        got = [(r["rank"], r["doc_id"], round(r["score"], 9))
               for r in wand_topk(idx_c, q, k=50).collect()]
        want = [(r["rank"], r["doc_id"], round(r["score"], 9))
                for r in wand_topk(idx_f, q, k=50).collect()]
        assert got == want, q


def test_streaming_foreachbatch(spark, base_index, tmp_path):
    d, pages = base_index
    stream_dir = str(tmp_path / "stream_in")
    ckpt = str(tmp_path / "ckpt")
    new = pages.iloc[[0]].copy()
    new["text"] = "streamed quokka arrival"
    new["html"] = None
    sdf = spark.createDataFrame(new)
    sdf.write.mode("overwrite").parquet(stream_dir)
    q = watch_incremental(
        spark, stream_dir, d, ckpt, CFG, schema=sdf.schema
    )
    q.awaitTermination(120)
    idx = IndexReader.open(spark, d)
    assert _hits(idx, "quokka") == {int(pages.iloc[0].doc_id)}


def test_bound_pruning_survives_avgdl_drift(
    spark, tmp_path, past_one_open, chunks_decoded
):
    """ADVICE-high regression: block-max bounds must stay valid when later
    generations move the global avgdl. gen0 = short docs (small avgdl),
    gen1 = long docs (3x avgdl); with bounds baked at build time using
    gen0's own avgdl, chunk pruning could drop true top-k docs. Bounds are
    computed at query time from (max_tf, min_dl), so wand stays
    rank-identical to exact on both transports, while the chunk pass (the
    exchange's per-task body, run in-process) gives the exact page and is
    seen to skip chunks by bound."""
    import pandas as pd

    from share_spark.index.build import IndexConfig, IndexReader, build_index
    from share_spark.query.bm25 import exact_topk
    from share_spark.query.wand import wand_topk
    from share_spark.streaming.incremental import apply_incremental

    cfg = IndexConfig(block_size=16, chunk_docs=16)
    idx_dir = str(tmp_path / "idx")
    rng_words = [f"t{i}" for i in range(30)]

    short_docs = pd.DataFrame(
        {
            "doc_id": range(200),
            "url": [f"u{i}" for i in range(200)],
            "lang": "en",
            "text": [
                f"alpha {rng_words[i % 30]} {rng_words[(i * 7) % 30]}"
                for i in range(200)
            ],
            "html": None,
        }
    )
    build_index(spark, spark.createDataFrame(short_docs), idx_dir, cfg)

    long_docs = pd.DataFrame(
        {
            "doc_id": range(200, 360),
            "url": [f"u{i}" for i in range(200, 360)],
            "lang": "en",
            "text": [
                "alpha " + " ".join(rng_words[(i + j) % 30] for j in range(24))
                for i in range(160)
            ],
            "html": None,
        }
    )
    apply_incremental(spark, idx_dir, spark.createDataFrame(long_docs), cfg)

    idx = IndexReader.open(spark, idx_dir)
    n_chunks = len({d // cfg.chunk_docs for d in range(360)})
    decoded = {}
    for q in ("alpha", "alpha t3", "t1 t2", "t7"):
        exact = [
            (r["rank"], r["doc_id"]) for r in exact_topk(idx, q, k=15).collect()
        ]
        for exchange in (False, True):
            with past_one_open(exchange):
                pruned = [
                    (r["rank"], r["doc_id"])
                    for r in wand_topk(idx, q, k=15).collect()
                ]
            assert pruned == exact, (q, exchange)
        top, decoded[q] = chunks_decoded(idx, q, 15)
        assert [d for d, _ in top] == [d for _, d in exact], q
    # "alpha" is in every doc, so every chunk is a candidate; the bound
    # skips some of them
    assert 0 < decoded["alpha"] < n_chunks, decoded


def test_auto_compact_generation_trigger(spark, base_index):
    """~10 micro-batches with max_generations=4: compaction must fire
    (at least once), keep the live generation count bounded, and leave
    query results identical to never-compacted semantics."""
    from share_spark.streaming.incremental import (
        CompactionPolicy,
        maybe_compact,
        should_compact,
    )

    d, pages = base_index
    policy = CompactionPolicy(max_generations=4, max_tombstone_frac=1e9)
    fired = []
    for i in range(10):
        changed = pages.iloc[[i]].copy()
        changed["text"] = f"generational wombat batch{i}"
        changed["html"] = None
        apply_incremental(spark, d, spark.createDataFrame(changed), CFG)
        m = maybe_compact(spark, d, policy, CFG)
        if m is not None:
            fired.append(m["compacted_because"])
        gens = IndexReader.open(spark, d).manifest["generations"]
        assert len(gens) <= policy.max_generations + 1
    assert fired and "max_generations" in fired[0]
    idx = IndexReader.open(spark, d)
    assert _hits(idx, "wombat") == {int(pages.iloc[i].doc_id) for i in range(10)}
    # post-compact, once under threshold the policy stays quiet
    if len(idx.manifest["generations"]) <= policy.max_generations:
        assert should_compact(d, policy) is None


def test_auto_compact_tombstone_trigger(spark, base_index):
    """Replacing >25% of the corpus in micro-batches trips the
    tombstone-fraction trigger even while generation count is small."""
    from share_spark.streaming.incremental import (
        CompactionPolicy,
        maybe_compact,
    )

    d, pages = base_index
    policy = CompactionPolicy(max_generations=100, max_tombstone_frac=0.25)
    changed = pages.iloc[: len(pages) // 2].copy()
    changed["text"] = "replacement armadillo corpus"
    changed["html"] = None
    apply_incremental(spark, d, spark.createDataFrame(changed), CFG)
    m = maybe_compact(spark, d, policy, CFG)
    assert m is not None and "tombstone fraction" in m["compacted_because"]
    idx = IndexReader.open(spark, d)
    assert idx.manifest["generations"] == [0]
    assert len(_hits(idx, "armadillo")) == len(changed)


def test_streaming_auto_compact_multibatch(spark, base_index, tmp_path):
    """watch_incremental with a policy: one file per micro-batch, several
    batches, auto-compact keeps generations bounded while every batch's
    content stays searchable."""
    from share_spark.streaming.incremental import CompactionPolicy

    d, pages = base_index
    stream_dir = str(tmp_path / "stream_multi")
    ckpt = str(tmp_path / "ckpt_multi")
    sdf = None
    for i in range(6):
        new = pages.iloc[[i]].copy()
        new["text"] = f"streamed cassowary batch{i}"
        new["html"] = None
        sdf = spark.createDataFrame(new)
        sdf.coalesce(1).write.mode("append").parquet(stream_dir)
    q = watch_incremental(
        spark, stream_dir, d, ckpt, CFG, schema=sdf.schema,
        compaction=CompactionPolicy(max_generations=2, max_tombstone_frac=1e9),
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    idx = IndexReader.open(spark, d)
    assert len(idx.manifest["generations"]) <= 3
    assert _hits(idx, "cassowary") == {
        int(pages.iloc[i].doc_id) for i in range(6)
    }
