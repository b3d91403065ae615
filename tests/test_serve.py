"""Serving tier: rank identity vs the exact scorer, snapshot visibility."""

import pytest

from share_spark.corpus import make_queries
from share_spark.query.bm25 import exact_topk
from share_spark.query.serve import TopKServer


def _x(df):
    return [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def _s(rows):
    return [(rk, d, round(s, 9)) for d, s, rk in rows]


def test_serve_rank_identity_query_set(built_index):
    srv = TopKServer.open(built_index.index_dir)
    for q in make_queries(25):
        got = _s(srv.topk(q["query_text"], k=q["k"]))
        want = _x(exact_topk(built_index, q["query_text"], k=q["k"]))
        assert got == want, q


@pytest.mark.parametrize(
    "qtext",
    [
        '"nothing valued is here"',
        '"nothing valued here"',
        "danger -warning",
        'danger -"warning about danger"',
        "the data science",
    ],
)
def test_serve_phrases_and_negation(built_index, qtext):
    srv = TopKServer.open(built_index.index_dir)
    got = _s(srv.topk(qtext, k=13))
    want = _x(exact_topk(built_index, qtext, k=13))
    assert got == want


def test_serve_offset(built_index):
    srv = TopKServer.open(built_index.index_dir)
    full = _s(srv.topk("the data", k=30))
    page = _s(srv.topk("the data", k=10, offset=10))
    assert [d for _, d, _ in page] == [d for _, d, _ in full[10:20]]


def test_serve_sees_incremental_updates(spark, pages_pdf, tmp_path):
    """A new generation + tombstones written AFTER the server opened are
    visible after refresh()."""
    from share_spark.index.build import IndexConfig, IndexReader, build_index
    from share_spark.streaming.incremental import apply_incremental

    idx_dir = str(tmp_path / "idx")
    cfg = IndexConfig(block_size=32, chunk_docs=64)
    build_index(spark, spark.createDataFrame(pages_pdf), idx_dir, cfg)
    srv = TopKServer.open(idx_dir)
    before = _s(srv.topk("danger", k=13))
    assert before

    # replace the current top hit with a doc that no longer matches
    top_doc = before[0][1]
    changed = pages_pdf[pages_pdf.doc_id == top_doc].copy()
    changed["text"] = "completely unrelated replacement text"
    changed["html"] = None
    apply_incremental(spark, idx_dir, spark.createDataFrame(changed), cfg)

    srv.refresh()
    after = _s(srv.topk("danger", k=13))
    assert top_doc not in [d for _, d, _ in after]
    want = _x(exact_topk(IndexReader.open(spark, idx_dir), "danger", k=13))
    assert after == want


def test_server_serves_its_snapshot_until_refresh(spark, pages_pdf, tmp_path):
    """A re-crawl commits a new generation and the tombstone of the doc's
    old copy in one manifest swap. A server opened before it keeps serving
    its snapshot, the re-crawled doc on its old page included, until
    refresh(); it never sees the tombstone without the generation that
    replaces the doc. A refresh() taken while clients query swaps the
    snapshot whole: every page is the old snapshot's or the new one's, and
    afterwards every page equals exact_topk on a freshly opened reader (no
    cache fill from the old snapshot outlives the swap)."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from share_spark.index.build import IndexConfig, IndexReader, build_index
    from share_spark.streaming.incremental import apply_incremental

    idx_dir = str(tmp_path / "idx")
    cfg = IndexConfig(block_size=32, chunk_docs=64)
    build_index(spark, spark.createDataFrame(pages_pdf), idx_dir, cfg)
    srv = TopKServer.open(idx_dir)
    queries = ["danger", "warning danger", "the"]
    old = {q: _s(srv.topk(q, k=300)) for q in queries}
    top_doc = old["danger"][0][1]

    # re-crawl the top hit with text that still holds the query term
    changed = pages_pdf[pages_pdf.doc_id == top_doc].copy()
    changed["text"] = "a changed page that still warns of danger"
    changed["html"] = None
    apply_incremental(spark, idx_dir, spark.createDataFrame(changed), cfg)
    fresh = IndexReader.open(spark, idx_dir)
    want = {q: _x(exact_topk(fresh, q, k=300)) for q in queries}
    assert top_doc in [d for _, d, _ in want["danger"]]
    assert want["danger"] != old["danger"]

    assert {q: _s(srv.topk(q, k=300)) for q in queries} == old
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = [
                pool.submit(lambda q=q: (q, _s(srv.topk(q, k=300))))
                for q in queries * 16
            ]
            srv.refresh()
            pages = [f.result(timeout=120) for f in futs]
    finally:
        sys.setswitchinterval(interval)
    for q, page in pages:
        assert page in (old[q], want[q]), q
    assert {q: _s(srv.topk(q, k=300)) for q in queries} == want


def test_serve_cache_lru_byte_bounded(built_index):
    """Cache hygiene: insert more decoded terms than the byte budget admits.
    (a) a repeatedly-hit hot term survives (true LRU, not FIFO), (b) resident
    bytes stay <= budget after every query, (c) results after eviction are
    rank-identical to the exact scorer (re-decode, not corruption)."""
    from share_spark.query.serve import _entry_nbytes

    srv = TopKServer.open(built_index.index_dir)
    baseline = _s(srv.topk("danger", k=13))
    # budget: the hot term + one more typical entry, not the whole vocab
    hot_size = _entry_nbytes(srv._term_cache["danger"])
    srv.max_cache_bytes = int(hot_size * 3)
    srv._evict(protect=set())

    fillers = ["the", "data", "table", "merge", "window", "batch", "row",
               "fast", "slow", "value", "hash", "scan", "science", "key"]
    for i, t in enumerate(fillers):
        srv.topk(t, k=5)
        srv.topk("danger", k=5)  # keep the hot term recent
        assert srv._term_cache_nbytes <= srv.max_cache_bytes
        if i >= 3:
            assert "danger" in srv._term_cache  # survives under pressure
    # accounting invariant: tracked bytes == actual bytes
    assert srv._term_cache_nbytes == sum(
        _entry_nbytes(e) for e in srv._term_cache.values()
    )
    assert len(srv._term_cache) < len(fillers) + 1  # something was evicted
    # (c) rank identity after heavy eviction, incl. a term long since evicted
    assert _s(srv.topk("danger", k=13)) == baseline
    want = _x(exact_topk(built_index, "the data", k=13))
    assert _s(srv.topk("the data", k=13)) == want


def test_warmup_preloads_top_df_terms(built_index):
    """warmup(preload_top_terms=N) decodes the N highest-df terms into
    the cache at startup; a subsequent head-term query touches no row
    groups, and results stay rank-identical to the exact scorer."""
    srv = TopKServer.open(built_index.index_dir)
    srv.warmup(preload_top_terms=8)
    assert len(srv._term_cache) >= 8
    # the cached set must be the df-top terms of the corpus
    import pyarrow.dataset as pads
    import os

    stats = (
        pads.dataset(
            os.path.join(built_index.index_dir, "gen0", "term_stats"),
            format="parquet",
        )
        .to_table(columns=["term", "df"])
        .to_pandas()
        .sort_values(["df", "term"], ascending=[False, True])
    )
    top8 = set(stats.head(8)["term"])
    assert top8 <= set(srv._term_cache)
    head = stats.iloc[0]["term"]
    calls = []
    slices = srv._reader.slices
    orig = slices.read
    slices.read = lambda *a, **k: calls.append(a) or orig(*a, **k)
    got = _s(srv.topk(head, k=13))
    # df lookup may hit term_stats, but postings must come from cache
    assert not any("postings" in str(a) for a in calls), calls
    assert got == _x(exact_topk(built_index, head, k=13))


def test_refresh_detects_same_numbered_rebuild(spark, pages_pdf, tmp_path):
    """compact() can land on the same generation list ([0]) with entirely
    new files; refresh must drop caches via the build_id nonce, not keep
    serving the deleted build's bytes through open handles."""
    from share_spark.index.build import IndexConfig, build_index
    from share_spark.streaming.incremental import apply_incremental, compact

    cfg = IndexConfig(block_size=32, chunk_docs=64)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pages_pdf), d, cfg)
    srv = TopKServer.open(d)
    target = srv.topk("danger", k=5)[0][0]
    assert srv.topk("zyzzyva", k=5) == []

    # replace one doc, then compact: generations go [0,1] -> [0] with
    # all-new files under the same numbering
    changed = pages_pdf[pages_pdf.doc_id == target].copy()
    changed["text"] = "zyzzyva replacement content"
    changed["html"] = None
    apply_incremental(spark, d, spark.createDataFrame(changed), cfg)
    compact(spark, d, cfg)

    srv.refresh()
    assert [r[0] for r in srv.topk("zyzzyva", k=5)] == [target]
    assert target not in {r[0] for r in srv.topk("danger", k=50)}


def test_serve_tombstones_collapse_like_the_codec(spark, pages_pdf, tmp_path):
    """A tombstone version holding several rows for one doc collapses
    once in the reader (sorted doc ids, max before_gen): the serve tier's
    snapshot and compaction's block merge (local_tombstone_arrays) see the
    same arrays, and the server drops those docs."""
    import numpy as np

    from share_spark.index.build import (
        TOMBSTONE_SCHEMA,
        IndexConfig,
        IndexReader,
        build_index,
        commit_manifest,
        local_tombstone_arrays,
    )

    idx_dir = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pages_pdf), idx_dir,
                IndexConfig(block_size=32, chunk_docs=64))
    rows = [(40, 1), (7, 3), (40, 5), (7, 2), (12, 1), (40, 4), (3, 9)]
    spark.createDataFrame(rows, TOMBSTONE_SCHEMA).repartition(3).write.parquet(
        str(tmp_path / "idx" / "tombstones_v9")
    )
    commit_manifest(idx_dir, tombstones="tombstones_v9", operation="delete",
                    summary={})
    srv = TopKServer.open(idx_dir)
    tomb = srv._reader.tombstone_arrays()
    want = local_tombstone_arrays(IndexReader.open(None, idx_dir))
    assert [a.tolist() for a in tomb] == [a.tolist() for a in want]
    assert tomb[0].tolist() == [3, 7, 12, 40]
    assert tomb[1].tolist() == [9, 3, 1, 5]
    assert all(a.dtype == np.int64 for a in tomb)
    got = _s(srv.topk("the", k=300))
    assert not {3, 7, 12, 40} & {d for _, d, _ in got}
    assert got == _x(exact_topk(IndexReader.open(spark, idx_dir), "the", k=300))
