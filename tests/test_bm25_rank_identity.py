"""Rank-identity of the engine's BM25 top-k vs the frozen oracle
(BASELINE.json north_rule: matching top-k docIDs AND scores)."""

import pytest

from share_spark.corpus import make_queries
from share_spark.query.bm25 import exact_topk, parse_query
from tests.frozen_bm25 import FrozenIndex

N_QUERIES = 40  # subset of the 200-query reference set, for test runtime
SCORE_TOL = 1e-6  # FIXTURES.md §5


@pytest.fixture(scope="module")
def frozen(pages_pdf):
    return FrozenIndex.from_pages(pages_pdf)


def _assert_rank_identical(got_rows, want, qtext):
    got = [(r["rank"], r["doc_id"], r["score"]) for r in got_rows]
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], (
        f"rank/doc mismatch for {qtext!r}:\n got={got}\nwant={want}"
    )
    for (_, _, gs), (_, _, ws) in zip(got, want):
        assert abs(gs - ws) < SCORE_TOL, f"score drift for {qtext!r}: {gs} vs {ws}"


def test_parse_query_semantics():
    pq = parse_query('danger -warning "nothing valued is here" -"bad phrase"')
    assert pq.terms == ("danger", "nothing", "valued", "is", "here")
    assert pq.neg_terms == ("warning",)
    assert pq.phrases == (("nothing", "valued", "is", "here"),)
    assert pq.neg_phrases == (("bad", "phrase"),)


def test_planted_phrase_semantics(built_index, frozen):
    # parity cases pinned by the reference tests
    # (_common_trovesearch_tests.py:455-474)
    b_or_c = {r["doc_id"] for r in exact_topk(built_index, "danger", k=300).collect()}
    assert b_or_c == {d for d in frozen.tokens if frozen.tf[d].get("danger")}
    assert all(d % 17 in (5, 7) for d in b_or_c)

    a_hits = {
        r["doc_id"]
        for r in exact_topk(built_index, '"nothing valued is here"', k=300).collect()
    }
    assert a_hits and all(d % 17 == 3 for d in a_hits)

    none_hits = exact_topk(built_index, '"nothing valued here"', k=300).collect()
    assert none_hits == []


def test_rank_identity_reference_query_set(built_index, frozen):
    queries = make_queries(N_QUERIES)
    n_nonempty = 0
    for q in queries:
        want = frozen.topk(q["query_text"], k=q["k"])
        got = exact_topk(built_index, q["query_text"], k=q["k"]).collect()
        _assert_rank_identical(got, want, q["query_text"])
        n_nonempty += bool(want)
    assert n_nonempty >= N_QUERIES // 3, "query set too degenerate to be meaningful"


def test_negation(built_index, frozen):
    want = frozen.topk("danger -warning", k=50)
    got = exact_topk(built_index, "danger -warning", k=50).collect()
    _assert_rank_identical(got, want, "danger -warning")
    # C-class docs only (B-class has 'warning')
    assert all(r["doc_id"] % 17 == 7 for r in got)


def test_offset_paging_is_consistent(built_index):
    full = exact_topk(built_index, "the data", k=30).collect()
    page2 = exact_topk(built_index, "the data", k=10, offset=10).collect()
    assert [(r["doc_id"], r["rank"]) for r in page2] == [
        (r["doc_id"], r["rank"]) for r in full[10:20]
    ]


def test_exact_tie_clusters_fold_deterministically(spark, tmp_path, past_one_open):
    """Exact-duplicate docs MUST get bit-identical scores so the doc_id
    tie-break orders them, regardless of shuffle arrival order.

    Regression: exact_topk summed per-term doubles with F.sum (arrival
    order), which at high chunk counts split a tie cluster at the last
    ulp and flipped ranks vs WAND / the frozen oracle (both fold in
    ascending-term order). chunk_docs=4 here spreads each cluster's
    members across many chunks/partitions to maximize order variance.
    """
    from datetime import datetime, timezone

    import pandas as pd

    from share_spark.index.build import IndexConfig, IndexReader, build_index
    from share_spark.query.wand import wand_topk

    # 10 distinct texts x 12 copies; copies interleaved so cluster members
    # land in different chunks. Varying tf/dl per variant, identical within
    # a cluster. Terms span idf magnitudes so addition order matters.
    variants = []
    for v in range(10):
        toks = (
            ["alpha"] * (1 + v % 3)
            + ["beta"] * (1 + v % 2)
            + ["gamma"]
            + ["delta"] * (1 + v % 4)
            + [f"filler{v}x{j}" for j in range(v * 3)]
        )
        variants.append(" ".join(toks))
    ts = datetime(2020, 1, 1, tzinfo=timezone.utc)
    rows = [
        {
            "doc_id": rep * 10 + v,
            "url": f"https://t.example/{rep * 10 + v}",
            "warc_ts": ts,
            "html": None,
            "text": variants[v],
            "lang": "en",
        }
        for rep in range(12)
        for v in range(10)
    ]
    pages = spark.createDataFrame(pd.DataFrame(rows))
    idx_dir = str(tmp_path / "tie_idx")
    build_index(
        spark, pages, idx_dir, IndexConfig(block_size=4, chunk_docs=4)
    )
    index = IndexReader.open(spark, idx_dir)

    q = "alpha beta gamma delta"
    exact = exact_topk(index, q, k=200).collect()
    assert len(exact) == 120
    by_variant = {}
    for r in exact:
        by_variant.setdefault(r["doc_id"] % 10, []).append(r)
    for v, grp in by_variant.items():
        scores = {r["score"] for r in grp}
        assert len(scores) == 1, f"variant {v}: tie cluster split {scores}"
        ranks_sorted = sorted(grp, key=lambda r: r["rank"])
        ids = [r["doc_id"] for r in ranks_sorted]
        assert ids == sorted(ids), f"variant {v}: tie-break not doc_id asc"

    # k=200 holds every cluster whole; k=13 and k=25 end the page inside
    # a 12-doc cluster spread over many chunks, so the pruning threshold
    # sits on a tied score and a chunk whose bound equals it must still
    # be scored
    for k in (200, 13, 25):
        for exchange in (False, True):
            with past_one_open(exchange):
                wand = wand_topk(index, q, k=k).collect()
            assert [(r["rank"], r["doc_id"]) for r in wand] == [
                (r["rank"], r["doc_id"]) for r in exact[:k]
            ], (k, exchange)
            for w, e in zip(wand, exact):
                assert abs(w["score"] - e["score"]) < 1e-9
