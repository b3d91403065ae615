"""Sloppy phrases (`"a b"~N` — the simple_query_string SLOP flag).

Engine semantics, pinned here against a greedy frozen-oracle twin: IN-ORDER
window match — the phrase terms appear in order at positions p1<..<pn with
pn-p1 <= len-1+slop (Lucene span_near(in_order=true); documented deviation
from sloppy PhraseQuery, which also admits transpositions). `~0` and no
tilde are the existing exact-adjacency match. All four execution paths must
agree exactly.
"""

import pytest

from share_spark.query.bm25 import exact_topk, parse_query
from share_spark.query.serve import TopKServer
from share_spark.query.wand import wand_topk

from .frozen_bm25 import FrozenIndex

QUERIES = [
    '"dangerous repulsive"~1',   # gap of one token inside phrase B
    '"dangerous repulsive"',     # exact: still no match anywhere
    '"nothing is here"~1',       # skips "valued" inside phrase A
    '"nothing is here"',         # exact control: no match
    '"warning about danger"',    # exact adjacency unchanged
    '"warning danger"~1 the',    # slop phrase AND a scoring term
    'the -"dangerous repulsive"~1',  # negated sloppy phrase
    '"place of honor"~0',        # explicit ~0 == exact
    '"danger warning"~9',        # out of order: in-order semantics -> empty
]


def _has_sloppy(tokens, ph, slop):
    """Greedy twin: for each start, taking the SMALLEST valid next position
    minimizes the final position, so feasibility for a fixed p1 is exact."""
    pos = {t: [i for i, x in enumerate(tokens) if x == t] for t in set(ph)}
    if any(not pos[t] for t in ph):
        return False
    window = len(ph) - 1 + slop
    for p1 in pos[ph[0]]:
        p, ok = p1, True
        for t in ph[1:]:
            nxt = [q for q in pos[t] if q > p]
            if not nxt:
                ok = False
                break
            p = min(nxt)
        if ok and p - p1 <= window:
            return True
    return False


@pytest.fixture(scope="module")
def frozen(pages_pdf):
    return FrozenIndex.from_pages(pages_pdf)


def oracle_topk(fz: FrozenIndex, qtext: str, k: int = 13):
    pq = parse_query(qtext, fz.analyzer)
    rows = []
    for d, toks in fz.tokens.items():
        if any(
            not _has_sloppy(toks, ph, pq.slop_of(i))
            for i, ph in enumerate(pq.phrases)
        ):
            continue
        if any(
            _has_sloppy(toks, ph, pq.neg_slop_of(i))
            for i, ph in enumerate(pq.neg_phrases)
        ):
            continue
        if any(t in fz.tf[d] for t in pq.neg_terms):
            continue
        s = fz.score(d, list(pq.terms))
        if s == float("-inf"):
            continue
        rows.append((d, s))
    rows.sort(key=lambda x: (-x[1], x[0]))
    return [(i + 1, d, round(s, 9)) for i, (d, s) in enumerate(rows[:k])]


def _rows(df):
    return [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in df.collect()]


@pytest.mark.parametrize("qtext", QUERIES)
def test_exact_slop_matches_oracle(built_index, frozen, qtext):
    assert _rows(exact_topk(built_index, qtext, k=13)) == oracle_topk(
        frozen, qtext
    )


@pytest.mark.parametrize("qtext", QUERIES)
def test_wand_slop_matches_oracle(built_index, frozen, past_one_open, qtext):
    want = oracle_topk(frozen, qtext)
    for exchange in (False, True):  # the driver and the Spark exchange
        with past_one_open(exchange):
            assert _rows(wand_topk(built_index, qtext, k=13)) == want, exchange


@pytest.fixture(scope="module")
def server(built_index):
    return TopKServer.open(built_index.index_dir)


@pytest.mark.parametrize("qtext", QUERIES)
def test_serve_slop_matches_oracle(server, frozen, qtext):
    want = [(d, s) for _, d, s in oracle_topk(frozen, qtext)]
    got = [(d, round(s, 9)) for d, s, _ in server.topk(qtext, k=13)]
    assert got == want


def test_slop_strictly_widens(built_index):
    """~1 must be a superset of exact, and monotone in slop."""
    exact = {r["doc_id"] for r in exact_topk(built_index, '"warning about danger"', k=100).collect()}
    s1 = {r["doc_id"] for r in exact_topk(built_index, '"warning about danger"~1', k=100).collect()}
    s3 = {r["doc_id"] for r in exact_topk(built_index, '"warning about danger"~3', k=100).collect()}
    assert exact <= s1 <= s3 and exact  # B-class docs present


def test_parse_slop_shapes():
    pq = parse_query('"a b"~2 -"c d"~1 "e f" plain')
    assert pq.phrases == (("a", "b"), ("e", "f"))
    assert pq.phrase_slops == (2, 0)
    assert pq.neg_phrases == (("c", "d"),)
    assert pq.neg_phrase_slops == (1,)
    assert pq.slop_of(0) == 2 and pq.slop_of(1) == 0
    # slop-less ParsedQuery defaults still answer 0
    assert parse_query('"a b"').slop_of(0) == 0


# ---- property fuzz of the kernel DP (no Spark: pure numpy) ----------------

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from share_spark.query.wand import _phrase_mask, _sloppy_phrase_mask

ALPHA = ["a", "b", "c", "d"]


def _kernel_lists(docs):
    """Build the kernel's term -> (ids, tfs, dls, pos_flat) shape."""
    terms = {}
    for d in sorted(docs):
        pos = {}
        for i, t in enumerate(docs[d]):
            pos.setdefault(t, []).append(i)
        for t, ps in pos.items():
            ids, tfs, flat = terms.setdefault(t, ([], [], []))
            ids.append(d)
            tfs.append(len(ps))
            flat.extend(ps)
    return {
        t: (
            np.asarray(ids, dtype=np.int64),
            np.asarray(tfs, dtype=np.int64),
            np.full(len(ids), 30.0),
            np.asarray(flat, dtype=np.int64),
        )
        for t, (ids, tfs, flat) in terms.items()
    }


@settings(max_examples=300, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(ALPHA), min_size=1, max_size=30),
        min_size=1,
        max_size=6,
    ),
    phrase=st.lists(st.sampled_from(ALPHA), min_size=2, max_size=4),
    slop=st.integers(min_value=0, max_value=4),
)
def test_sloppy_mask_fuzz(docs, phrase, slop):
    docs = {i: toks for i, toks in enumerate(docs)}
    lists = _kernel_lists(docs)
    cand = np.asarray(sorted(docs), dtype=np.int64)
    P = np.int64(30 + len(phrase) + 2)
    got = _phrase_mask(cand, lists, tuple(phrase), P, slop)
    want = np.asarray(
        [_has_sloppy(docs[int(d)], tuple(phrase), slop) for d in cand]
    )
    assert got.tolist() == want.tolist(), (docs, phrase, slop)
    if slop == 0:
        # the DP at slop=0 must agree with the exact-adjacency fast path
        dp = _sloppy_phrase_mask(cand, lists, tuple(phrase), P, 0)
        assert dp.tolist() == got.tolist()
