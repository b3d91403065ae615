"""Property-based rank-identity fuzz: hundreds of generated queries against
the frozen pure-Python BM25 oracle (SURVEY.md §5 item iii), via the serving
tier (millisecond per query — no Spark job per example, so hypothesis can
afford real breadth: term combos, phrases lifted from real documents,
negations, unknown terms, offset paging).

The Spark paths (exact/WAND) are pinned to the same oracle by
test_bm25_rank_identity.py and to the serve tier by the shared-kernel
tests; this file widens the QUERY SPACE coverage of that identity."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from share_spark.query.serve import TopKServer
from tests.frozen_bm25 import FrozenIndex

SCORE_TOL = 1e-9


@pytest.fixture(scope="module")
def frozen(pages_pdf):
    return FrozenIndex.from_pages(pages_pdf)


@pytest.fixture(scope="module")
def server(built_index):
    return TopKServer.open(built_index.index_dir)


def _vocab(frozen):
    # mix of head, torso and tail terms, plus tokens not in the corpus
    ranked = [t for t, _ in frozen.df.most_common()]
    picks = ranked[:8] + ranked[20:28] + ranked[-8:]
    return sorted(set(picks)) + ["zzzunknownzzz", "qqmissing"]


@st.composite
def queries(draw, frozen):
    vocab = _vocab(frozen)
    terms = draw(st.lists(st.sampled_from(vocab), min_size=1, max_size=3))
    parts = list(terms)
    if draw(st.booleans()):
        parts.append("-" + draw(st.sampled_from(vocab)))
    if draw(st.integers(0, 2)) == 0:
        # phrase lifted from a real document's token stream (often matches)
        doc_ids = sorted(frozen.tokens)
        toks = frozen.tokens[doc_ids[draw(st.integers(0, len(doc_ids) - 1))]]
        if len(toks) >= 3:
            start = draw(st.integers(0, len(toks) - 3))
            ln = draw(st.integers(2, 3))
            parts.append('"' + " ".join(toks[start : start + ln]) + '"')
    k = draw(st.integers(1, 25))
    offset = draw(st.sampled_from([0, 0, 0, 3, 10]))
    return " ".join(parts), k, offset


def _check(srv, frozen, q, k, offset):
    got = srv.topk(q, k=k, offset=offset)
    want = frozen.topk(q, k=offset + k)[offset:]
    assert [(r, d) for d, _s, r in got] == [(r, d) for r, d, _s in want], (
        q, k, offset, got, want
    )
    for (_d, gs, _r), (_r2, _d2, ws) in zip(got, want):
        assert abs(gs - ws) < SCORE_TOL, (q, gs, ws)


@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_serve_rank_identity_fuzz(server, frozen, data):
    q, k, offset = data.draw(queries(frozen))
    _check(server, frozen, q, k, offset)
