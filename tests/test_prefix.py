"""Prefix queries (`dang*` — the simple_query_string PREFIX flag, enabled
by default in ES; elastic8.py:242-257 passes the query through unchanged).

Semantics under test, pinned against the frozen oracle: a positive prefix
clause is a required membership constraint (doc contains >=1 term with the
prefix) scored as a CONSTANT +1.0 (Lucene constant-score multi-term
rewrite); a negative clause excludes. All three execution paths — exact,
WAND (both transports), serve — must be rank- AND score-identical.
"""

import pytest

from share_spark.query import serve
from share_spark.query.bm25 import (
    PREFIX_SCORE,
    exact_topk,
    parse_query,
)
from share_spark.query.serve import TopKServer
from share_spark.query.wand import match_docs, wand_topk

from .frozen_bm25 import FrozenIndex

QUERIES = [
    "danger*",                          # prefix-only
    "warning danger*",                  # term + prefix
    "w003* the",                        # wide expansion (100 vocab terms)
    "the -danger*",                     # negative prefix
    '"nothing valued is here" plac*',   # phrase + prefix
    "danger* repulsive*",               # two prefix clauses
    "zzznope* the",                     # zero-expansion prefix -> empty
    "danger* -warning",                 # prefix-only with negated term
    'danger* -"repulsive to us"',       # prefix-only with negated phrase
]


@pytest.fixture(scope="module")
def frozen(pages_pdf):
    return FrozenIndex.from_pages(pages_pdf)


def oracle_topk(fz: FrozenIndex, qtext: str, k: int = 13):
    """Prefix-aware exact oracle built on the frozen index's primitives."""
    pq = parse_query(qtext, fz.analyzer)
    rows = []
    for d, cnt in fz.tf.items():
        toks = set(cnt)
        if any(not any(t.startswith(p) for t in toks) for p in pq.prefixes):
            continue
        if any(any(t.startswith(p) for t in toks) for p in pq.neg_prefixes):
            continue
        if any(t in toks for t in pq.neg_terms):
            continue
        if any(not fz._has_phrase(d, ph) for ph in pq.phrases):
            continue
        if any(fz._has_phrase(d, ph) for ph in pq.neg_phrases):
            continue
        s = fz.score(d, list(pq.terms)) if pq.terms else 0.0
        if s == float("-inf"):
            continue
        rows.append((d, s + PREFIX_SCORE * len(pq.prefixes)))
    rows.sort(key=lambda x: (-x[1], x[0]))
    return [(i + 1, d, round(s, 9)) for i, (d, s) in enumerate(rows[:k])]


def _rows(df):
    return [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in df.collect()]


@pytest.mark.parametrize("qtext", QUERIES)
def test_exact_prefix_matches_oracle(built_index, frozen, qtext):
    assert _rows(exact_topk(built_index, qtext, k=13)) == oracle_topk(
        frozen, qtext
    )


@pytest.mark.parametrize("qtext", QUERIES)
def test_wand_prefix_matches_oracle(built_index, frozen, past_one_open, qtext):
    want = oracle_topk(frozen, qtext)
    for exchange in (False, True):  # the driver and the Spark exchange
        with past_one_open(exchange):
            assert _rows(wand_topk(built_index, qtext, k=13)) == want, exchange


@pytest.fixture(scope="module")
def server(built_index):
    return TopKServer.open(built_index.index_dir)


@pytest.mark.parametrize("qtext", QUERIES)
def test_serve_prefix_matches_oracle(server, frozen, qtext):
    want = [(d, s) for _, d, s in oracle_topk(frozen, qtext)]
    got = [(d, round(s, 9)) for d, s, _ in server.topk(qtext, k=13)]
    assert got == want


def test_match_docs_prefix(built_index, frozen):
    got = {r["doc_id"] for r in match_docs(built_index, "danger*").collect()}
    want = {
        d
        for d, cnt in frozen.tf.items()
        if any(t.startswith("danger") for t in cnt)
    }
    assert got == want and got  # non-empty: B and C phrase classes
    # negations subtract from a prefix-only match set too
    got_neg = {
        r["doc_id"]
        for r in match_docs(built_index, "danger* -warning").collect()
    }
    assert got_neg == {d for d in want if "warning" not in frozen.tf[d]}
    assert got_neg and got_neg < got  # C-class survives, B-class drops


def test_prefix_paging(built_index, frozen):
    full = oracle_topk(frozen, "danger*", k=20)
    page2 = _rows(exact_topk(built_index, "danger*", k=5, offset=5))
    assert page2 == full[5:10]
    page2w = _rows(wand_topk(built_index, "danger*", k=5, offset=5))
    assert page2w == full[5:10]


@pytest.mark.parametrize("qtext", ["*", "-danger* -warning", "  "])
def test_degenerate_queries_raise(built_index, server, qtext):
    with pytest.raises(ValueError, match="no positive terms"):
        exact_topk(built_index, qtext)
    with pytest.raises(ValueError, match="no positive terms"):
        wand_topk(built_index, qtext)
    with pytest.raises(ValueError, match="no positive terms"):
        server.topk(qtext)


def test_serve_expansion_cap(built_index, monkeypatch):
    srv = TopKServer.open(built_index.index_dir)
    monkeypatch.setattr(serve, "MAX_PREFIX_EXPANSIONS", 5)
    with pytest.raises(ValueError, match="expands to more than 5"):
        srv.topk("w0*", k=5)


def test_parse_prefix_shapes():
    pq = parse_query('alpha* -beta* "a phrase" -neg plain')
    assert pq.prefixes == ("alpha",)
    assert pq.neg_prefixes == ("beta",)
    assert pq.terms == ("a", "phrase", "plain")
    assert pq.neg_terms == ("neg",)
    # a bare '*' is not a clause; trailing '**' collapses
    assert parse_query("* plain").prefixes == ()
    assert parse_query("alpha** plain").prefixes == ("alpha",)
