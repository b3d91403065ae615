"""`|` disjunction (the simple_query_string OR operator).

Semantics pinned against a frozen-oracle twin: the query is a flat
alternation of conjunctive branches; a doc matches when ANY branch's
constraints hold and scores the SUM of its matching branches' BM25 term
sums (Lucene BooleanQuery SHOULD-clause summing). All four execution paths
must be rank- AND score-identical; a dead branch (unknown term) silently
contributes nothing.
"""

import pytest

from share_spark.query.bm25 import (
    exact_topk,
    parse_disjunction,
    parse_query,
    split_disjunction,
)
from share_spark.query.serve import TopKServer
from share_spark.query.wand import match_docs, wand_topk

from .frozen_bm25 import FrozenIndex

QUERIES = [
    "warning | unleashed",                   # disjoint doc classes (B / C)
    "danger | nosuchtermanywhere",           # dead branch contributes nothing
    "nosuch1 | nosuch2",                     # all branches dead -> empty
    "danger warning | danger unleashed",     # overlapping conjunctive branches
    '"nothing valued is here" | unleashed',  # phrase branch
    "the data | science",                    # head terms both sides
    "danger -warning | warning",             # negation scoped to its branch
    "w00001 | w00002 | w00003",              # three branches
    '"dangerous repulsive"~1 | esteemed',    # sloppy-phrase branch
]


@pytest.fixture(scope="module")
def frozen(pages_pdf):
    return FrozenIndex.from_pages(pages_pdf)


def _branch_matches(fz, d, pq):
    if fz.score(d, list(pq.terms)) == float("-inf"):
        return False
    if any(t in fz.tf[d] for t in pq.neg_terms):
        return False

    def sloppy(ph, slop):
        toks = fz.tokens[d]
        pos = {t: [i for i, x in enumerate(toks) if x == t] for t in set(ph)}
        if any(not pos[t] for t in ph):
            return False
        for p1 in pos[ph[0]]:
            p, ok = p1, True
            for t in ph[1:]:
                nxt = [q for q in pos[t] if q > p]
                if not nxt:
                    ok = False
                    break
                p = min(nxt)
            if ok and p - p1 <= len(ph) - 1 + slop:
                return True
        return False

    if any(
        not sloppy(ph, pq.slop_of(i)) for i, ph in enumerate(pq.phrases)
    ):
        return False
    if any(
        sloppy(ph, pq.neg_slop_of(i)) for i, ph in enumerate(pq.neg_phrases)
    ):
        return False
    return True


def oracle_or_topk(fz: FrozenIndex, qtext: str, k: int = 13):
    branches = parse_disjunction(qtext, fz.analyzer)
    rows = []
    for d in fz.tokens:
        total, matched = 0.0, False
        for pq in branches:
            if not pq.terms or not _branch_matches(fz, d, pq):
                continue
            matched = True
            total += fz.score(d, list(pq.terms))
        if matched:
            rows.append((d, total))
    rows.sort(key=lambda x: (-x[1], x[0]))
    return [(i + 1, d, round(s, 9)) for i, (d, s) in enumerate(rows[:k])]


def _rows(df):
    return [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in df.collect()]


@pytest.mark.parametrize("qtext", QUERIES)
def test_exact_or_matches_oracle(built_index, frozen, qtext):
    assert _rows(exact_topk(built_index, qtext, k=13)) == oracle_or_topk(
        frozen, qtext
    )


@pytest.mark.parametrize("qtext", QUERIES)
def test_wand_or_matches_oracle(built_index, frozen, past_one_open, qtext):
    want = oracle_or_topk(frozen, qtext)
    for exchange in (False, True):  # the driver and the Spark exchange
        with past_one_open(exchange):
            assert _rows(wand_topk(built_index, qtext, k=13)) == want, exchange


@pytest.fixture(scope="module")
def server(built_index):
    return TopKServer.open(built_index.index_dir)


@pytest.mark.parametrize("qtext", QUERIES)
def test_serve_or_matches_oracle(server, frozen, qtext):
    want = [(d, s) for _, d, s in oracle_or_topk(frozen, qtext)]
    got = [(d, round(s, 9)) for d, s, _ in server.topk(qtext, k=13)]
    assert got == want


def test_match_docs_or(built_index, frozen):
    got = {
        r["doc_id"]
        for r in match_docs(built_index, "warning | unleashed").collect()
    }
    want = {
        d
        for d in frozen.tokens
        if "warning" in frozen.tf[d] or "unleashed" in frozen.tf[d]
    }
    assert got == want and got


def test_or_score_is_sum_of_matching_branches(built_index, frozen):
    """A doc matching both branches must score the SUM, not the max."""
    both = [
        d
        for d in frozen.tokens
        if "warning" in frozen.tf[d] and "danger" in frozen.tf[d]
    ]
    assert both  # B-class docs carry both words
    got = {
        r["doc_id"]: r["score"]
        for r in exact_topk(built_index, "warning | danger", k=300).collect()
    }
    d = both[0]
    expect = frozen.score(d, ["warning"]) + frozen.score(d, ["danger"])
    assert abs(got[d] - expect) < 1e-9


def test_or_validation(built_index, server):
    for q in ("danger | -warning", "danger |", "|"):
        # a negation-only / empty branch collapses or raises
        pass
    with pytest.raises(ValueError, match="branches"):
        exact_topk(built_index, "danger | -warning")
    with pytest.raises(ValueError, match="branches"):
        wand_topk(built_index, "danger | -warning")
    with pytest.raises(ValueError, match="branches"):
        server.topk("danger | -warning")
    with pytest.raises(NotImplementedError, match="prefix"):
        exact_topk(built_index, "dang* | warning")
    with pytest.raises(NotImplementedError, match="prefix"):
        server.topk("dang* | warning")
    # trailing / doubled separators collapse to a plain query
    a = _rows(exact_topk(built_index, "danger |", k=5))
    b = _rows(exact_topk(built_index, "danger", k=5))
    assert a == b


def test_split_disjunction_respects_quotes():
    assert split_disjunction('a "x | y" | b') == ['a "x | y" ', ' b']
    assert split_disjunction("a|b|c") == ["a", "b", "c"]
    pqs = parse_disjunction('a "x | y" | b')
    assert pqs[0].phrases == (("x", "y"),)
    assert pqs[1].terms == ("b",)
    # single branch stays a plain parse
    assert parse_disjunction("a b") == (parse_query("a b"),)
