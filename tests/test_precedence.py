"""Parenthesized precedence (the simple_query_string PRECEDENCE flag) via
DNF rewrite: 'a (b | c)' == 'a b | a c' by definition, then the existing
`|` branch semantics apply (sum of matching branches). The rewrite happens
before any execution path forks, so exact / WAND / serve identity is
inherited — these tests pin the expansion itself plus end-to-end equality
with the hand-flattened query on every tier."""

import pytest

from share_spark.query.bm25 import (
    MAX_DNF_BRANCHES,
    exact_topk,
    expand_precedence,
    parse_disjunction,
)
from share_spark.query.serve import TopKServer
from share_spark.query.wand import wand_topk

PAIRS = [
    # (parenthesized, hand-flattened equivalent)
    ("warning (danger | place)", "warning danger | warning place"),
    ("(the danger) | (warning place)", "the danger | warning place"),
    ("(danger | warning) (the | nothing)",
     "danger the | danger nothing | warning the | warning nothing"),
    ('the -(danger | warning)', "the -danger -warning"),
    ('("nothing valued is here" | danger) the',
     '"nothing valued is here" the | danger the'),
]


def _norm(branches):
    return [" ".join(b.split()) for b in branches]


def test_expansion_shapes():
    assert _norm(expand_precedence("a (b | c)")) == ["a b", "a c"]
    assert _norm(expand_precedence("a ((b | c) d)")) == ["a b d", "a c d"]
    assert _norm(expand_precedence("x -(a | b)")) == ["x -a -b"]
    assert expand_precedence("no parens here") == ["no parens here"]
    # quotes protect parens and pipes
    assert expand_precedence('"a (b | c" d') == ['"a (b | c" d']


def test_expansion_refusals():
    with pytest.raises(ValueError, match="unbalanced"):
        expand_precedence("a (b")
    with pytest.raises(NotImplementedError, match="negated groups"):
        expand_precedence("-(a b)")
    with pytest.raises(ValueError, match=f"more than {MAX_DNF_BRANCHES}"):
        expand_precedence("(a|b) (c|d) (e|f) (g|h) (i|j)")


def test_parse_disjunction_integration():
    b = parse_disjunction("spark (join | window)")
    assert [x.terms for x in b] == [("spark", "join"), ("spark", "window")]
    # single-branch group keeps the legacy single-parse path (prefixes legal)
    (pq,) = parse_disjunction("(danger* the)")
    assert pq.prefixes == ("danger",) and pq.terms == ("the",)


def _rows(df):
    return [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in df.collect()]


@pytest.mark.parametrize("grouped,flat", PAIRS)
def test_exact_equals_flat(built_index, grouped, flat):
    assert _rows(exact_topk(built_index, grouped, k=13)) == _rows(
        exact_topk(built_index, flat, k=13)
    )


@pytest.mark.parametrize("grouped,flat", PAIRS)
def test_wand_equals_flat_and_exact(built_index, past_one_open, grouped, flat):
    want = _rows(exact_topk(built_index, flat, k=13))
    for exchange in (False, True):  # the driver and the Spark exchange
        with past_one_open(exchange):
            assert _rows(wand_topk(built_index, grouped, k=13)) == want, exchange


@pytest.fixture(scope="module")
def server(built_index):
    return TopKServer.open(built_index.index_dir)


@pytest.mark.parametrize("grouped,flat", PAIRS)
def test_serve_equals_flat(server, built_index, grouped, flat):
    want = [
        (d, round(s, 9))
        for _, d, s in _rows(exact_topk(built_index, flat, k=13))
    ]
    got = [(d, round(s, 9)) for d, s, _ in server.topk(grouped, k=13)]
    assert got == want


# --------------------------------------------------------- generative fuzz

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from .frozen_bm25 import FrozenIndex  # noqa: E402


@pytest.fixture(scope="module")
def frozen(pages_pdf):
    return FrozenIndex.from_pages(pages_pdf)


def _vocab(frozen):
    ranked = [t for t, _ in frozen.df.most_common()]
    return sorted(set(ranked[:10] + ranked[30:40])) + ["zzmissingzz"]


@st.composite
def grouped_queries(draw, frozen):
    """Random conjunction of units where each unit is a term or a group of
    1-3 single-term alternatives; the FLAT equivalent is built by the
    GENERATOR (cartesian product), independently of expand_precedence."""
    vocab = _vocab(frozen)
    units = []
    for _ in range(draw(st.integers(1, 3))):
        if draw(st.booleans()):
            units.append([draw(st.sampled_from(vocab))])
        else:
            units.append(
                draw(
                    st.lists(
                        st.sampled_from(vocab), min_size=1, max_size=3,
                        unique=True,
                    )
                )
            )
    grouped = " ".join(
        u[0] if len(u) == 1 else "(" + " | ".join(u) + ")" for u in units
    )
    flat_branches = [""]
    for u in units:
        flat_branches = [f"{b} {t}".strip() for b in flat_branches for t in u]
    flat = " | ".join(flat_branches)
    neg = draw(st.sampled_from([None] + _vocab(frozen)[:6]))
    if neg and len(flat_branches) == 1:
        grouped += f" -{neg}"
        flat += f" -{neg}"
    return grouped, flat


@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_grouped_equals_generator_flattened_fuzz(server, frozen, data):
    """server.topk(grouped) must equal server.topk(flat) where `flat` was
    cartesian-producted by the TEST GENERATOR — an independent check of
    the DNF rewrite, not a self-comparison."""
    grouped, flat = data.draw(grouped_queries(frozen))
    try:
        got = server.topk(grouped, k=13)
    except ValueError as e:
        # only the documented refusals are acceptable
        assert "branches" in str(e) or "no positive terms" in str(e)
        return
    try:
        want = server.topk(flat, k=13)
    except ValueError:
        return  # e.g. every branch dead -> both must refuse identically
    assert got == want, (grouped, flat)


def test_negated_phrase_survives_grouping():
    """Review regression: '-\"bad phrase\"' next to a group must stay a
    NEGATED phrase through the DNF rewrite, not become a required one."""
    branches = expand_precedence('(a | b) -"bad phrase"')
    assert [" ".join(b.split()) for b in branches] == [
        'a -"bad phrase"', 'b -"bad phrase"',
    ]
    pq = parse_disjunction('(a | b) -"bad phrase"')[0]
    assert pq.neg_phrases == (("bad", "phrase"),) and pq.phrases == ()
    # a '-' glued to a preceding word is NOT a phrase negation
    assert expand_precedence('x- "keep" (a | b)')[0].split()[:2] == [
        "x-", '"keep"',
    ]


def test_empty_group_is_noop():
    """Review regression: 'a ()' must not annihilate the query."""
    assert [" ".join(b.split()) for b in expand_precedence("a ()")] == ["a"]
    (pq,) = parse_disjunction("a () b")
    assert pq.terms == ("a", "b")
    # a query that is ONLY an empty group still refuses accurately
    from share_spark.query.bm25 import validate_branches

    with pytest.raises(ValueError, match="no positive terms"):
        validate_branches(parse_disjunction("()"))


def test_nesting_depth_refusal():
    """Review regression: hostile deep nesting gets the documented
    ValueError, not a RecursionError."""
    deep = "(" * 5000 + "a" + ")" * 5000
    with pytest.raises(ValueError, match="nested too deeply"):
        expand_precedence(deep)
