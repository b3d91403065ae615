"""Fuzzy queries (`dnag~1` — the simple_query_string FUZZY flag;
elastic8.py:242-257 passes the query string through unchanged, so ES-side
fuzzy syntax reaches Lucene's FuzzyQuery).

Semantics under test, pinned against the frozen oracle: a positive fuzzy
clause is a required membership constraint (doc contains >=1 index term
within Levenshtein distance N of the stem) scored as a CONSTANT +1.0 — the
constant-score analog of Lucene's multi-term rewrite, shared with prefix
clauses; a negative clause excludes. All execution paths — exact, WAND
(both transports), serve — must be rank- AND score-identical,
which requires the distributed (JVM levenshtein) and serve (numpy DP)
expansions to produce the same term set.
"""

import pytest

from share_spark.query import bm25, serve
from share_spark.query.bm25 import (
    MAX_FUZZY_DISTANCE,
    PREFIX_SCORE,
    exact_topk,
    expand_fuzzy,
    parse_query,
)
from share_spark.query.serve import TopKServer, _lev_one as lev
from share_spark.query.wand import match_docs, wand_topk

from .frozen_bm25 import FrozenIndex


QUERIES = [
    "dnger~1",                       # typo-correction, single expansion
    "dnger~",                        # bare ~ -> default distance 2
    "w00031~1",                      # wide expansion (many wNNNNN terms)
    "warning dnger~1",               # term + fuzzy
    "the~2",                         # stem IS a term; expands to siblings
    "the -dnger~1",                  # negative fuzzy
    "dnger~1 wrning~1",              # two fuzzy clauses
    "zzznope~1 the",                 # zero-expansion fuzzy -> empty
    "dnger~1 -warning",              # fuzzy-only with negated term
    'dnger~1 -"repulsive to us"',    # fuzzy-only with negated phrase
    "danger* dnger~1",               # prefix + fuzzy compose
]


@pytest.fixture(scope="module")
def frozen(pages_pdf):
    return FrozenIndex.from_pages(pages_pdf)


def fuzzy_hits(fz: FrozenIndex, toks: set, stem: str, d: int) -> bool:
    return any(
        abs(len(t) - len(stem)) <= d and lev(t, stem) <= d for t in toks
    )


def oracle_topk(fz: FrozenIndex, qtext: str, k: int = 13):
    """Fuzzy/prefix-aware exact oracle on the frozen index's primitives."""
    pq = parse_query(qtext, fz.analyzer)
    rows = []
    for d, cnt in fz.tf.items():
        toks = set(cnt)
        if any(not any(t.startswith(p) for t in toks) for p in pq.prefixes):
            continue
        if any(any(t.startswith(p) for t in toks) for p in pq.neg_prefixes):
            continue
        if any(not fuzzy_hits(fz, toks, s, n) for s, n in pq.fuzzies):
            continue
        if any(fuzzy_hits(fz, toks, s, n) for s, n in pq.neg_fuzzies):
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
        rows.append((d, s + PREFIX_SCORE * pq.const_clauses))
    rows.sort(key=lambda x: (-x[1], x[0]))
    return [(i + 1, d, round(s, 9)) for i, (d, s) in enumerate(rows[:k])]


def _rows(df):
    return [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in df.collect()]


@pytest.mark.parametrize("qtext", QUERIES)
def test_exact_fuzzy_matches_oracle(built_index, frozen, qtext):
    assert _rows(exact_topk(built_index, qtext, k=13)) == oracle_topk(
        frozen, qtext
    )


@pytest.mark.parametrize("qtext", QUERIES)
def test_wand_fuzzy_matches_oracle(built_index, frozen, past_one_open, qtext):
    want = oracle_topk(frozen, qtext)
    for exchange in (False, True):  # the driver and the Spark exchange
        with past_one_open(exchange):
            assert _rows(wand_topk(built_index, qtext, k=13)) == want, exchange


@pytest.fixture(scope="module")
def server(built_index):
    return TopKServer.open(built_index.index_dir)


@pytest.mark.parametrize("qtext", QUERIES)
def test_serve_fuzzy_matches_oracle(server, frozen, qtext):
    want = [(d, s) for _, d, s in oracle_topk(frozen, qtext)]
    got = [(d, round(s, 9)) for d, s, _ in server.topk(qtext, k=13)]
    assert got == want


def test_expansions_agree_across_tiers(built_index, server, frozen):
    """The distributed (JVM levenshtein) and serve (numpy DP) expansions
    must produce the SAME term set — rank identity depends on it."""
    for stem, d in [("dnger", 1), ("w00031", 1), ("the", 2), ("data", 2)]:
        dist = set(expand_fuzzy(built_index, stem, d))
        srv = set(server._expand_fuzzy(stem, d))
        want = {
            t for doc in frozen.tf.values() for t in doc if lev(t, stem) <= d
        }
        assert dist == srv == want


def test_match_docs_fuzzy(built_index, frozen):
    got = {r["doc_id"] for r in match_docs(built_index, "dnger~1").collect()}
    want = {d for d, cnt in frozen.tf.items() if "danger" in cnt}
    assert got == want and got


def test_fuzzy_paging(built_index, frozen):
    full = oracle_topk(frozen, "w00031~1", k=20)
    page2 = _rows(exact_topk(built_index, "w00031~1", k=5, offset=5))
    assert page2 == full[5:10]
    page2w = _rows(wand_topk(built_index, "w00031~1", k=5, offset=5))
    assert page2w == full[5:10]


def test_degenerate_and_refusals(built_index, server, monkeypatch):
    with pytest.raises(ValueError, match="no positive terms"):
        exact_topk(built_index, "-dnger~1")
    with pytest.raises(ValueError, match="fuzzy distance"):
        parse_query(f"word~{MAX_FUZZY_DISTANCE + 1}")
    # expansion caps: consistent refusal on both tiers
    with pytest.raises(ValueError, match="expands to more than 5"):
        expand_fuzzy(built_index, "w00031", 2, max_expansions=5)
    srv = TopKServer.open(built_index.index_dir)
    monkeypatch.setattr(bm25, "MAX_FUZZY_EXPANSIONS", 5)
    with pytest.raises(ValueError, match="expands to more than 5"):
        srv.topk("w00031~2", k=5)
    with pytest.raises(NotImplementedError, match="fuzzy"):
        exact_topk(built_index, "dnger~1 | the")


def test_parse_fuzzy_shapes():
    pq = parse_query('alpha~1 -beta~2 gamma~ "a phrase"~1 delta~0 plain')
    assert pq.fuzzies == (("alpha", 1), ("gamma", 2))
    assert pq.neg_fuzzies == (("beta", 2),)
    # ~0 is exact; quoted ~N is slop, not fuzziness
    assert pq.terms == ("a", "phrase", "delta", "plain")
    assert pq.phrase_slops == (1,)
    # a bare '~' is not a clause
    assert parse_query("~ plain").fuzzies == ()


# --------------------------------------------------------- generative fuzz

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_ALPHA = "abcdefghijklmnopqrstuvwxyz0123456789"


@st.composite
def mutated_stems(draw, frozen):
    """A real vocab word with 0-2 random single-char edits (substitute /
    delete / insert) — the realistic typo distribution — plus a distance."""
    ranked = [t for t, _ in frozen.df.most_common()]
    word = draw(st.sampled_from(ranked[:40]))
    n_edits = draw(st.integers(0, 2))
    w = list(word)
    for _ in range(n_edits):
        op = draw(st.sampled_from(["sub", "del", "ins"]))
        if op == "del" and len(w) > 2:
            del w[draw(st.integers(0, len(w) - 1))]
        elif op == "ins":
            w.insert(
                draw(st.integers(0, len(w))), draw(st.sampled_from(_ALPHA))
            )
        else:
            w[draw(st.integers(0, len(w) - 1))] = draw(
                st.sampled_from(_ALPHA)
            )
    stem = "".join(w)
    dist = draw(st.integers(1, 2))
    extra = draw(st.sampled_from([None] + ranked[:6]))
    q = f"{stem}~{dist}" + (f" {extra}" if extra else "")
    return q


@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_serve_fuzzy_oracle_fuzz(server, frozen, data):
    """Generated typo stems through the serve tier vs the Levenshtein-
    extended frozen oracle — widens the fixed QUERIES list to the real
    typo space (mutations of actual vocabulary)."""
    q = data.draw(mutated_stems(frozen))
    try:
        got = [(d, round(s, 9)) for d, s, _ in server.topk(q, k=13)]
    except ValueError as e:
        assert "expands to more than" in str(e)
        return
    want = [(d, s) for _, d, s in oracle_topk(frozen, q)]
    assert got == want, q


def test_serve_fuzzy_expansion_cache(built_index, monkeypatch):
    srv = TopKServer.open(built_index.index_dir)
    r1 = srv.topk("dnger~1 the", k=5)
    assert ("dnger", 1) in srv._fuzzy_cache
    cached = srv._fuzzy_cache[("dnger", 1)]
    r2 = srv.topk("dnger~1 the", k=5)
    assert r1 == r2 and srv._fuzzy_cache[("dnger", 1)] is cached
    # generation change invalidates (refresh with same gens keeps it)
    srv.refresh()
    assert ("dnger", 1) in srv._fuzzy_cache  # same build -> kept
    # LRU bound holds
    monkeypatch.setattr(serve, "MAX_CACHED_FUZZY_EXPANSIONS", 2)
    srv._expand_fuzzy("wrning", 1)
    srv._expand_fuzzy("plce", 1)
    assert len(srv._fuzzy_cache) <= 2


def test_suggest_both_tiers(built_index, server, frozen):
    """Did-you-mean: serve and distributed suggestions must agree with
    each other and with a python oracle over the frozen vocabulary."""
    for word, d in [("dnger", 2), ("warnin", 2), ("the", 1)]:
        want = sorted(
            (
                (t, lev(t, word), df)
                for t, df in frozen.df.items()
                if lev(t, word) <= d
            ),
            key=lambda x: (x[1], -x[2], x[0]),
        )[:5]
        srv = server.suggest(word, k=5, max_dist=d)
        assert srv == want, (word, srv, want)
        dist = [
            (r["term"], r["distance"], r["df"])
            for r in __import__(
                "share_spark.query.bm25", fromlist=["suggest_terms"]
            ).suggest_terms(built_index, word, k=5, max_dist=d).collect()
        ]
        assert dist == want, (word, dist, want)


def test_suggest_exact_word_ranks_first(server, frozen):
    out = server.suggest("danger", k=3, max_dist=2)
    assert out[0][0] == "danger" and out[0][1] == 0
    with pytest.raises(ValueError, match="one analyzable word"):
        server.suggest("two words")


def test_suggest_uncapped_on_wide_band(built_index, server, monkeypatch):
    """Review regression: suggest must NOT inherit the query path's
    expansion refusal — a dense vocabulary band (w00031~2 expands to
    thousands of wNNNNN terms) still yields the k best suggestions, while
    the query path keeps refusing."""
    srv = TopKServer.open(built_index.index_dir)
    monkeypatch.setattr(bm25, "MAX_FUZZY_EXPANSIONS", 50)
    out = srv.suggest("w00031", k=5, max_dist=2)
    assert len(out) == 5 and out[0] == ("w00031", 0, out[0][2])
    assert all(d <= 2 for _, d, _ in out)
    with pytest.raises(ValueError, match="expands to more than 50"):
        srv.topk("w00031~2", k=5)
