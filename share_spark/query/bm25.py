"""BM25 scoring over the posting-block index.

Semantics parity (SURVEY.md §2.8): Lucene BM25 with k1=1.2, b=0.75 — the
reference never overrides `similarity`; relevance is the default order when
text is present (trovesearch_denorm.py:758-766). idf is the Lucene formula
  idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))
with **global** (not shard-local) df — more deterministic than ES's default.

Query language parity (trovesearch_denorm.py:656-668, search_params.py:51-53,
tests pinned at _common_trovesearch_tests.py:455-474):
- AND of terms (simple_query_string default_operator=AND)
- '"..."' quoted phrases must match in order
- '-' prefix negates a term or phrase
- 'dang*' prefix clauses (the PREFIX flag, on by default in ES): required
  membership, constant-score +1.0 each (Lucene constant-score rewrite)
- '(a | b) c' parenthesized precedence (the PRECEDENCE flag): DNF-rewritten
  to the flat `|` form before parsing ('a c | b c'), branch-sum scoring;
  -(a | b) De Morgans to '-a -b', -(a b) is refused (see expand_precedence)
- the ESCAPE flag ('\\|' etc.) is deliberately NOT implemented: both
  analyzers strip operator characters from terms, so an escaped operator
  could never match anything the index stores — documenting the no-op is
  more honest than parsing it
- 'dnag~1' fuzzy clauses (the FUZZY flag): required membership in the set
  of index terms within Levenshtein edit distance N of the stem (N<=2, the
  Lucene FuzzyQuery bound; bare 'dnag~' defaults to 2), scored as the same
  +1.0 constant — the constant-score analog of Lucene's multi-term rewrite,
  chosen over the blended-frequency rewrite so rank identity across the
  exact/WAND/serve paths holds by construction

The exact scorer below is a pure DataFrame plan (decode UDF -> broadcast idf
join -> JVM-side score expression -> groupBy sum -> top-k); it is the oracle-
checkable path. query/wand.py implements the block-max skipping path that
must produce rank-identical results.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..analysis import tokenize
from ..index.build import FIELD_SEP, IndexReader, decode_blocks


@dataclass(frozen=True)
class ParsedQuery:
    """AND-of-terms + phrases + prefix clauses, with negations (SURVEY.md
    §2.8). A prefix clause (`dang*` — the simple_query_string PREFIX flag,
    on by default in ES) is a required membership constraint scored as a
    CONSTANT (+1.0 per clause), mirroring Lucene's constant-score
    multi-term rewrite; under AND semantics the constant is uniform over
    every result, so ranking is unaffected and rank identity across the
    exact/WAND/serve paths holds by construction."""

    terms: tuple[str, ...]  # positive terms (from bare words AND phrase words)
    phrases: tuple[tuple[str, ...], ...]
    neg_terms: tuple[str, ...]
    neg_phrases: tuple[tuple[str, ...], ...] = field(default_factory=tuple)
    prefixes: tuple[str, ...] = field(default_factory=tuple)
    neg_prefixes: tuple[str, ...] = field(default_factory=tuple)
    # per-phrase slop, aligned with phrases/neg_phrases ('"a b"~2' — the
    # simple_query_string SLOP flag). Semantics: IN-ORDER window match —
    # positions p1<..<pn with pn-p1 <= len-1+slop (Lucene
    # span_near(in_order=true); a documented deviation from sloppy
    # PhraseQuery, which also admits transpositions). slop=0 == exact
    # adjacency. Empty tuple == all zeros (backwards compatible).
    phrase_slops: tuple[int, ...] = field(default_factory=tuple)
    neg_phrase_slops: tuple[int, ...] = field(default_factory=tuple)
    # fuzzy clauses as (stem, max_edit_distance) pairs ('dnag~1'); like
    # prefixes they are membership constraints with a constant score, so
    # they ride the same folded doc-filter channel through every path
    fuzzies: tuple[tuple[str, int], ...] = field(default_factory=tuple)
    neg_fuzzies: tuple[tuple[str, int], ...] = field(default_factory=tuple)

    @property
    def const_clauses(self) -> int:
        """Count of positive constant-score clauses (prefix + fuzzy)."""
        return len(self.prefixes) + len(self.fuzzies)

    def slop_of(self, i: int) -> int:
        return self.phrase_slops[i] if i < len(self.phrase_slops) else 0

    def neg_slop_of(self, i: int) -> int:
        return (
            self.neg_phrase_slops[i] if i < len(self.neg_phrase_slops) else 0
        )


#: Constant score contribution of one matched positive prefix clause
#: (the Lucene CONSTANT_SCORE rewrite analog).
PREFIX_SCORE = 1.0

#: Lucene's LevenshteinAutomata bound — FuzzyQuery rejects distances > 2.
MAX_FUZZY_DISTANCE = 2

#: Hard bound on terms one fuzzy clause may expand to before the query is
#: refused (consistent refusal, never silent truncation — a Lucene-style
#: max_expansions cap would silently change the match set and make the
#: distributed and serve paths diverge unless both truncate identically).
MAX_FUZZY_EXPANSIONS = 1024


_QUERY_TOKEN_RE = re.compile(r'(-?)"([^"]*)"(?:~(\d+))?|(-?)(\S+)')


def parse_query(text: str, analyzer: str = "standard") -> ParsedQuery:
    terms: list[str] = []
    phrases: list[tuple[str, ...]] = []
    neg_terms: list[str] = []
    neg_phrases: list[tuple[str, ...]] = []
    prefixes: list[str] = []
    neg_prefixes: list[str] = []
    phrase_slops: list[int] = []
    neg_phrase_slops: list[int] = []
    fuzzies: list[tuple[str, int]] = []
    neg_fuzzies: list[tuple[str, int]] = []
    for m in _QUERY_TOKEN_RE.finditer(text):
        if m.group(2) is not None:
            toks = tuple(tokenize(m.group(2), analyzer))
            if not toks:
                continue
            slop = int(m.group(3)) if m.group(3) else 0
            if m.group(1) == "-":
                neg_phrases.append(toks)
                neg_phrase_slops.append(slop)
            else:
                phrases.append(toks)
                phrase_slops.append(slop)
                terms.extend(toks)
        else:
            word = m.group(5)
            neg = m.group(4) == "-"
            is_prefix = word.endswith("*") and len(word.rstrip("*")) > 0
            fuzzy_dist = -1
            if not is_prefix:
                fm = re.fullmatch(r"(.+?)~(\d*)", word)
                if fm:
                    # bare 'word~' takes the Lucene FuzzyQuery default (2)
                    fuzzy_dist = int(fm.group(2)) if fm.group(2) else 2
                    if fuzzy_dist > MAX_FUZZY_DISTANCE:
                        raise ValueError(
                            f"fuzzy distance {fuzzy_dist} exceeds the "
                            f"maximum of {MAX_FUZZY_DISTANCE} (Lucene "
                            "FuzzyQuery bound)"
                        )
                    word = fm.group(1)
            toks = tokenize(word.rstrip("*") if is_prefix else word, analyzer)
            if not toks:
                continue
            if is_prefix:
                # the prefix applies to the trailing token; any tokens the
                # analyzer split off before it are plain terms
                head, tail = toks[:-1], toks[-1]
                if neg:
                    neg_terms.extend(head)
                    neg_prefixes.append(tail)
                else:
                    terms.extend(head)
                    prefixes.append(tail)
            elif fuzzy_dist > 0:
                # like prefixes: fuzziness applies to the trailing token
                head, tail = toks[:-1], toks[-1]
                if neg:
                    neg_terms.extend(head)
                    neg_fuzzies.append((tail, fuzzy_dist))
                else:
                    terms.extend(head)
                    fuzzies.append((tail, fuzzy_dist))
            elif neg:
                neg_terms.extend(toks)
            else:
                terms.extend(toks)
    return ParsedQuery(
        tuple(dict.fromkeys(terms)),
        tuple(phrases),
        tuple(dict.fromkeys(neg_terms)),
        tuple(neg_phrases),
        tuple(dict.fromkeys(prefixes)),
        tuple(dict.fromkeys(neg_prefixes)),
        tuple(phrase_slops),
        tuple(neg_phrase_slops),
        tuple(dict.fromkeys(fuzzies)),
        tuple(dict.fromkeys(neg_fuzzies)),
    )


#: Hard bound on the flat branches a parenthesized query may expand to
#: (DNF blowup is exponential in group count; refuse, never truncate).
MAX_DNF_BRANCHES = 16


def _parse_alternatives(text: str, i: int, depth: int):
    """Recursive-descent parse of the PRECEDENCE grammar:
    alternatives := sequence ('|' sequence)*, sequence := unit*,
    unit := quoted | '-'? '(' alternatives ')' | word.
    Returns (list of alternatives, next index); each alternative is a list
    of units — plain text strings, ('g', alts) groups, or ('ng', alts)
    negated groups. Quotes protect all operator characters."""
    alts: list[list] = []
    seq: list = []
    buf: list[str] = []

    def flush_buf():
        tok = "".join(buf).strip()
        buf.clear()
        if tok:
            seq.append(tok)

    if depth > 32:
        raise ValueError("query grouping nested too deeply (max 32 levels)")
    n = len(text)
    while i < n:
        ch = text[i]
        if ch == '"':
            # consume the whole quoted segment (incl. optional ~N slop);
            # a '-' standing alone immediately before the quote negates
            # the phrase — keep it attached instead of flushing it as a
            # detached (and thus meaningless) token
            joined = "".join(buf)
            neg = joined.endswith("-") and (
                len(joined) == 1 or joined[-2].isspace()
            )
            if neg:
                del buf[-1]
            j = text.find('"', i + 1)
            j = n - 1 if j == -1 else j
            end = j + 1
            while end < n and (text[end] == "~" or text[end].isdigit()):
                end += 1
            flush_buf()
            seq.append(("-" if neg else "") + text[i:end])
            i = end
        elif ch == "(" or (
            ch == "-" and i + 1 < n and text[i + 1] == "("
        ):
            neg = ch == "-"
            flush_buf()
            inner, i = _parse_alternatives(text, i + (2 if neg else 1), depth + 1)
            seq.append(("ng" if neg else "g", inner))
        elif ch == ")":
            if depth == 0:
                raise ValueError("unbalanced ')' in query")
            flush_buf()
            alts.append(seq)
            return alts, i + 1
        elif ch == "|":
            flush_buf()
            alts.append(seq)
            seq = []
            i += 1
        else:
            buf.append(ch)
            i += 1
    if depth > 0:
        raise ValueError("unbalanced '(' in query")
    flush_buf()
    alts.append(seq)
    return alts, i


def _expand_alts(alts: list) -> list[str]:
    """DNF expansion: alternatives of sequences of units -> flat branch
    strings. A positive group multiplies the current branch set by its own
    expansion (cartesian product); a negated group is De Morgan'd — legal
    only when every inner branch is a single positive atom, so
    -(a | b) -> '-a -b' appended to each branch, while -(a b) (an OR of
    negations) is refused: it cannot be a conjunctive constraint."""
    branches = [""]
    for alt in alts:
        parts = [""]
        for unit in alt:
            if isinstance(unit, str):
                parts = [f"{p} {unit}" for p in parts]
            elif unit[0] == "g":
                sub = _expand_alts(unit[1])
                if not sub:
                    continue  # empty group '()' is a no-op, not a veto
                parts = [f"{p} {s}" for p in parts for s in sub]
            else:
                sub = _expand_alts(unit[1])
                atoms = []
                for s in sub:
                    words = s.split()
                    if len(words) != 1 or words[0].startswith("-"):
                        raise NotImplementedError(
                            "negated groups support only alternatives of "
                            "single positive atoms (De Morgan: -(a | b) "
                            "== -a -b); rewrite the query"
                        )
                    atoms.append("-" + words[0])
                joined = " ".join(atoms)
                parts = [f"{p} {joined}" for p in parts]
            if len(parts) > MAX_DNF_BRANCHES:
                raise ValueError(
                    f"query expands to more than {MAX_DNF_BRANCHES} "
                    "branches; simplify the grouping"
                )
        branches = [b for b in branches if b.strip()] + [
            p.strip() for p in parts if p.strip()
        ]
        if len(branches) > MAX_DNF_BRANCHES:
            raise ValueError(
                f"query expands to more than {MAX_DNF_BRANCHES} "
                "branches; simplify the grouping"
            )
    return branches


def _has_toplevel_paren(text: str) -> bool:
    in_quote = False
    for ch in text:
        if ch == '"':
            in_quote = not in_quote
        elif ch == "(" and not in_quote:
            return True
    return False


def expand_precedence(text: str) -> list[str]:
    """Parenthesized precedence (the simple_query_string PRECEDENCE flag)
    by DNF rewrite: 'a (b | c)' expands to the flat form 'a b | a c' and
    then follows the existing `|` semantics exactly — a doc matches when
    any expanded branch matches, scoring the SUM of its matching branches'
    scores. Documented deviation from Lucene's nested BooleanQuery (which
    scores shared MUST clauses once, not per matching branch); the result
    is identical to what the user would get writing the expanded query
    themselves, and rank identity across exact/WAND/serve holds because
    the expansion happens before any execution path forks."""
    if not _has_toplevel_paren(text):
        return [text]
    alts, _ = _parse_alternatives(text, 0, 0)
    return _expand_alts(alts)


def split_disjunction(text: str) -> list[str]:
    """Split on the `|` OR operator at top level (quotes protect `|` inside
    phrases). Left-flat alternation, the simple_query_string shape."""
    parts: list[str] = []
    buf: list[str] = []
    in_quote = False
    for ch in text:
        if ch == '"':
            in_quote = not in_quote
        if ch == "|" and not in_quote:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return parts


def parse_disjunction(
    text: str, analyzer: str = "standard"
) -> tuple[ParsedQuery, ...]:
    """Parse `a b | c d` into conjunctive branches (the simple_query_string
    OR operator). Semantics: a doc matches when ANY branch matches; its
    score is the SUM of the matching branches' scores (Lucene BooleanQuery
    SHOULD-clause summing). One branch == plain parse_query. Empty segments
    (doubled or trailing `|`) are dropped."""
    parts = [
        seg
        for flat in expand_precedence(text)
        for seg in split_disjunction(flat)
    ]
    if len(parts) == 1:
        return (parse_query(parts[0], analyzer),)
    branches = []
    for seg in parts:
        pq = parse_query(seg, analyzer)
        if (
            pq.terms
            or pq.neg_terms
            or pq.prefixes
            or pq.neg_prefixes
            or pq.neg_phrases
            or pq.fuzzies
            or pq.neg_fuzzies
        ):
            branches.append(pq)
    return tuple(branches)


def validate_branches(branches: tuple[ParsedQuery, ...]) -> None:
    """The query front end's guards, shared by every path: a query needs a
    positive clause (a term, or a prefix or fuzzy clause in a one-branch
    query; negation alone would mean "everything except", corpus-sized),
    every `|` branch needs a positive term, and prefix and fuzzy clauses
    are single-branch only (a per-branch prefix would need one pushed-down
    filter channel per branch; narrow the query instead)."""
    if not branches:
        raise ValueError("query has no positive terms")
    if len(branches) == 1:
        if not branches[0].terms and not branches[0].const_clauses:
            raise ValueError("query has no positive terms")
        return
    for pq in branches:
        if pq.prefixes or pq.neg_prefixes:
            raise NotImplementedError(
                "prefix clauses are not supported inside | branches"
            )
        if pq.fuzzies or pq.neg_fuzzies:
            raise NotImplementedError(
                "fuzzy clauses are not supported inside | branches"
            )
        if not pq.terms:
            raise ValueError(
                "query has no positive terms in one of its | branches"
            )


def query_terms(
    branches: tuple[ParsedQuery, ...],
) -> tuple[tuple[str, ...], list[str]]:
    """(positive terms, every term the query reads) of `branches`: the
    second is the positive, negated and phrase terms, in first-seen order.
    Prefix and fuzzy expansions are not included."""
    pos = tuple(dict.fromkeys(t for br in branches for t in br.terms))
    neg = (t for br in branches for t in br.neg_terms)
    phrase = (t for br in branches for ph in br.phrases + br.neg_phrases for t in ph)
    return pos, list(dict.fromkeys((*pos, *neg, *phrase)))


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def live_postings(
    index: IndexReader,
    terms: list[str] | None = None,
    term_cond: Column | None = None,
) -> DataFrame:
    """Decoded posting rows for `terms` (or any Column predicate over
    `term` — the prefix-expansion path), with generation-scoped tombstones
    applied: a row survives unless some tombstone has before_gen > row.gen."""
    cond = term_cond if term_cond is not None else F.col("term").isin(terms)
    blocks = index.postings().filter(cond)
    rows = decode_blocks(blocks)
    tomb = index.tombstones()
    if tomb is not None:
        # no broadcast hint: tombstone volume is unbounded between
        # compactions — AQE picks broadcast when the set is actually small,
        # and falls back to a shuffle join instead of OOMing the executors
        # (the WAND path unions the same set into its chunk-keyed block
        # shuffle, wand.py; this exact path is the verification/debug tier)
        rows = rows.join(tomb, "doc_id", "left").filter(
            F.col("before_gen").isNull() | (F.col("gen") >= F.col("before_gen"))
        ).drop("before_gen")
    return rows


def term_idf_df(index: IndexReader, terms: tuple[str, ...]) -> DataFrame:
    """Per-query term statistics lookup — small, broadcast at the join.

    The filter on the sorted `term_stats` parquet prunes row groups via
    min/max stats (north rule: 'broadcast term statistics'; only the query's
    terms are ever read or shipped)."""
    n = index.n_docs
    stats = index.term_stats().filter(F.col("term").isin(list(terms)))
    return stats.select(
        "term",
        "df",
        F.log1p(
            (F.lit(float(n)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        ).alias("idf"),
    )


def positions_rows(index: IndexReader, terms: list[str]) -> DataFrame:
    """Positional postings for `terms` as (term, doc_id, gen, positions) rows
    with generation-scoped tombstones applied — the exact path's view of the
    positional index (decode_blocks with positions as array<long>)."""
    blocks = index.postings().filter(F.col("term").isin(terms))
    rows = decode_blocks(blocks, positions="list").select(
        "term", "doc_id", "gen", "positions"
    )
    tomb = index.tombstones()
    if tomb is not None:
        # un-hinted for the same reason as live_postings: let AQE size it
        rows = rows.join(tomb, "doc_id", "left").filter(
            F.col("before_gen").isNull() | (F.col("gen") >= F.col("before_gen"))
        ).drop("before_gen")
    return rows


def _phrase_filter(index: IndexReader, candidates: DataFrame, pq: ParsedQuery) -> DataFrame:
    """Verify phrases / negated phrases against the POSITIONAL INDEX.

    In-order phrase match: exists p in positions(t0) with p+i in
    positions(ti) for every following phrase term — expressed with
    higher-order array functions (exists / array_contains), JVM-side after
    the vectorized postings decode. No stored-text rescan, no re-tokenize
    (reference semantics pinned at _common_trovesearch_tests.py:455-474).
    """
    if not (pq.phrases or pq.neg_phrases):
        return candidates
    phrase_terms = sorted({t for ph in pq.phrases + pq.neg_phrases for t in ph})
    rows = positions_rows(index, phrase_terms)
    # one live row per (doc, term): latest generation wins (tombstones leave
    # exactly one except in crash windows; max_by keeps it deterministic)
    per_dt = rows.groupBy("doc_id", "term").agg(
        F.max_by("positions", "gen").alias("positions")
    )
    pcols = {t: f"_p{i}" for i, t in enumerate(phrase_terms)}
    per_doc = per_dt.groupBy("doc_id").agg(
        *[
            F.first(
                F.when(F.col("term") == t, F.col("positions")), ignorenulls=True
            ).alias(c)
            for t, c in pcols.items()
        ]
    )
    joined = candidates.join(per_doc, "doc_id", "left")

    def phrase_cond(ph: tuple[str, ...], slop: int = 0):
        present = F.lit(True)
        for t in ph:
            present = present & F.col(pcols[t]).isNotNull()
        rest = ph[1:]

        if slop == 0:

            def check(p):
                c = F.lit(True)
                for i, t in enumerate(rest, start=1):
                    c = c & F.array_contains(F.col(pcols[t]), p + i)
                return c

            return present & F.exists(F.col(pcols[ph[0]]), check)

        # sloppy (in-order window) match: nested exists quantifying one
        # in-order position per term, last position within
        # p1 + len-1 + slop; per-step bound p_i <= p1 + (i-1) + slop
        # prunes each level (any valid chain satisfies it, since the
        # remaining terms need >= len-i more ascending slots)
        def chain(i: int, p1, p_prev):
            t = ph[i]
            bound = p1 + (i + slop)

            def level(p):
                c = (p > p_prev) & (p <= bound)
                if i + 1 < len(ph):
                    return c & chain(i + 1, p1, p)
                return c

            return F.exists(F.col(pcols[t]), level)

        if len(ph) == 1:
            return present  # single-term "phrase": presence is the match
        return present & F.exists(
            F.col(pcols[ph[0]]), lambda p1: chain(1, p1, p1)
        )

    cond = F.lit(True)
    for i, ph in enumerate(pq.phrases):
        cond = cond & phrase_cond(ph, pq.slop_of(i))
    for i, ph in enumerate(pq.neg_phrases):
        cond = cond & ~F.coalesce(
            phrase_cond(ph, pq.neg_slop_of(i)), F.lit(False)
        )
    return joined.filter(cond).drop(*pcols.values())


def expand_fuzzy(
    index: IndexReader,
    stem: str,
    dist: int,
    max_expansions: int = MAX_FUZZY_EXPANSIONS,
) -> tuple[str, ...]:
    """All index terms within Levenshtein distance `dist` of `stem`, from
    the term dictionary (term_stats — tiny next to the postings), sorted.

    Scale shape: the dictionary scan is distributed (length-band prune +
    JVM-side `levenshtein` with an early-exit threshold); only the matched
    terms — hard-capped at `max_expansions`, refusal beyond — ever reach
    the driver, mirroring the north rule's broadcast-term-statistics shape.
    The expanded set then drives row-group-pruned posting reads (isin on
    the term-sorted parquet), which a raw levenshtein predicate over the
    postings could never prune.

    Field-scoped stems ('path\\x1fterm', see fields._prefixed) measure
    distance on the term part only; the namespace prefix must match
    exactly (and prunes the dictionary scan like any prefix).
    """
    ns, _, core = stem.rpartition(FIELD_SEP)
    terms = index.term_stats().select("term").distinct()
    if ns:
        ns = ns + FIELD_SEP
        terms = terms.filter(F.col("term").startswith(ns))
        cand = F.substring(F.col("term"), len(ns) + 1, 1 << 20)
    else:
        cand = F.col("term")
    matched = terms.filter(
        (F.abs(F.length(cand) - F.lit(len(core))) <= dist)
        & (F.levenshtein(cand, F.lit(core), dist) >= 0)
    )
    rows = matched.limit(max_expansions + 1).collect()
    if len(rows) > max_expansions:
        raise ValueError(
            f"fuzzy clause {core!r}~{dist} expands to more than "
            f"{max_expansions} terms; narrow it or lower the distance"
        )
    return tuple(sorted(r["term"] for r in rows))


def suggest_terms(
    index: IndexReader, word: str, k: int = 5, max_dist: int = 2
) -> DataFrame:
    """Did-you-mean suggestions, distributed: (term, distance, df) for the
    top-k dictionary terms within `max_dist` edits of `word`, ranked
    (distance asc, df desc, term asc) — Lucene DirectSpellChecker's
    ordering, same dictionary the fuzzy query path expands over. The
    whole plan is a term_stats scan with the length-band + thresholded
    levenshtein prune; only k rows survive the TakeOrdered."""
    toks = tokenize(word, index.analyzer)
    if len(toks) != 1:
        raise ValueError(f"suggest takes one analyzable word, got {word!r}")
    stem = toks[0]
    stats = index.term_stats().groupBy("term").agg(
        F.sum("df").cast("long").alias("df")
    )
    cand = stats.filter(
        F.abs(F.length("term") - F.lit(len(stem))) <= max_dist
    ).withColumn(
        "distance", F.levenshtein(F.col("term"), F.lit(stem), max_dist)
    ).filter(F.col("distance") >= 0)
    return (
        cand.select("term", F.col("distance").cast("int").alias("distance"), "df")
        .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
        .limit(k)
    )


def prefix_doc_filter(
    index: IndexReader,
    pq: ParsedQuery,
    filter_docs: DataFrame | None = None,
) -> DataFrame | None:
    """Fold the query's prefix AND fuzzy clauses into a doc-id restriction
    DataFrame: a doc passes when it contains >=1 term matching EVERY
    positive clause and no term matching any negative clause.  Returns
    `filter_docs` unchanged (possibly None) when the query has neither.

    Scale shape: each clause is a startswith filter on the posting blocks
    (term-sorted parquet -> row-group min/max pruning), decoded and
    deduplicated distributed; clauses compose as semi/anti joins keyed by
    doc_id and the combined set stays a lazy plan (pushed through the
    WAND chunk-keyed aux channel or an exact-path semi-join — never
    collected). A negative clause with no positive base restricts
    live_docs(), the same corpus-scale semi-join the unlimited
    valuesearch context uses."""
    out = filter_docs.select("doc_id") if filter_docs is not None else None
    pos_conds = [F.col("term").startswith(p) for p in pq.prefixes] + [
        F.col("term").isin(list(expand_fuzzy(index, stem, d)))
        for stem, d in pq.fuzzies
    ]
    neg_conds = [F.col("term").startswith(p) for p in pq.neg_prefixes] + [
        F.col("term").isin(list(expand_fuzzy(index, stem, d)))
        for stem, d in pq.neg_fuzzies
    ]
    for cond in pos_conds:
        s = live_postings(index, term_cond=cond).select("doc_id").distinct()
        out = s if out is None else out.join(s, "doc_id", "left_semi")
    for cond in neg_conds:
        s = live_postings(index, term_cond=cond).select("doc_id").distinct()
        if out is None:
            out = index.live_docs().select("doc_id")
        out = out.join(s, "doc_id", "left_anti")
    return out


def prefix_only_topk(
    index: IndexReader,
    pq: ParsedQuery,
    k: int,
    offset: int,
    filter_docs: DataFrame,
) -> DataFrame:
    """Page a prefix/fuzzy-only query (no scoring terms): every clause is
    constant-score, so all matches tie at PREFIX_SCORE * n_clauses and the
    deterministic doc_id order IS the ranking. `filter_docs` must already
    carry the folded clause restriction (prefix_doc_filter). Shared by the
    exact and WAND entry points — no posting-traversal kernel needed."""
    base = filter_docs
    if pq.neg_terms:
        neg = live_postings(index, list(pq.neg_terms)).select("doc_id").distinct()
        base = base.join(neg, "doc_id", "left_anti")
    base = _phrase_filter(index, base, pq)  # negated phrases still apply
    score = float(PREFIX_SCORE * pq.const_clauses)
    return _rank_page(
        base.select("doc_id", F.lit(score).alias("score")), k, offset
    )


def _rank_page(scored: DataFrame, k: int, offset: int) -> DataFrame:
    """top-(offset+k) then rank the tiny result (TakeOrderedAndProject:
    per-partition heaps + single merge; the window never sees more than
    offset+k rows)."""
    topn = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(offset + k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = topn.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") > offset
    )
    return ranked.select("doc_id", "score", "rank")


def exact_topk(
    index: IndexReader,
    query_text: str,
    k: int = 13,
    offset: int = 0,
    filter_docs: DataFrame | None = None,
) -> DataFrame:
    """Exact BM25 top-k: returns (doc_id, score, rank), rank 1-based.

    AND semantics: a doc must contain every positive term; negated terms and
    phrases filter candidates out; `filter_docs` (doc_id) restricts results
    to that set (semi-join before top-k truncation — full pages guaranteed).
    Prefix clauses (`dang*`) constrain membership and add PREFIX_SCORE each
    (constant-score rewrite — see ParsedQuery). `|` separates conjunctive
    branches: a doc matches when any branch does, scoring the sum of its
    matching branches (BooleanQuery SHOULD summing — see parse_disjunction).
    Tie-break: ascending doc_id (deterministic ordering mirrors the
    reference's pinned orderings, _common_trovesearch_tests.py:330-337).
    """
    branches = parse_disjunction(query_text, index.analyzer)
    validate_branches(branches)
    if len(branches) > 1:
        parts = [
            _branch_scores(index, pqb, filter_docs).withColumn(
                "_b", F.lit(i)
            )
            for i, pqb in enumerate(branches)
        ]
        un = parts[0]
        for p in parts[1:]:
            un = un.unionByName(p)
        # deterministic two-level fold: within a branch the term fold is
        # ascending-term; across branches fold in BRANCH order — the same
        # order the numpy kernel (score_branch_lists) accumulates, so
        # totals are bit-identical across paths
        agg = un.groupBy("doc_id").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("_b", "score"))),
                F.lit(0.0),
                lambda acc, x: acc + x["score"],
            ).alias("score")
        )
        return _rank_page(agg, k, offset)

    pq = branches[0]
    filter_docs = prefix_doc_filter(index, pq, filter_docs)
    prefix_const = PREFIX_SCORE * pq.const_clauses

    if not pq.terms:
        return prefix_only_topk(index, pq, k, offset, filter_docs)
    agg = _branch_scores(index, pq, filter_docs)
    if prefix_const:
        # uniform over all results (AND semantics) — never reorders
        agg = agg.withColumn(
            "score", F.col("score") + F.lit(float(prefix_const))
        )
    return _rank_page(agg, k, offset)


def _branch_scores(
    index: IndexReader, pq: ParsedQuery, filter_docs: DataFrame | None
) -> DataFrame:
    """Untruncated (doc_id, score) for ONE conjunctive branch — the shared
    body of exact_topk and each `|` branch."""
    k1, b, avgdl = index.k1, index.b, index.avgdl

    postings = live_postings(index, list(pq.terms))
    stats = term_idf_df(index, pq.terms)
    scored = postings.join(F.broadcast(stats), "term")
    per_term = scored.withColumn(
        "tscore",
        F.col("idf")
        * (F.col("tf") * (k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
        ),
    )
    # Deterministic accumulation: fold per-term scores in ascending-term
    # order (array_sort on struct(term, ..) orders by term; UTF-8 binary
    # order == code-point order, matching Python's sorted() in the WAND
    # kernel and tests/frozen_bm25.py). A bare F.sum folds doubles in
    # shuffle-arrival order, which can split an exact tie cluster at the
    # last ulp and flip the doc_id tie-break — observed at 12.5k chunks.
    # The list is at most len(pq.terms) entries per doc, so collect_list
    # here is O(query terms), not O(corpus).
    agg = per_term.groupBy("doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "tscore"))),
            F.lit(0.0),
            lambda acc, x: acc + x["tscore"],
        ).alias("score"),
        F.count("*").alias("n_terms_hit"),
    )
    # AND-of-terms (simple_query_string default_operator=AND)
    agg = agg.filter(F.col("n_terms_hit") == len(pq.terms)).drop("n_terms_hit")

    if pq.neg_terms:
        neg_docs = (
            live_postings(index, list(pq.neg_terms)).select("doc_id").distinct()
        )
        agg = agg.join(neg_docs, "doc_id", "left_anti")
    if filter_docs is not None:
        agg = agg.join(filter_docs.select("doc_id"), "doc_id", "left_semi")
    return _phrase_filter(index, agg, pq)
