"""Block-max top-k BM25 — distributed block-max WAND over posting blocks.

How the classic single-node algorithm (Broder et al. WAND; Ding & Suel
block-max WAND) maps onto Spark's execution model:

- Posting blocks are **chunk-aligned** at build time (a block never spans
  doc_id // chunk_docs boundaries), so grouping blocks by `chunk` reunites
  *all* query terms' postings for a doc-id range in one task. Document-at-a-
  time scoring is then safe per chunk — a document's score is never split
  across tasks.
- **Conjunctive pruning** (the reference's AND-of-terms semantics,
  trovesearch_denorm.py:656-668): a chunk survives only if every positive
  term has at least one block in it — a metadata-only aggregation, no
  posting bytes decoded.
- **Block-max pruning**: each chunk's score upper bound is
  sum_t idf(t) * max over t's blocks of impact(max_tf, min_dl, avgdl_query),
  from block metadata only; idf is computed on the driver from a read of
  the query terms' term_stats rows (row-group pruned, no Spark job) and
  reaches the kernel in its closure.
  The bound is computed with the QUERY-TIME global avgdl from stored
  (max_tf, min_dl) — impact is increasing in tf and decreasing in dl, so it
  upper-bounds every posting in the block regardless of how later
  generations move avgdl (a build-time max_impact would go stale and prune
  true top-k docs once global avgdl exceeds a generation's own).
  Pruning runs inside the one chunk pass (_chunk_pass), as in Koios-style
  candidate pruning within the scoring scan: the pass computes every
  chunk's bound in one vectorized step, visits chunks in descending bound
  order, and stops at the first whose bound is below tau, the n_keep-th
  best score seen so far. No separate bounds job exists.
- **Phrases are an index operation**: positional postings (pos_bin runs)
  are decoded only for phrase terms; in-order matching is a vectorized
  key-intersection (doc_rank * P + position), never a stored-text rescan
  (the reference pins phrase semantics at
  _common_trovesearch_tests.py:455-474).
- **Tombstones and structured filters ride with the blocks**: both are
  rows keyed by chunk = doc_id // chunk_docs (marked by a non-null `kind`),
  unioned into the posting-block slice, so they reach the chunk's kernel
  by the same route as its blocks, and are applied inside the kernel
  BEFORE local top-n truncation. Tombstones arrive as the version's raw
  rows and collapse per chunk in the kernel (no aggregate in the plan). The
  driver loads them, collapsed once per IndexReader, only when they fit in
  a slice no larger than one file open; larger sets stay in Spark (10^8
  tombstones between compactions would be a driver OOM). No overfetch
  heuristics for filtered queries — the kernel sees the exact allowed-doc
  set for its chunk.
- Job economy: two transports. When no filter frame rides along and the
  bytes the driver reads (the whole-list columns of its terms' row groups
  in the term-sorted serve copy plus the tombstone version, sized from
  footers, term dictionaries and a listing cached per reader) are no
  larger than spark.sql.files.openCostInBytes, the driver decodes each
  term's whole list and scores them in-process (evaluate_lists, the serve
  tier's evaluator too): no Spark job at all, decided before any Spark
  frame is built. Otherwise Spark runs one shape, the chunk exchange (see
  _run_chunks): one scoring job, each task running the chunk pass with
  its own tau. The driver collects <= offset+k scored rows, from the
  job's orderBy/limit.
- Within a chunk, scoring is numpy-vectorized: sorted-array intersection for
  AND semantics, searchsorted gathers, BM25 per term in sorted-term order
  (deterministic float accumulation, matching tests/frozen_bm25.py).

Rank identity vs the exact scorer (query/bm25.py) is asserted by
tests/test_wand.py; tie-break is ascending doc_id throughout.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index.build import IndexReader
from ..index.codec import (
    collapse_tombstones,
    gather_groups,
    live_list,
    term_lists,
)
from .bm25 import (
    PREFIX_SCORE,
    ParsedQuery,
    parse_disjunction,
    prefix_doc_filter,
    prefix_only_topk,
    query_terms,
    validate_branches,
)

CHUNK_SCORES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ]
)


def _local_result(spark, page) -> DataFrame:
    """Local top-k page -> DataFrame as a true LocalRelation. The page goes
    in as a pyarrow Table, which createDataFrame embeds in the plan at any
    row count, so collecting it starts no Spark job. A plain Python list
    parallelizes into an RDD-backed frame whose every action launches a
    real job (~0.3 s of scheduler overhead per query for 13 rows); a pandas
    frame takes the Arrow path only when it has rows, so an empty page fell
    back to that list."""
    cols = list(zip(*page)) or [(), (), ()]
    tbl = pa.table(
        [
            pa.array(cols[0], pa.int64()),
            pa.array(cols[1], pa.float64()),
            pa.array(cols[2], pa.int32()),
        ],
        names=["doc_id", "score", "rank"],
    )
    return spark.createDataFrame(tbl, schema=RESULT_SCHEMA)


def term_idfs(n_docs: int, dfs: dict[str, int]) -> dict[str, float]:
    """BM25 idf, log1p((N - df + 0.5) / (df + 0.5)), for each term of `dfs`
    (term -> df): the one driver-side formula of the WAND kernel and the
    serve tier (the exact scorer evaluates the same expression in Spark,
    bm25.term_idf_df)."""
    n = float(n_docs)
    return {t: float(np.log1p((n - d + 0.5) / (d + 0.5))) for t, d in dfs.items()}


def _member(sorted_arr: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """Membership of vals in a sorted array, vectorized."""
    if sorted_arr.size == 0:
        return np.zeros(vals.shape[0], dtype=bool)
    i = np.searchsorted(sorted_arr, vals)
    ic = np.minimum(i, sorted_arr.size - 1)
    return (i < sorted_arr.size) & (sorted_arr[ic] == vals)


def _term_keys(cand, tl, P):
    """Sorted (cand_rank * P + position) keys of a term's occurrences in
    the candidate docs (docs without the term contribute nothing).
    tl = (ids, tfs, dls, pos_flat)."""
    ids, tfs, _dls, pos_flat = tl
    if ids.size == 0:
        return np.empty(0, dtype=np.int64)
    loc = np.searchsorted(ids, cand)
    valid = (loc < ids.size) & (ids[np.minimum(loc, ids.size - 1)] == cand)
    order = loc[valid]
    sub_pos = gather_groups(pos_flat, tfs, order)
    ranks = np.nonzero(valid)[0]
    return np.repeat(ranks, tfs[order]) * P + sub_pos


def _phrase_mask(cand, lists, phrase, P, slop: int = 0):
    """Boolean mask over cand: doc contains the phrase in order (exact
    adjacency when slop=0; in-order window p1<..<pn, pn-p1 <= len-1+slop
    otherwise — span_near(in_order=true) semantics, see ParsedQuery)."""
    if slop > 0:
        return _sloppy_phrase_mask(cand, lists, phrase, P, slop)
    mask = np.zeros(cand.shape[0], dtype=bool)
    if any(t not in lists for t in phrase):
        return mask
    S = _term_keys(cand, lists[phrase[0]], P)
    for i, t in enumerate(phrase[1:], start=1):
        if S.size == 0:
            break
        S = S[_member(_term_keys(cand, lists[t], P), S + i)]
    if S.size:
        mask[(S // P).astype(np.int64)] = True
    return mask


def _sloppy_phrase_mask(cand, lists, phrase, P, slop: int):
    """Vectorized in-order sloppy match via a max-chain-start DP in the
    stride keyspace: for each occurrence of term i, the LARGEST p1 of any
    in-order chain t1..ti ending there (larger start = most window budget
    left, so a window-satisfying chain exists iff the max-start one
    satisfies it). One searchsorted + prefix-max per term — O(occurrences),
    no per-candidate Python."""
    mask = np.zeros(cand.shape[0], dtype=bool)
    if any(t not in lists for t in phrase):
        return mask
    K_prev = _term_keys(cand, lists[phrase[0]], P)
    M_prev = K_prev.copy()  # chain-start KEY (rank*P + p1); -1 = no chain
    for t in phrase[1:]:
        if K_prev.size == 0:
            return mask
        K_cur = _term_keys(cand, lists[t], P)
        start = np.full(K_cur.shape[0], -1, dtype=np.int64)
        if K_cur.size:
            # best start among all PRECEDING occurrences of the previous
            # term: running max is safe across docs because keys of
            # earlier docs are strictly smaller (P-stride) and the
            # same-doc check below rejects any cross-doc winner
            run = np.maximum.accumulate(M_prev)
            idx = np.searchsorted(K_prev, K_cur, side="left") - 1
            ok = idx >= 0
            sel = np.nonzero(ok)[0]
            best = run[idx[sel]]
            good = (best >= 0) & ((best // P) == (K_cur[sel] // P))
            start[sel[good]] = best[good]
        K_prev, M_prev = K_cur, start
    if K_prev.size:
        window = len(phrase) - 1 + slop
        hit = K_prev[(M_prev >= 0) & (K_prev - M_prev <= window)]
        if hit.size:
            mask[(hit // P).astype(np.int64)] = True
    return mask


def candidate_ids(
    pq: ParsedQuery,
    lists: dict,
    allow_ids: np.ndarray | None = None,
) -> np.ndarray:
    """The boolean half of document-at-a-time evaluation: the sorted doc ids
    satisfying the query's AND-of-terms + negations + phrase constraints
    (before any scoring) — shared by the scorer and the match-set kernel so
    match semantics cannot drift between the two.

    lists: term -> (ids sorted unique, tfs, dls or None, pos_flat or None).
    """
    pos_sorted = tuple(sorted(pq.terms))
    neg_set = frozenset(pq.neg_terms)
    empty = np.empty(0, dtype=np.int64)

    cand = None
    for t in sorted(pos_sorted, key=lambda t: lists[t][0].size if t in lists else 0):
        if t not in lists:
            return empty
        ids = lists[t][0]
        cand = ids if cand is None else cand[np.isin(cand, ids, assume_unique=True)]
        if cand.size == 0:
            return empty
    if allow_ids is not None:
        cand = cand[_member(allow_ids, cand)]
    for t in neg_set:
        if t in lists:
            cand = cand[~np.isin(cand, lists[t][0], assume_unique=True)]
    if cand.size == 0:
        return empty

    if pq.phrases or pq.neg_phrases:
        max_phrase_len = max(len(p) for p in pq.phrases + pq.neg_phrases)
        # P strides the doc-rank keyspace past any in-doc position; every
        # candidate doc appears in every positive term's list, so the max
        # dl over positive lists bounds every candidate position
        max_dl = 0
        for t in pos_sorted:
            dls = lists[t][2]
            if dls is not None and dls.size:
                max_dl = max(max_dl, int(dls.max()))
        P = np.int64(max_dl + max_phrase_len + 2)
        for i, ph in enumerate(pq.phrases):
            cand = cand[_phrase_mask(cand, lists, ph, P, pq.slop_of(i))]
            if cand.size == 0:
                return empty
        for i, ph in enumerate(pq.neg_phrases):
            cand = cand[~_phrase_mask(cand, lists, ph, P, pq.neg_slop_of(i))]
            if cand.size == 0:
                return empty
    return cand


def score_term_lists(
    pq: ParsedQuery,
    lists: dict,
    idf_of: dict,
    k1: float,
    b: float,
    avgdl: float,
    n_keep: int,
    allow_ids: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The document-at-a-time scoring core, shared VERBATIM by the chunk
    kernel (one chunk's lists, in the exchange's tasks) and the driver
    evaluator (whole term lists: evaluate_lists, for the driver top-k and
    the serve tier), so rank identity holds by construction; the two
    inputs gave bit-identical pages on 200 queries (see _chunk_pass).

    lists: term -> (ids sorted unique, tfs, dls or None, pos_flat or None);
    returns (doc_ids, scores) of the local top-n_keep (score desc, id asc).
    """
    cand, scores = _branch_cand_scores(pq, lists, idf_of, k1, b, avgdl, allow_ids)
    order = np.lexsort((cand, -scores))[:n_keep]
    return cand[order], scores[order]


def _branch_cand_scores(
    pq: ParsedQuery,
    lists: dict,
    idf_of: dict,
    k1: float,
    b: float,
    avgdl: float,
    allow_ids: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """One conjunctive branch's full (candidates, scores) — untruncated."""
    cand = candidate_ids(pq, lists, allow_ids)
    scores = np.zeros(cand.shape[0], dtype=np.float64)
    if cand.size == 0:
        return cand, scores
    for t in sorted(pq.terms):
        ids, tfs, dls, _pos = lists[t]
        pos = np.searchsorted(ids, cand)
        tf = tfs[pos].astype(np.float64)
        dl = dls[pos]
        impact = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        scores += idf_of[t] * impact
    return cand, scores


def score_branch_lists(
    branches: tuple[ParsedQuery, ...],
    lists: dict,
    idf_of: dict,
    k1: float,
    b: float,
    avgdl: float,
    n_keep: int,
    allow_ids: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Disjunction of conjunctive branches ('a b | c d' — the
    simple_query_string OR operator): a doc matches when ANY branch's
    constraints hold, and scores the SUM of its matching branches' BM25
    term sums (Lucene BooleanQuery SHOULD-clause summing). Single branch
    degenerates to score_term_lists exactly. Shared by the chunk kernel
    and the driver evaluator, like score_term_lists."""
    if len(branches) == 1:
        return score_term_lists(
            branches[0], lists, idf_of, k1, b, avgdl, n_keep, allow_ids
        )
    cands, parts = [], []
    for pq in branches:
        c, s = _branch_cand_scores(pq, lists, idf_of, k1, b, avgdl, allow_ids)
        if c.size:
            cands.append(c)
            parts.append(s)
    if not cands:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    cat = np.concatenate(cands)
    uniq, inv = np.unique(cat, return_inverse=True)
    tot = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(tot, inv, np.concatenate(parts))
    order = np.lexsort((uniq, -tot))[:n_keep]
    return uniq[order], tot[order]


def match_ids(branches, lists: dict, allow_ids=None) -> np.ndarray:
    """The match set of a `|` disjunction over `lists`: the sorted unique
    union of each branch's candidate_ids."""
    return np.unique(
        np.concatenate([candidate_ids(br, lists, allow_ids) for br in branches])
    )


def evaluate_lists(
    index: IndexReader,
    branches: tuple[ParsedQuery, ...],
    lists: dict,
    n_keep: int,
    dfs: dict | None = None,
    allow_ids: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray | None]:
    """The driver evaluator, run by the driver top-k and match set and by
    the serve tier: a query over its terms' WHOLE decoded live lists
    (term -> (ids sorted unique, tfs, dls or None, pos_flat or None),
    absent when the index lacks the term), in one pass with no chunks or
    bounds (why: _chunk_pass). n_keep > 0 gives the top n_keep (doc_ids,
    scores) by `dfs` (positive term -> df); when every branch has a term
    of df 0 that is empty, unscored. n_keep == 0 gives (match set, None)."""
    if not n_keep:
        return match_ids(branches, lists, allow_ids), None
    if all(any(dfs.get(t, 0) == 0 for t in br.terms) for br in branches):
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    return score_branch_lists(
        branches, lists, term_idfs(index.n_docs, dfs), index.k1, index.b,
        index.avgdl, n_keep, allow_ids,
    )


def _live_lists(blocks: pa.Table, tomb: tuple, score_terms, phrase_terms) -> dict:
    """Block rows -> term -> (ids sorted, tfs, dls or None, pos_flat or
    None) of their live postings: the codec's one decoder (term_lists)
    less the tombstones `tomb`, (doc ids sorted unique, max before_gen) or
    (None, None). The chunk kernels run it on one chunk's blocks, the
    driver on a whole slice."""
    tomb_ids, tomb_gens = tomb
    return {
        t: live_list(e, tomb_ids, tomb_gens)
        for t, e in term_lists(blocks, score_terms, phrase_terms).items()
    }


def _aux_arrays(aux: pa.Table | None):
    """Split one chunk's aux rows into (tomb_ids sorted unique, aligned max
    before_gen, allow_ids sorted); None for an absent kind. Tombstones
    arrive as the version's raw rows and collapse here, per chunk."""
    tomb_ids = tomb_gens = allow_ids = None
    if aux is not None:
        kind = aux.column("kind")
        ids = aux.column("doc_id").to_numpy()
        tomb = pc.equal(kind, "tomb").to_numpy(zero_copy_only=False)
        if tomb.any():
            tomb_ids, tomb_gens = collapse_tombstones(
                ids[tomb], aux.column("before_gen").to_numpy()[tomb]
            )
        allow = pc.equal(kind, "allow").to_numpy(zero_copy_only=False)
        if allow.any():
            allow_ids = np.sort(ids[allow])
    return tomb_ids, tomb_gens, allow_ids


def _visit_order(
    blocks: pa.Table, branches, idf_of: dict, imp: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(chunks, bounds) of every chunk of the slice where some branch has
    all its terms, bound desc then chunk asc, from one vectorized step over
    the slice's block metadata. `imp` is each block row's impact bound. A
    chunk's bound sums, over its viable branches, idf * each term's best
    block bound in the kernel's sorted-term order (score_branch_lists), so
    a doc at its terms' best blocks' (max_tf, min_dl) scores exactly the
    bound."""
    chunks, inv = np.unique(blocks.column("chunk").to_numpy(), return_inverse=True)
    term = blocks.column("term")
    best = {}
    for t in {t for br in branches for t in br.terms}:
        rows = pc.equal(term, t).to_numpy(zero_copy_only=False)
        best[t] = np.full(chunks.size, -np.inf)
        np.maximum.at(best[t], inv[rows], imp[rows])
    bound = np.zeros(chunks.size)
    viable = np.zeros(chunks.size, dtype=bool)
    for br in branches:
        has = np.ones(chunks.size, dtype=bool)
        part = np.zeros(chunks.size)
        for t in sorted(br.terms):
            has &= best[t] > -np.inf
            part += idf_of.get(t, 0.0) * np.where(has, best[t], 0.0)
        bound += np.where(has, part, 0.0)
        viable |= has
    order = np.lexsort((chunks, -bound))
    order = order[viable[order]]
    return chunks[order], bound[order]


class _ChunkScorer:
    """The top-k kernel _chunk_pass runs: `visit` orders the slice's chunks
    by bound, and a call scores one chunk's blocks, emitting its local
    top-n_keep as {"doc_id", "score"} arrays (None when the chunk
    contributes nothing). `branches` is the query's `|` disjunction of
    conjunctive branches (usually one).

    `idf_of` maps each positive term with a df to its idf, computed once
    on the driver (term_idfs). Block rows carry `gen` (segment id), and
    max_tf/min_dl give each block's impact bound at the query-time avgdl.
    The chunk's aux rows carry tombstones (kind='tomb': kill doc in
    generations < before_gen) and the allowed-doc set when a structured
    filter is pushed down (kind='allow'); they arrive as _aux_arrays.
    Negative terms / neg-phrase-only terms have no idf and contribute
    only ids (+ positions for phrase checks). The instance holds only the
    query; the pass's threshold lives in the pass."""

    schema = CHUNK_SCORES_SCHEMA

    def __init__(self, branches, idf_of, k1, b, avgdl, n_keep, filter_active):
        self.branches = branches
        self.idf_of = idf_of
        self.k1, self.b, self.avgdl = k1, b, avgdl
        self.n_keep = n_keep
        self.filter_active = filter_active
        self.score_terms = frozenset(t for br in branches for t in br.terms)
        self.phrase_terms = frozenset(
            t for br in branches for ph in (br.phrases + br.neg_phrases) for t in ph
        )

    def visit(self, blocks: pa.Table) -> tuple[np.ndarray, np.ndarray]:
        """_visit_order with each block's bound: the kernel's impact
        expression at (max_tf, min_dl). Impact rises with tf and falls with
        dl, so it bounds every posting of the block at the query-time
        avgdl, however later generations move it (a build-time bound
        would go stale and prune true top-k docs)."""
        k1, b, avgdl = self.k1, self.b, self.avgdl
        tf = blocks.column("max_tf").to_numpy().astype(np.float64)
        dl = blocks.column("min_dl").to_numpy().astype(np.float64)
        imp = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        return _visit_order(blocks, self.branches, self.idf_of, imp)

    def __call__(self, blocks: pa.Table, aux: tuple):
        allow_ids = aux[2]
        if self.filter_active and allow_ids is None:
            return None  # filter active, nothing allowed in this chunk
        lists = _live_lists(blocks, aux[:2], self.score_terms, self.phrase_terms)
        doc_ids, scores = score_branch_lists(
            self.branches, lists, self.idf_of, self.k1, self.b, self.avgdl,
            self.n_keep, allow_ids,
        )
        return {"doc_id": doc_ids, "score": scores}


# Interactive-query SQL conf (AQE off + narrow reduces), scoped to a
# top-k's own actions.  AQE turns every shuffle into a materialized stage
# barrier with a re-optimization pass — right for the build's skewed
# terabyte shuffles, wrong for a top-k that moves kilobytes: measured at
# 2M docs the same query set runs p50 1.77 s / p95 2.46 s with AQE vs
# 1.15 / 1.33 without.  (AQE's one interactive virtue, coalescing empty
# reduce partitions, is kept — explicitly, via the narrow width — without
# paying for the re-plan barrier.)  Lives in ..session so the build path
# can hold the complementary batch_sql_conf: when a build overlaps
# in-flight queries on the same session, BATCH WINS and the session's own
# AQE/shuffle settings are asserted for the overlap.
from ..session import interactive_sql_conf as _interactive_conf  # noqa: E402


def _chunk_slices(tbl: pa.Table) -> dict:
    """chunk -> zero-copy slice of `tbl`'s rows, after one Arrow sort of the
    table by chunk."""
    tbl = tbl.sort_by("chunk").combine_chunks()
    ck = tbl.column("chunk").to_numpy()
    starts = np.flatnonzero(np.r_[True, ck[1:] != ck[:-1]])
    ends = np.append(starts[1:], ck.size)
    return {int(ck[s]): tbl.slice(s, e - s) for s, e in zip(starts, ends)}


def _chunk_pass(
    blocks: pa.Table, aux: pa.Table | None, kernel
) -> pa.RecordBatch | None:
    """The per-table kernel body a _run_chunks task runs: blocks and aux
    rows (chunk, doc_id, before_gen, kind; see _with_aux) sort by chunk
    with an Arrow sort, and `kernel` runs on each chunk `kernel.visit`
    returns, in its order, on the chunk's zero-copy block slice plus
    _aux_arrays of its aux rows — no pandas, no Sort in a plan. Kernels
    return a dict of output columns (None for an empty chunk); the result
    is their concatenation as the columns of `kernel.schema`, None when
    empty. The input is the query's term-pruned block slice, so its
    volume is bounded by the query, not the corpus.

    Block-max pruning: a kernel with n_keep > 0 scores, and visits its
    chunks in descending bound order. The pass keeps tau, the n_keep-th
    best score it has seen, and stops at the first chunk whose bound is
    below tau: no later chunk can place. A bound equal to tau is still
    scored, since a tied doc can win on doc_id. tau is local to the call,
    so each Spark task prunes on its own.

    The driver does not run this pass: under its one-file-open cap whole
    term lists (evaluate_lists) score faster. Over the same slices and
    tombstones, 200 queries (make_queries seed 43, chunk_docs=512, 3
    interleaved passes, in-process) took median 4.2 ms against 6.3 ms for
    this pass on a 2k-page index, and 22 ms against 54 ms on 50k pages
    (slices up to 4.6 MB), with pages identical, ids and scores bit for
    bit. Pruning pays in the tasks, where the candidate set is large."""
    if not blocks.num_rows:
        return None
    names = kernel.schema.fieldNames()
    aux_of = _chunk_slices(aux) if aux is not None and aux.num_rows else {}
    by_chunk = _chunk_slices(blocks)
    outs, best, tau = [], np.empty(0), -np.inf
    for ck, bound in zip(*(a.tolist() for a in kernel.visit(blocks))):
        if bound < tau:
            break
        out = kernel(by_chunk[ck], _aux_arrays(aux_of.get(ck)))
        if out is None or not len(out[names[0]]):
            continue
        outs.append(out)
        if kernel.n_keep:
            best = np.sort(np.concatenate([best, out["score"]]))[::-1][: kernel.n_keep]
            if best.size == kernel.n_keep:
                tau = best[-1]
    if not outs:
        return None
    return pa.RecordBatch.from_arrays(
        [pa.array(np.concatenate([o[c] for o in outs])) for c in names],
        names=names,
    )


def _run_chunks(rows: DataFrame, kernel) -> DataFrame:
    """The Spark kernel runner, for a slice the driver does not take
    (_on_driver): a filtered query or a slice larger than one file open.
    The slice hash-repartitions by chunk, so all of a chunk's blocks and
    aux rows meet in one mapInArrow task and several tasks decode and
    score in parallel (at 50k docs, 10.3 MB of postings, one task raised
    the single-client p50 0.31 -> 0.43 s); each task prunes its own chunks
    by bound (_chunk_pass). The reduce width and AQE come from the SQL
    conf the action runs under, not from here: wand_topk collects inside
    the interactive guard (AQE off, INTERACTIVE_SHUFFLE_PARTITIONS
    reduces), while match_docs returns the lazy frame, so its exchange
    runs when the caller acts on it, under the session's conf (AQE on,
    the session's shuffle width). A task keeps its batches as one Arrow
    table, splits the aux rows (non-null `kind`) off with an Arrow filter
    and runs _chunk_pass."""
    aux_cols = ["chunk", "doc_id", "before_gen", "kind"]

    def fn(batches):
        tabs = [b for b in batches if b.num_rows]
        if not tabs:
            return
        tbl = pa.Table.from_batches(tabs)
        aux = None
        if "kind" in tbl.schema.names:
            is_aux = pc.is_valid(tbl.column("kind"))
            aux = tbl.filter(is_aux).select(aux_cols)
            tbl = tbl.filter(pc.invert(is_aux)).drop_columns(aux_cols[1:])
        out = _chunk_pass(tbl, aux, kernel)
        if out is not None:
            yield out

    return rows.repartition(F.col("chunk")).mapInArrow(fn, schema=kernel.schema)


def _on_driver(index: IndexReader, terms: list, cols: list) -> bool:
    """Whether an unfiltered query runs on the driver: the bytes the driver
    reads, `cols` of the serve-copy row groups that hold one of `terms`
    (SliceReader.slice_bytes) plus the reader's tombstone version
    (IndexReader.tombstone_files), are no larger than
    spark.sql.files.openCostInBytes (4 MB by default, Spark's own estimate
    of the bytes one file open costs in scan time). Below that size a
    Spark job costs more than the kernel work (a warm 2k-doc top-k:
    0.13-0.18 s as one task of one job, 0.02 s on the driver, where whole
    lists score in a median 4.2 ms, see _chunk_pass). `cols` are the
    whole-list read's: the bound columns (max_tf, min_dl) and the chunk
    key are read only by the exchange."""
    # the JVM conf accessor parses the conf's unit suffix ("4MB", "0")
    conf = index.spark._jsparkSession.sessionState().conf()
    return (
        index.slices.slice_bytes(terms, cols) + index.tombstone_files()[1]
        <= conf.filesOpenCostInBytes()
    )


def _driver_lists(index: IndexReader, terms: list, cols: list, kernel) -> dict:
    """The whole live lists of `terms`, decoded as `kernel` decodes a
    chunk's, from `cols` of the reader's serve-copy slice, with no Spark
    job."""
    blocks = index.slices.slice(terms, cols)
    if blocks is None:
        return {}
    return _live_lists(
        blocks, index.tombstone_arrays(), kernel.score_terms, kernel.phrase_terms
    )


def _chunk_of_doc(chunk_docs: int):
    """FLOOR division chunk key, exact in integer arithmetic — must agree
    with the encoder's numpy `ids // chunk_docs` for negative doc ids too
    (xxhash64-derived ids are full-range int64), and must not round through
    a double (precision loss past 2^53)."""
    return F.expr(
        f"(doc_id - pmod(doc_id, {chunk_docs}L)) div {chunk_docs}L"
    ).alias("chunk")


def _with_aux(
    blocks: DataFrame, index: IndexReader, filter_docs: DataFrame | None
) -> DataFrame:
    """The block slice plus chunk-keyed aux rows — tombstones and the
    allowed-doc filter, marked by a non-null `kind` — unioned so they ride
    the blocks' one chunk shuffle (never collected to the driver)."""
    chunk_docs = index.chunk_docs
    out = blocks
    tomb = index.tombstones(interactive=True)
    if tomb is not None:
        out = out.unionByName(
            tomb.select(
                _chunk_of_doc(chunk_docs),
                "doc_id",
                F.col("before_gen").cast("long").alias("before_gen"),
                F.lit("tomb").alias("kind"),
            ),
            allowMissingColumns=True,
        )
    if filter_docs is not None:
        out = out.unionByName(
            filter_docs.select(
                _chunk_of_doc(chunk_docs),
                "doc_id",
                F.lit(-1).cast("long").alias("before_gen"),
                F.lit("allow").alias("kind"),
            ),
            allowMissingColumns=True,
        )
    return out


def wand_topk(
    index: IndexReader,
    query_text: str,
    k: int = 13,
    offset: int = 0,
    filter_docs: DataFrame | None = None,
    pq: ParsedQuery | None = None,
) -> DataFrame:
    """Block-max top-k; rank-identical to exact_topk. Returns doc_id, score,
    rank. `filter_docs` (doc_id) restricts results to that set, applied
    inside the chunk kernel before any truncation (full pages guaranteed —
    no overfetch heuristics). `pq` overrides query parsing (used by the
    field-scoped path, whose terms carry a path-prefix namespace).
    Prefix clauses (`dang*`) fold into the filter channel and add
    PREFIX_SCORE each (constant-score rewrite, see ParsedQuery) — uniform
    over every result, so the kernel's bounds and tau pruning are
    unaffected.

    Two transports: the driver for an unfiltered slice no larger than one
    file open (_on_driver), scoring whole term lists (evaluate_lists); the
    chunk exchange otherwise, whose tasks run _chunk_pass, which prunes
    chunks by bound as it scores. A separate bounds job (a two-phase plan
    that scored the best chunks first and semi-joined the rest) never won
    where it was measured: at 12.5k chunks
    (50k docs, chunk_docs=4, 10 fixed queries on the exchange, 4 cores) it
    took 8.2-8.4 s and 7 jobs a query against 2.4 s and 1 job for this
    pass. It tied (0.19 s against 0.20 s median) only on the query no
    chunk could match, where its metadata-only job found no chunk to
    score; every other query was 2.4-5.3x faster on the one pass. The
    in-task pass saves decode, not shuffle bytes; no crossover was
    found."""
    if pq is not None:
        branches = (pq,)
    else:
        branches = parse_disjunction(query_text, index.analyzer)
    validate_branches(branches)
    if len(branches) == 1:
        pq = branches[0]
        if pq.prefixes or pq.neg_prefixes or pq.fuzzies or pq.neg_fuzzies:
            filter_docs = prefix_doc_filter(index, pq, filter_docs)
        if not pq.terms:
            return prefix_only_topk(index, pq, k, offset, filter_docs)
        prefix_const = PREFIX_SCORE * pq.const_clauses
    else:
        prefix_const = 0.0  # validate_branches bans prefixes in branches

    spark = index.spark
    n_keep = offset + k
    pos_terms, all_terms = query_terms(branches)
    has_phrases = any(br.phrases or br.neg_phrases for br in branches)
    cols = ["term", "first_doc", "n", "docs_bin", "tfs_bin", "dls_bin"]
    if has_phrases:
        cols.append("pos_bin")  # positions read only when a phrase needs them

    # per-query idf, driver-side: df per term resolves from the
    # term-sorted stats parquet (row-group pruned, no Spark job) and idf
    # reaches the kernel in its closure, so a new query's Spark plan holds
    # only per-index literals: it generates the same Java source as the
    # last one and Spark's codegen cache compiles nothing (idf as per-query
    # double literals cost 2 Janino compiles of 10-16 ms each per distinct
    # query).
    dfs = index.term_stats_local(pos_terms)
    kernel = _ChunkScorer(
        branches, term_idfs(index.n_docs, dfs), index.k1, index.b,
        index.avgdl, n_keep, filter_docs is not None,
    )
    # decided before any Spark frame is built: building the unused frame
    # costs py4j round trips on every driver query
    if filter_docs is None and _on_driver(index, all_terms, cols):
        lists = _driver_lists(index, all_terms, cols, kernel)
        ids, scores = evaluate_lists(index, branches, lists, n_keep, dfs)
        return _page(
            spark, list(zip(ids.tolist(), scores.tolist())), offset, prefix_const
        )

    # ONE selectExpr, a single py4j parse round trip (a Column chain costs
    # one per F.lit/withColumn: ~675 round trips, 0.2-0.3 s per query);
    # the exchange also reads the chunk key and the bound columns
    blocks = index.postings(interactive=True).filter(
        F.col("term").isin(all_terms)
    ).selectExpr(
        *cols, "chunk", "max_tf", "min_dl", "gen",
        *([] if has_phrases else ["CAST(NULL AS BINARY) AS pos_bin"]),
    )
    scored = _run_chunks(_with_aux(blocks, index, filter_docs), kernel)
    with _interactive_conf(spark):
        top = (
            scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(n_keep)
            .collect()
        )
    merged = [(int(r["doc_id"]), float(r["score"])) for r in top]
    return _page(spark, merged, offset, prefix_const)


def _page(spark, merged: list, offset: int, prefix_const: float) -> DataFrame:
    """The result page of `merged`, the (doc_id, score) top-(offset+k) in
    rank order: ranks past `offset`, as a _local_result. prefix_const is
    uniform, so adding it after tau pruning and the sort cannot reorder or
    change membership."""
    return _local_result(
        spark,
        [
            (d, s + prefix_const, i + 1)
            for i, (d, s) in enumerate(merged)
            if i + 1 > offset
        ],
    )


MATCH_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType())])


class _ChunkMatcher:
    """The boolean match-set kernel _chunk_pass runs: a call emits EVERY
    doc in one chunk satisfying the query (any `|` branch) — no scoring,
    no truncation, so no bound: `visit` returns every viable chunk, in
    chunk order. Decode + candidate logic shared with the scoring kernel
    (_live_lists / candidate_ids), so match semantics are identical by
    construction."""

    schema = MATCH_SCHEMA
    n_keep = 0

    def __init__(self, branches: tuple[ParsedQuery, ...], filter_active: bool):
        self.branches = branches
        self.filter_active = filter_active
        phrases = [ph for br in branches for ph in (br.phrases + br.neg_phrases)]
        # dls decode only to bound the phrase-key stride P; term-only
        # queries never touch dls_bin
        self.score_terms = (
            frozenset(t for br in branches for t in br.terms)
            if phrases
            else frozenset()
        )
        self.phrase_terms = frozenset(t for ph in phrases for t in ph)

    def visit(self, blocks: pa.Table) -> tuple[np.ndarray, np.ndarray]:
        return _visit_order(blocks, self.branches, {}, np.zeros(blocks.num_rows))

    def __call__(self, blocks: pa.Table, aux: tuple):
        allow_ids = aux[2]
        if self.filter_active and allow_ids is None:
            return None  # filter active, nothing allowed in this chunk
        lists = _live_lists(blocks, aux[:2], self.score_terms, self.phrase_terms)
        return {"doc_id": match_ids(self.branches, lists, allow_ids)}


def match_docs(
    index: IndexReader,
    query_text: str,
    filter_docs: DataFrame | None = None,
    pq: ParsedQuery | None = None,
) -> DataFrame:
    """Boolean AND-of-terms match set over the index: every live doc
    satisfying the query, as a DataFrame of doc_id — no scoring, no top-k,
    no limit.

    This is the operator behind an *unlimited* cardsearch context: the
    reference ANDs the card-scoped query into the value query as an
    unbounded bool filter (trovesearch_denorm.py:838-859), so valuesearch
    counts must see EVERY matching card, not a top-k page. Compose the
    result with groupBy/aggregate stages downstream.

    Chunks prune conjunctively (all positive terms must appear in the
    chunk) before any posting bytes decode, and term stats are never
    needed (no idf). A match set has no bound, so every such chunk is
    visited. Two transports, as wand_topk's:

    - driver: without a filter frame, a slice no larger than one file
      open (_on_driver) is matched on the driver now over whole term
      lists (evaluate_lists), with no Spark job, and the set returns as a
      LocalRelation;
    - exchange: otherwise the set stays distributed, as a lazy frame over
      the chunk exchange (_run_chunks). No interactive guard is held here,
      so the exchange executes when the caller collects or composes the
      frame, under the caller's session conf — AQE on and the session's
      shuffle width, not the 4-partition interactive width a wand_topk's
      exchange gets.
    """
    if pq is not None:
        branches = (pq,)
    else:
        branches = parse_disjunction(query_text, index.analyzer)
    validate_branches(branches)
    if len(branches) == 1:
        pq = branches[0]
        if pq.prefixes or pq.neg_prefixes or pq.fuzzies or pq.neg_fuzzies:
            filter_docs = prefix_doc_filter(index, pq, filter_docs)
        if not pq.terms:
            # prefix-only: the folded filter set IS the match set (boolean
            # semantics — no scoring, so no constant to carry); negated
            # terms/phrases still subtract
            from .bm25 import _phrase_filter, live_postings

            base = filter_docs.select("doc_id")
            if pq.neg_terms:
                neg = (
                    live_postings(index, list(pq.neg_terms))
                    .select("doc_id")
                    .distinct()
                )
                base = base.join(neg, "doc_id", "left_anti")
            return _phrase_filter(index, base, pq)
    has_phrases = any(br.phrases or br.neg_phrases for br in branches)
    _pos_terms, all_terms = query_terms(branches)

    cols = ["term", "first_doc", "n", "docs_bin", "tfs_bin"]
    if has_phrases:
        cols += ["dls_bin", "pos_bin"]  # read only when a phrase needs them
    matcher = _ChunkMatcher(branches, filter_docs is not None)
    if filter_docs is None and _on_driver(index, all_terms, cols):
        lists = _driver_lists(index, all_terms, cols, matcher)
        ids, _ = evaluate_lists(index, branches, lists, 0)
        return index.spark.createDataFrame(
            pa.table({"doc_id": ids}), schema=MATCH_SCHEMA
        )
    blocks = (
        index.postings(interactive=True)
        .filter(F.col("term").isin(all_terms))
        .select(*cols, "chunk", "gen")
    )
    return _run_chunks(_with_aux(blocks, index, filter_docs), matcher)
