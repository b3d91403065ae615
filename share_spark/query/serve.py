"""Low-latency top-k serving tier over a built posting index.

Spark is the right engine for BUILDING the index and for analytic scans, but
an interactive top-k query touches only the query terms' posting blocks —
O(KB..MB) of IO — while a Spark job costs ~0.3-0.5 s of scheduling no matter
how little it reads. The reference has the same split: Django builds / ES
serves (SURVEY.md §1). This module is the "ES shard fetch" half:

- the server serves one snapshot of the index: an IndexReader opened
  without a Spark session. refresh() opens the current committed state
  and swaps it in whole, so a new generation and the tombstones committed
  with it become visible together, at refresh(), as Elasticsearch makes
  new segments and their deletes visible at one refresh;
- per query it reads ONLY the row groups of the term-sorted serve copy
  whose term dictionary holds a query term, through the snapshot's
  SliceReader, the reader the driver top-k uses too — never a full scan,
  never a Spark job;
- decoded per-term postings and per-term stats live in a bounded LRU cache
  (hot query terms are served from memory, like ES's segment page cache);
  refresh() drops it only when the (generation, build_id) list changes;
- evaluation is the driver top-k's own (query/wand.evaluate_lists over
  whole term lists, scoring with the numpy kernel the exchange's tasks
  run per chunk), so served results are rank-identical to both wand_topk
  and exact_topk by construction.

Scale shape: one server process serves one index; the per-query cost is
O(query terms' postings), independent of corpus size.
"""

from __future__ import annotations

import heapq
import threading
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from ..analysis import tokenize
from ..index.build import FIELD_SEP, IndexReader
from ..index.codec import live_list, term_lists
from . import bm25
from .bm25 import PREFIX_SCORE, parse_disjunction, query_terms, validate_branches
from .wand import _phrase_mask, evaluate_lists

_BLOCK_COLS = ["term", "first_doc", "n", "docs_bin", "tfs_bin", "dls_bin", "pos_bin"]
_NO_IDS = np.empty(0, dtype=np.int64)

MAX_CACHED_TERMS = 4096  # with max_cache_bytes, the decoded-term LRU bound
# terms one prefix clause (`dang*`) may expand to before the server refuses
# the query: a single-letter prefix must not decode half the vocabulary
# (the distributed paths stream, unbounded). Fuzzy clauses (`dnag~1`) are
# refused past bm25.MAX_FUZZY_EXPANSIONS, as on the distributed paths.
MAX_PREFIX_EXPANSIONS = 1024
MAX_CACHED_FUZZY_EXPANSIONS = 512  # (stem, dist) expansions the LRU keeps


def _entry_nbytes(entry: tuple) -> int:
    return sum(a.nbytes for a in entry)


def _lev_dp(mat: np.ndarray, stem: str) -> np.ndarray:
    """Vectorized Wagner-Fischer over a (n, L) codepoint matrix (candidates
    padded with 0): returns the full final DP row (n, L+1) so callers can
    gather each candidate's distance at its own true length. len(stem) * L
    scalar iterations of whole-array numpy ops — no per-candidate Python.
    Plain codepoint edit distance, no transpositions: must agree exactly
    with the distributed path's JVM `levenshtein` (rank identity across
    tiers depends on the two expansions producing the same term set)."""
    n, L = mat.shape
    m = len(stem)
    stem_codes = np.frombuffer(stem.encode("utf-32-le"), dtype=np.uint32)
    # int16 cells (distances are <= m+L << 2^15) and in-place ops: the DP
    # is memory-bandwidth-bound over vocabulary-sized buckets, so cell
    # width and temporaries dominate wall time (int64 + fresh allocations
    # per row measured ~3x slower at a 190k-term bucket)
    prev = np.broadcast_to(
        np.arange(L + 1, dtype=np.int16), (n, L + 1)
    ).copy()
    cur = np.empty_like(prev)
    sub = np.empty(n, dtype=np.int16)
    ins = np.empty(n, dtype=np.int16)
    for i in range(1, m + 1):
        cur[:, 0] = i
        sc = stem_codes[i - 1]
        for j in range(1, L + 1):
            np.add(
                prev[:, j - 1],
                (mat[:, j - 1] != sc).view(np.int8),
                out=sub,
                casting="unsafe",
            )
            np.minimum(prev[:, j], cur[:, j - 1], out=ins)
            ins += 1
            np.minimum(sub, ins, out=cur[:, j])
        prev, cur = cur, prev
    return prev


def _lev_one(a: str, b: str) -> int:
    """Scalar Levenshtein for ranking an already-expanded candidate list
    (bounded by bm25.MAX_FUZZY_EXPANSIONS — never vocabulary-sized)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _builds(reader: IndexReader) -> list[tuple]:
    """(generation, build_id) of every generation: compact() of gens [0, N]
    lands on [0] again with entirely new files, so the generation numbers
    alone cannot tell two snapshots' files apart. Indexes built before the
    build_id nonce compare by generation number."""
    return [(g["generation"], g.get("build_id")) for g in reader.gen_manifests]


@dataclass
class TopKServer:
    index_dir: str
    # decoded-postings budget in BYTES: one head term's arrays can be GBs at
    # 10^9 postings, so a count bound alone cannot cap residency.  Sized so
    # a realistic hot term set stays resident — at 2M docs the 40-query
    # bench set decodes to ~250 MB in compact dtypes; 512 MB caused LRU
    # thrash (47 terms resident, head terms re-decoded per query, warm p95
    # 0.58 s vs 0.07 s at 200k docs)
    max_cache_bytes: int = 1 << 30
    # the snapshot every query reads, replaced whole by refresh()
    _reader: IndexReader | None = None
    # term -> decoded (ids, tfs, dls, pos, gens); true LRU: moved to end on
    # every hit, evicted from the front by accumulated nbytes
    _term_cache: "OrderedDict[str, tuple]" = field(default_factory=OrderedDict)
    _term_cache_nbytes: int = 0
    _stats_cache: dict = field(default_factory=dict)  # term -> df (int, tiny)
    # the vocabulary buckets of _vocab_buckets
    _dsets: dict = field(default_factory=dict)
    # (stem, dist) -> expanded term list; the vocabulary DP is the
    # expensive part of a fuzzy query, and typo distributions are heavy-
    # tailed (the same misspellings recur), so a small LRU pays for
    # itself, bounded by MAX_CACHED_FUZZY_EXPANSIONS.
    _fuzzy_cache: "OrderedDict[tuple, list]" = field(
        default_factory=OrderedDict
    )
    # coarse lock over the view swap and cache fill/eviction — a serving
    # tier answers many queries concurrently; scoring itself is lock-free
    # numpy
    _lock: threading.RLock = field(default_factory=threading.RLock)

    @classmethod
    def open(cls, index_dir: str) -> "TopKServer":
        srv = cls(index_dir)
        srv.refresh()
        return srv

    # -- index state ---------------------------------------------------

    def refresh(self) -> None:
        """Serve the index's current committed state from now on: its
        generations and its tombstone version, which one manifest commit
        swings together, replace the old snapshot together. The caches
        (decoded terms, stats, fuzzy expansions, footers and term
        dictionaries) are dropped only when the (generation, build_id)
        list changed; otherwise the new snapshot keeps the old one's
        footers, since its files are the same."""
        reader = IndexReader.open(None, self.index_dir)
        old = self._reader
        same = old is not None and _builds(old) == _builds(reader)
        if same:
            reader.slices = old.slices
        with self._lock:
            if not same:
                self._term_cache.clear()
                self._term_cache_nbytes = 0
                self._stats_cache.clear()
                self._dsets.clear()
                self._fuzzy_cache.clear()
            self._reader = reader

    def warmup(self, preload_top_terms: int = 0) -> None:
        """Server-startup preload: parquet footers + per-row-group term
        dictionaries for every generation (parallel, one-time). After this,
        a cold term's read touches exactly its own row groups.

        `preload_top_terms`: additionally decode the N highest-df terms
        into the postings cache (the ES index-warmer analog).  Head terms
        are exactly the ones whose one-time cold decode is expensive
        (O(df) varint work — ~0.5 s for a 1.4M-posting term at 2M docs)
        AND the ones every realistic query mix hits, so preloading them
        moves that cost from the first unlucky queries to startup.  The
        preload walks df-descending in small batches, checking the cache
        budget BEFORE each batch and stopping once ~80% is spent — at
        worst one batch of already-preloaded terms is ever evicted; the
        long tail stays cold but tail terms are small (fast) by
        definition."""
        reader = self._reader
        slices = reader.slices
        jobs = []
        for g in reader.gen_manifests:
            gen = g["generation"]
            for stage in ("postings_term", "term_stats"):
                jobs.extend(slices.directory(gen, stage))
        with ThreadPoolExecutor(max_workers=16) as pool:
            list(pool.map(lambda e: slices.row_group_terms(e[2], e[3]), jobs))
        if preload_top_terms > 0:
            for batch in self._top_df_terms(reader, preload_top_terms):
                with self._lock:
                    # budget check BEFORE the batch: _read_terms' own
                    # eviction protects only the in-flight batch, so
                    # issuing a batch past the budget could evict terms
                    # preloaded moments ago — stop while ~20% headroom
                    # remains instead
                    if self._term_cache_nbytes > 0.8 * self.max_cache_bytes:
                        break
                    self._read_terms(batch)

    @staticmethod
    def _top_df_terms(reader: IndexReader, n: int, batch: int = 8):
        """Yield the n highest-df terms in df-descending batches.

        Streams term_stats row group by row group keeping a running
        top-(n * n_gens) heap (never materializes the full vocabulary —
        at web scale the term dictionary is 10^8+ rows; this holds O(n)
        in memory), then SUMS df per term across generations: the same
        term has one stats row per generation it appears in, and ranking
        raw rows would both waste heap slots on duplicates and misrank
        terms whose df is split across generations."""
        gens = reader.gen_manifests
        best: list[tuple[int, str]] = []  # (df, term), ascending heap
        cap = n * max(1, len(gens))
        for g in gens:
            gen = g["generation"]
            for _lo, _hi, pf, rg, _sizes in reader.slices.directory(gen, "term_stats"):
                tbl = pf.read_row_group(rg, columns=["term", "df"])
                for t, d in zip(
                    tbl.column("term").to_pylist(),
                    tbl.column("df").to_pylist(),
                ):
                    if len(best) < cap:
                        heapq.heappush(best, (int(d), t))
                    elif d > best[0][0]:
                        heapq.heapreplace(best, (int(d), t))
        totals: dict[str, int] = {}
        for d, t in best:
            totals[t] = totals.get(t, 0) + d
        ordered = [
            t for t, _d in sorted(
                totals.items(), key=lambda kv: (-kv[1], kv[0])
            )
        ][:n]
        for i in range(0, len(ordered), batch):
            yield ordered[i : i + batch]

    # -- term dictionary ------------------------------------------------

    def _expand_prefix(self, prefix: str) -> list[str]:
        """All index terms starting with `prefix`, via the row-group term
        dictionaries: footer min/max prune to the row groups whose range
        intersects [prefix, prefix+U+10FFFF), then a binary-search slice of
        each group's sorted term array — the serving analog of Lucene's
        term-dictionary prefix seek. Raises when the expansion exceeds
        MAX_PREFIX_EXPANSIONS (consistent refusal, never silent
        truncation — truncating would break rank identity with the
        distributed paths)."""
        hi = prefix + "\U0010ffff"
        out: set[str] = set()
        reader = self._reader
        for g in reader.gen_manifests:
            entries = reader.slices.directory(g["generation"], "postings_term")
            for lo, top, pf, rg, _sizes in entries:
                if lo is not None and (top < prefix or lo >= hi):
                    continue
                terms = reader.slices.row_group_terms(pf, rg)
                lo_i = np.searchsorted(terms, prefix, side="left")
                hi_i = np.searchsorted(terms, hi, side="left")
                out.update(terms[lo_i:hi_i].tolist())
                if len(out) > MAX_PREFIX_EXPANSIONS:
                    raise ValueError(
                        f"prefix {prefix!r}* expands to more than "
                        f"{MAX_PREFIX_EXPANSIONS} terms on the serve "
                        "tier; narrow the prefix or use the distributed path"
                    )
        return sorted(out)

    def _vocab_buckets(self) -> dict:
        """Vocabulary grouped by TERM LENGTH, each bucket a (sorted term
        array, (n, L) uint32 codepoint matrix) pair — built ONCE per
        generation list from the row-group term dictionaries and cached in
        _dsets (cleared with the other caches on generation change).

        This is the serving analog of a Levenshtein automaton's dictionary
        walk, shaped for numpy: a fuzzy query touches only the buckets
        inside its length band (|len - len(stem)| <= d) and runs the DP on
        prebuilt matrices — no per-query string decode of the vocabulary.
        The matrices are the vocabulary re-encoded as UCS4 (~4 bytes/char,
        bounded by the term dictionary itself), so residency is O(vocab),
        same class as the cached dictionaries they derive from."""
        key = ("vocabbuckets",)
        if key in self._dsets:
            return self._dsets[key]
        terms: set[str] = set()
        reader = self._reader
        for g in reader.gen_manifests:
            entries = reader.slices.directory(g["generation"], "postings_term")
            for _lo, _hi, pf, rg, _sizes in entries:
                terms.update(reader.slices.row_group_terms(pf, rg).tolist())
        by_len: dict[int, list] = {}
        for t in terms:
            by_len.setdefault(len(t), []).append(t)
        buckets = {}
        for L, ts in by_len.items():
            ts.sort()
            arr = np.array(ts, dtype=f"U{L}")
            mat = arr.view(np.uint32).reshape(len(ts), L)
            buckets[L] = (np.array(ts, dtype=object), mat)
        self._dsets[key] = buckets
        return buckets

    def _expand_fuzzy(
        self, stem: str, dist: int, cap: int | None = 0
    ) -> list[str]:
        """All index terms within Levenshtein distance `dist` of `stem`
        (field-scoped stems 'path\\x1fterm' measure distance on the term
        part; the namespace must match exactly and prunes each bucket via
        binary search like a prefix). Length-banded bucket walk over the
        precomputed vocabulary matrices, then the vectorized DP (_lev_dp).
        Same refusal-over-truncation contract as _expand_prefix; the term
        set must equal bm25.expand_fuzzy's for rank identity. Results are
        LRU-cached per (stem, dist) — callers already hold self._lock.

        `cap`: 0 (default) applies bm25.MAX_FUZZY_EXPANSIONS (the
        QUERY-path refusal, the distributed paths' own); None expands
        unbounded — the suggest path wants the full candidate set to rank
        top-k from, and its output is k rows either way (uncapped results
        bypass the LRU: they can be vocabulary-band sized)."""
        limit = bm25.MAX_FUZZY_EXPANSIONS if cap == 0 else cap
        ckey = (stem, dist)
        # cache READ is always valid — a stored entry is the COMPLETE
        # expansion (the limit refuses, never truncates); only the store
        # below is skipped for uncapped results (vocabulary-band sized)
        if ckey in self._fuzzy_cache:
            self._fuzzy_cache.move_to_end(ckey)
            return self._fuzzy_cache[ckey]

        ns, _, core = stem.rpartition(FIELD_SEP)
        if ns:
            ns = ns + FIELD_SEP
        buckets = self._vocab_buckets()
        out: list[str] = []
        lo_len = len(ns) + max(1, len(core) - dist)
        hi_len = len(ns) + len(core) + dist
        for L in range(lo_len, hi_len + 1):
            if L not in buckets:
                continue
            terms_arr, mat = buckets[L]
            if ns:
                lo_i = np.searchsorted(terms_arr, ns, side="left")
                hi_i = np.searchsorted(
                    terms_arr, ns + "\U0010ffff", side="left"
                )
                terms_sel = terms_arr[lo_i:hi_i]
                mat_sel = mat[lo_i:hi_i, len(ns):]
            else:
                terms_sel, mat_sel = terms_arr, mat
            if not terms_sel.size:
                continue
            final = _lev_dp(mat_sel, core)
            hit = final[:, L - len(ns)] <= dist
            out.extend(terms_sel[hit].tolist())
            if limit is not None and len(out) > limit:
                raise ValueError(
                    f"fuzzy clause {core!r}~{dist} expands to more than "
                    f"{limit} terms on the serve "
                    "tier; narrow it or lower the distance"
                )
        expansion = sorted(out)
        if limit is not None:
            self._fuzzy_cache[ckey] = expansion
            if len(self._fuzzy_cache) > MAX_CACHED_FUZZY_EXPANSIONS:
                self._fuzzy_cache.popitem(last=False)
        return expansion

    def _read_terms(self, terms: list[str]) -> None:
        """Fill the decoded-postings cache: per term, the gen-merged sorted
        (ids, tfs, dls, pos_flat, gens) numpy arrays of the codec's one
        decoder (term_lists). Decode happens ONCE per term per server
        lifetime — a warm query runs only the scoring kernel.

        Compact resident dtypes: ids must stay int64 (xxhash64 full range),
        but tf/dl/pos/gen all fit int32 — exactly halves cache residency per
        posting (~49 -> ~21 B), which is the difference between the hot
        term set fitting the LRU or thrashing it. BM25 arithmetic is
        unchanged: int32 operands promote to float64 in the scoring kernel,
        so scores stay bit-identical to the distributed path."""
        missing = []
        for t in dict.fromkeys(terms):  # dedupe, order-preserving
            if t in self._term_cache:
                self._term_cache.move_to_end(t)  # LRU touch
            else:
                missing.append(t)
        if not missing:
            return
        tbl = self._reader.slices.slice(missing, _BLOCK_COLS)
        want = frozenset(missing)
        lists = term_lists(tbl, want, want) if tbl is not None else {}
        empty = (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.int32),
            np.empty(0, dtype=np.int32),
            np.empty(0, dtype=np.int32),
            np.empty(0, dtype=np.int32),
        )
        for t in missing:
            if t not in lists:
                self._cache_put(t, empty)
                continue
            ids, tfs, dls, pos, gens = lists[t]
            self._cache_put(
                t,
                (
                    ids,
                    tfs.astype(np.int32),
                    dls.astype(np.int32),
                    pos.astype(np.int32),
                    gens.astype(np.int32),
                ),
            )
        self._evict(protect=set(terms))

    def _cache_put(self, term: str, entry: tuple) -> None:
        old = self._term_cache.pop(term, None)
        if old is not None:
            self._term_cache_nbytes -= _entry_nbytes(old)
        self._term_cache[term] = entry
        self._term_cache_nbytes += _entry_nbytes(entry)

    def _evict(self, protect: set) -> None:
        """Evict least-recently-used terms until BOTH bounds hold: entry
        count <= MAX_CACHED_TERMS and resident bytes <= max_cache_bytes.
        Terms of the in-flight query are never evicted (they're about to be
        scored), so a single query wider than the budget still completes."""
        while (
            len(self._term_cache) > MAX_CACHED_TERMS
            or self._term_cache_nbytes > self.max_cache_bytes
        ):
            victim = next(
                (t for t in self._term_cache if t not in protect), None
            )
            if victim is None:
                break
            self._term_cache_nbytes -= _entry_nbytes(
                self._term_cache.pop(victim)
            )

    def suggest(
        self, word: str, k: int = 5, max_dist: int = 2
    ) -> list[tuple[str, int, int]]:
        """Did-you-mean suggestions: the top-k index terms within edit
        distance `max_dist` of `word`, as (term, distance, df) ranked by
        (distance asc, df desc, term asc) — Lucene DirectSpellChecker's
        ordering. Built from the same bucketed-vocabulary expansion the
        fuzzy query path uses — but UNCAPPED: suggest wants the best k of
        the full candidate set, so it must not inherit the query path's
        bm25.MAX_FUZZY_EXPANSIONS refusal (the distributed twin, TakeOrdered
        over the dictionary, has no cap either). df is summed across
        generations. The exact word, if indexed, ranks first at distance 0
        (callers typically skip suggesting when that happens)."""
        with self._lock:
            toks = tokenize(word, self._reader.analyzer)
            if len(toks) != 1:
                raise ValueError(
                    f"suggest takes one analyzable word, got {word!r}"
                )
            stem = toks[0]
            cands = self._expand_fuzzy(stem, max_dist, cap=None)
            dfs = self._df_of(cands)
        ranked = sorted(
            ((t, _lev_one(t, stem), dfs[t]) for t in cands),
            key=lambda x: (x[1], -x[2], x[0]),
        )
        return ranked[:k]

    def _df_of(self, terms: list[str]) -> dict[str, int]:
        missing = [t for t in terms if t not in self._stats_cache]
        if missing:
            got = self._reader.term_stats_local(missing)
            self._stats_cache.update({t: got.get(t, 0) for t in missing})
        return {t: self._stats_cache[t] for t in terms}

    # -- query -----------------------------------------------------------

    def topk(
        self, query_text: str, k: int = 13, offset: int = 0
    ) -> list[tuple[int, float, int]]:
        """[(doc_id, score, rank)] — rank-identical to wand_topk/exact_topk
        (same parse, same idf, same scoring kernel) on the snapshot the
        last refresh() opened."""
        with self._lock:
            # one snapshot per query, read under the lock refresh() swaps
            # it under, so every cache fill below reads its own files
            idx = self._reader
            branches = parse_disjunction(query_text, idx.analyzer)
            validate_branches(branches)
            pq = branches[0]
            pos_terms, all_terms = query_terms(branches)
            # expansion reads/warms the vocabulary buckets and the fuzzy
            # LRU, so it must sit inside the same lock as the cache fill
            # (multi-branch queries carry no prefixes — validate_branches)
            expansions = {
                p: self._expand_prefix(p)
                for p in dict.fromkeys(pq.prefixes + pq.neg_prefixes)
            }
            fexpansions = {
                f: self._expand_fuzzy(*f)
                for f in dict.fromkeys(pq.fuzzies + pq.neg_fuzzies)
            }
            all_terms = list(
                dict.fromkeys(
                    all_terms
                    + [
                        t
                        for ts in (*expansions.values(), *fexpansions.values())
                        for t in ts
                    ]
                )
            )
            self._read_terms(all_terms)
            cached = {t: self._term_cache[t] for t in all_terms}
            dfs = self._df_of(list(pos_terms))
        t_ids, t_gens = idx.tombstone_arrays()
        lists = {
            t: live_list(cached[t], t_ids, t_gens)
            for t in all_terms
            if cached[t][0].size
        }

        # prefix clauses -> one sorted allow/deny id set each (union of the
        # clause's live expansion lists), composed exactly like the
        # distributed filter channel: positives intersect, negatives
        # subtract; the kernel then sees a plain allow_ids array
        prefix_const = PREFIX_SCORE * pq.const_clauses
        pos_sets = [expansions[p] for p in pq.prefixes] + [
            fexpansions[f] for f in pq.fuzzies
        ]
        neg_sets = [expansions[p] for p in pq.neg_prefixes] + [
            fexpansions[f] for f in pq.neg_fuzzies
        ]
        allow = None
        for ts in pos_sets:
            parts = [lists[t][0] for t in ts if t in lists]
            s = np.unique(np.concatenate(parts)) if parts else _NO_IDS
            allow = (
                s
                if allow is None
                else allow[np.isin(allow, s, assume_unique=True)]
            )
            if allow.size == 0:
                return []
        deny = None
        for ts in neg_sets:
            parts = [lists[t][0] for t in ts if t in lists]
            if parts:
                s = np.unique(np.concatenate(parts))
                deny = s if deny is None else np.union1d(deny, s)
        if deny is not None:
            if allow is None:
                # exclusion needs a base: any positive term's posting list
                # is a candidate superset (AND semantics) — use the
                # smallest; a term the index lacks leaves no candidate
                allow = min(
                    (lists[t][0] if t in lists else _NO_IDS for t in pq.terms),
                    key=len,
                )
            allow = allow[~np.isin(allow, deny)]
            if allow.size == 0:
                return []

        n_keep = offset + k
        if not pq.terms:
            # prefix-only: constant scores, doc_id order is the ranking;
            # negated terms/phrases still subtract
            for t in pq.neg_terms:
                if t in lists:
                    allow = allow[~np.isin(allow, lists[t][0])]
            if pq.neg_phrases and allow.size:
                pos_max = max(
                    (
                        int(lists[t][3].max())
                        for ph in pq.neg_phrases
                        for t in ph
                        if t in lists and lists[t][3].size
                    ),
                    default=0,
                )
                max_len = max(len(ph) for ph in pq.neg_phrases)
                stride = np.int64(pos_max + max_len + 2)
                for i, ph in enumerate(pq.neg_phrases):
                    allow = allow[
                        ~_phrase_mask(
                            allow, lists, ph, stride, pq.neg_slop_of(i)
                        )
                    ]
            page = allow[offset : offset + k]
            return [
                (int(d), float(prefix_const), offset + i + 1)
                for i, d in enumerate(page)
            ]
        doc_ids, scores = evaluate_lists(idx, branches, lists, n_keep, dfs, allow)
        return [
            (int(d), float(s) + prefix_const, i + 1)
            for i, (d, s) in enumerate(zip(doc_ids, scores))
            if i + 1 > offset
        ]
