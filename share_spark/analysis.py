"""Text analysis chain: tokenizer, stopwords, stemmer.

Behavioral parity targets (see SURVEY.md §2.8):
- trovesearch text fields use the ES default *standard* analyzer
  (standard tokenizer + lowercase; no stopwords, no stemming) —
  reference: share/search/index_strategy/trovesearch_denorm.py:112-117
  (no `analysis` settings => ES defaults).
- the legacy sharev2 index defines standard tokenizer + lowercase + stop
  (+ html_strip char filter, which lives in extract.py here) —
  reference: share/search/index_strategy/sharev2_elastic8.py:52-85.

Pipelines:
- "standard": unicode word tokenize + lowercase          (trovesearch parity)
- "english" : standard + Lucene English stopword removal + Porter stemming
              (sharev2-style; stemming is the conventional Lucene 'english'
              analyzer extension)

All batch entry points are pandas-vectorized (operate on pd.Series) so they
can run inside Arrow UDFs without per-row Python dispatch overhead beyond
the tokenizer regex itself.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterable

import pandas as pd

TOKEN_RE = re.compile(r"\w+", re.UNICODE)

# Lucene's default English stopword set (EnglishAnalyzer.ENGLISH_STOP_WORDS_SET)
LUCENE_ENGLISH_STOPWORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)

_VOWEL = "aeiou"


def _is_consonant(word: str, i: int) -> bool:
    ch = word[i]
    if ch in _VOWEL:
        return False
    if ch == "y":
        return i == 0 or not _is_consonant(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """Porter's m: number of VC sequences in the stem."""
    forms = []
    for i in range(len(stem)):
        forms.append("c" if _is_consonant(stem, i) else "v")
    s = "".join(forms)
    s = re.sub(r"c+", "C", s)
    s = re.sub(r"v+", "V", s)
    return s.count("VC")


def _contains_vowel(stem: str) -> bool:
    return any(not _is_consonant(stem, i) for i in range(len(stem)))


def _ends_double_consonant(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_consonant(word, len(word) - 1)
    )


def _ends_cvc(word: str) -> bool:
    if len(word) < 3:
        return False
    if (
        _is_consonant(word, len(word) - 3)
        and not _is_consonant(word, len(word) - 2)
        and _is_consonant(word, len(word) - 1)
    ):
        return word[-1] not in "wxy"
    return False


_STEP2 = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
]
_STEP3 = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]
_STEP4 = [
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement", "ment",
    "ent", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def porter_stem(word: str) -> str:
    """Classic Porter (1980) stemmer, the basis of Lucene's PorterStemFilter."""
    if len(word) <= 2:
        return word
    w = word
    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]
    # step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    elif (w.endswith("ed") and _contains_vowel(w[:-2])) or (
        w.endswith("ing") and _contains_vowel(w[:-3])
    ):
        w = w[:-2] if w.endswith("ed") else w[:-3]
        if w.endswith(("at", "bl", "iz")):
            w = w + "e"
        elif _ends_double_consonant(w) and not w.endswith(("l", "s", "z")):
            w = w[:-1]
        elif _measure(w) == 1 and _ends_cvc(w):
            w = w + "e"
    # step 1c
    if w.endswith("y") and _contains_vowel(w[:-1]):
        w = w[:-1] + "i"
    # step 2
    for suf, rep in _STEP2:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break
    # step 3
    for suf, rep in _STEP3:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break
    # step 4
    for suf in _STEP4:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if suf == "ion" and not stem.endswith(("s", "t")):
                continue
            if _measure(stem) > 1:
                w = stem
            break
    else:
        if w.endswith("ion") and len(w) > 3 and w[-4] in "st":
            stem = w[:-3]
            if _measure(stem) > 1:
                w = stem
    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _ends_cvc(stem)):
            w = stem
    # step 5b
    if _measure(w) > 1 and _ends_double_consonant(w) and w.endswith("l"):
        w = w[:-1]
    return w


def tokenize(text: str, analyzer: str = "standard") -> list[str]:
    """Analyze one string into a token list.

    "standard": unicode word tokens, lowercased (ES default standard analyzer
    parity — no stop removal, no stemming).
    "english": standard + Lucene English stopwords + Porter stemming.
    """
    if text is None:
        return []
    toks = TOKEN_RE.findall(text.lower())
    if analyzer == "standard":
        return toks
    if analyzer == "english":
        return [porter_stem(t) for t in toks if t not in LUCENE_ENGLISH_STOPWORDS]
    raise ValueError(f"unknown analyzer: {analyzer}")


def path_hierarchy_tokens(value: str, delimiter: str = "|") -> list[str]:
    """Lucene path_hierarchy tokenizer (sharev2 subject analyzer,
    sharev2_elastic8.py:75-85): every prefix of the delimited path, so
    'bepress|Life Sciences|Biology' also matches searches for
    'bepress|Life Sciences'. Lowercased like the paired lowercase filter."""
    if not value:
        return []
    parts = value.lower().split(delimiter)
    return [delimiter.join(parts[: i + 1]) for i in range(len(parts))]


def path_hierarchy_col(col, delimiter: str = "|"):
    """Column form: the same prefixes via higher-order array functions
    (JVM-side, codegen) — for exploding subject columns at index build."""
    from pyspark.sql import functions as F

    parts = F.split(F.lower(col), re.escape(delimiter))
    return F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.array_join(F.slice(parts, 1, i), delimiter),
    )


def tokenize_series(texts: pd.Series, analyzer: str = "standard") -> pd.Series:
    """Vectorized (per-batch) tokenize for use inside pandas UDFs."""
    return texts.map(lambda t: tokenize(t, analyzer))


def tokenize_batch_flat(texts, analyzer: str = "standard"):
    """Batch tokenize an Arrow string array -> (parents, tokens): the int64
    row index of every token, and the tokens as an Arrow string array, in
    row order and, within a row, in token order (nulls tokenize as "").

    Arrow C++ kernels (utf8_lower + split_pattern_regex) when the analyzer
    is standard and every string is pure ASCII — byte-identical to
    `tokenize` there, since RE2's ASCII \\w equals Python's unicode \\w on
    ASCII input. Any other batch runs the frozen `tokenize` row by row, so
    the analyzer contract never drifts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    # one Spark worker per core already — keep Arrow kernels single-threaded
    if pa.cpu_count() != 1:
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)

    texts = pc.fill_null(texts, "")
    if analyzer == "standard" and pc.all(pc.string_is_ascii(texts)).as_py():
        split = pc.split_pattern_regex(pc.utf8_lower(texts), r"[^0-9a-z_]+")
        flat = pc.list_flatten(split)
        parents = pc.list_parent_indices(split).to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        keep = pc.not_equal(flat, "")
        return parents[keep.to_numpy(zero_copy_only=False)], flat.filter(keep)
    parents_l: list[int] = []
    toks_l: list[str] = []
    for i, s in enumerate(texts.to_pylist()):
        ts = tokenize(s, analyzer)
        parents_l.extend([i] * len(ts))
        toks_l.extend(ts)
    return np.asarray(parents_l, dtype=np.int64), pa.array(toks_l, pa.string())


def term_frequencies(tokens: Iterable[str]) -> Counter:
    return Counter(tokens)
