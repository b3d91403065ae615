"""The query plane's one chunk-kernel path: tombstones and filter rows are
unioned into the posting-block slice and ride its single chunk shuffle
into one mapInArrow kernel.

Pinned here:
  1. on a two-generation index with replacement tombstones, wand_topk is
     rank- and score-identical to exact_topk, with and without a filter,
     on the single-phase and the two-phase plan — with chunks that hold
     both aux kinds (tombstones and allowed docs) at once
  2. match_docs with a filter equals the exact boolean set there
  3. the executed match_docs plan has no cogroup and no Sort: one
     hashpartitioning(chunk) exchange feeds MapInArrow
  4. idf resolves for terms holding quotes and backslashes (field paths)
  5. a warm reader's top-k runs one Spark job: the tombstone frame is
     read once per reader, not once per query
  6. the serve tier's pages equal exact_topk's on the same index
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from share_spark.corpus import make_web_pages
from share_spark.index.build import IndexConfig, IndexReader, build_index
from share_spark.query.bm25 import exact_topk
from share_spark.query.wand import match_docs, wand_topk
from share_spark.streaming.incremental import apply_incremental

CFG = IndexConfig(block_size=32, chunk_docs=64)

QUERIES = [
    "the",
    "danger",
    "the data",
    "danger -warning",
    '"the data"',
    "zzmarker the",
]


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


@pytest.fixture(scope="module")
def tombstoned(spark, tmp_path_factory):
    """(index, allow_df, allow_ids): two generations, every doc with
    doc_id % 4 == 1 replaced by new text (a replacement tombstone on its
    gen-0 copy), and a filter allowing doc_id % 3 != 0."""
    pages = make_web_pages(240, seed=7)
    d = str(tmp_path_factory.mktemp("auxidx"))
    build_index(spark, spark.createDataFrame(pages), d, CFG)
    changed = pages[pages.doc_id % 4 == 1].copy()
    changed["text"] = [
        ("zzmarker " + t) if i % 2 == 0 else "zzmarker the only"
        for i, t in enumerate(changed["text"])
    ]
    changed["html"] = None  # extract prefers html over text
    apply_incremental(spark, d, spark.createDataFrame(changed), CFG)
    index = IndexReader.open(spark, d)
    allow = {int(x) for x in pages.doc_id if x % 3 != 0}
    allow_df = spark.createDataFrame([(x,) for x in sorted(allow)], "doc_id long")
    # the fixture must put both aux kinds into the same chunks
    tomb = {r["doc_id"] for r in index.tombstones().collect()}
    assert len(index.gen_manifests) == 2
    assert len({x // CFG.chunk_docs for x in tomb & allow}) > 1
    return index, allow_df, allow


@pytest.mark.parametrize("filtered", [False, True], ids=["nofilter", "filter"])
@pytest.mark.parametrize("plan", ["single_phase", "two_phase"])
def test_wand_equals_exact_with_tombstones(tombstoned, filtered, plan):
    index, allow_df, _allow = tombstoned
    fdf = allow_df if filtered else None
    kw = (
        {"single_phase_max_chunks": 0, "first_batch_chunks": 1}
        if plan == "two_phase"
        else {}
    )
    for q in QUERIES:
        want = _rows(exact_topk(index, q, k=20, filter_docs=fdf))
        got = _rows(wand_topk(index, q, k=20, filter_docs=fdf, **kw))
        assert want, q  # every query matches something in this corpus
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], q
        for (_, _, gs), (_, _, es) in zip(got, want):
            assert abs(gs - es) < 1e-9, q


def test_match_docs_filtered_equals_exact_set(tombstoned):
    index, allow_df, allow = tombstoned
    for q in QUERIES:
        want = {
            r["doc_id"]
            for r in exact_topk(
                index, q, k=1_000_000, filter_docs=allow_df
            ).collect()
        }
        got = [r["doc_id"] for r in match_docs(index, q, filter_docs=allow_df).collect()]
        assert want, q
        assert sorted(got) == sorted(want), q
        assert len(got) == len(set(got)), q
        assert set(got) <= allow, q


def test_match_docs_plan_is_one_chunk_shuffle(tombstoned):
    """Tombstones and the filter must ride the blocks' own chunk shuffle:
    a grouped/cogrouped pandas plan (and the Sort it needs) must not come
    back."""
    index, allow_df, _allow = tombstoned
    df = match_docs(index, "the data", filter_docs=allow_df)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the final plan, not the initial one
    text = plan.toString()
    assert "CoGroup" not in text, text
    assert "FlatMapCoGroupsInPandas" not in text, text
    assert not re.search(r"\bSort", text), text
    assert text.count("hashpartitioning(chunk") == 1, text
    lines = text.splitlines()
    at = next(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    feed = next(ln for ln in lines[at + 1:] if "Exchange" in ln)
    assert "hashpartitioning(chunk" in feed, text


def test_field_path_with_quote_and_backslash(spark, pages_pdf, tmp_path):
    """A field path holding ' and \\ scopes the same as a plain path: the
    idf CASE embeds each term as a hex literal, so no term needs escaping."""
    from share_spark.query.fields import build_field_index

    docs = spark.createDataFrame(pages_pdf[["doc_id", "text"]].head(120))
    fidx = {
        path: build_field_index(
            spark,
            docs.select("doc_id", F.lit(path).alias("path_key"), "text"),
            str(tmp_path / name),
            CFG,
        )
        for name, path in (("plain", "plainpath"), ("odd", "it's\\odd"))
    }
    for q in ("the data", "danger"):
        plain = _rows(fidx["plainpath"].scoped_topk(q, ["plainpath"], k=13))
        odd = _rows(fidx["it's\\odd"].scoped_topk(q, ["it's\\odd"], k=13))
        assert plain, q
        assert odd == plain, q


def test_warm_tombstoned_topk_is_one_job(tombstoned, jobs_started):
    index, _allow_df, _allow = tombstoned
    wand_topk(index, "danger", k=20).collect()  # warm the reader
    rows, jobs = jobs_started(
        lambda: _rows(wand_topk(index, "danger", k=20))
    )
    assert jobs == 1
    want = _rows(exact_topk(index, "danger", k=20))
    assert [(r, d) for r, d, _ in rows] == [(r, d) for r, d, _ in want]
    for (_, _, gs), (_, _, es) in zip(rows, want):
        assert abs(gs - es) < 1e-9


def test_serve_equals_exact_across_generations(tombstoned):
    """The serve tier decodes a term's generations through the same
    decoder and drops tombstoned postings with the same mask as the chunk
    kernel: on the two-generation tombstoned index its pages equal
    exact_topk's for every query here, not only a single term."""
    from share_spark.query.serve import TopKServer

    index, _allow_df, _allow = tombstoned
    srv = TopKServer.open(index.index_dir)
    for q in QUERIES:
        want = _rows(exact_topk(index, q, k=20))
        got = [(rk, d, s) for d, s, rk in srv.topk(q, k=20)]
        assert want, q
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], q
        for (_, _, gs), (_, _, es) in zip(got, want):
            assert abs(gs - es) < 1e-9, q
