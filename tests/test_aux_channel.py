"""The query plane's chunk-kernel path: tombstones and filter rows are
unioned into the posting-block slice and reach the chunk kernel with it —
on the driver when the slice is no larger than one file open and no filter
rides along (the narrow case), through one chunk shuffle otherwise (the
exchange shape).

Pinned here:
  1. on a two-generation index with replacement tombstones, wand_topk is
     rank- and score-identical to exact_topk, with and without a filter,
     in both cases — with chunks that hold both aux kinds (tombstones and
     allowed docs) at once
  2. match_docs equals the exact boolean set there, with a filter in both
     cases and without one in both cases
  3. the executed match_docs plan has no cogroup and no Sort: with a
     filter, one hashpartitioning(chunk) exchange feeds MapInArrow;
     without one, a narrow slice is a LocalTableScan of the driver's set
  4. idf resolves for terms holding quotes and backslashes (field paths)
  5. a warm reader's narrow top-k starts no Spark job, and a fresh
     reader's shared caches give identical pages to concurrent clients
  6. a legacy tombstone dir with two rows for one doc collapses to the
     larger before_gen in the kernel as in the exact scorer
  7. the serve tier's pages equal exact_topk's on the same index, and so
     do the driver top-k's, at offset 0 and past it
  8. a serve-copy file missing from a generation raises: no silent
     fallback to Spark
"""

from __future__ import annotations

import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
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


# These slices are far below Spark's default openCostInBytes, so an
# unfiltered query runs on the driver; past_one_open (conftest) forces the
# exchange shape.
SHAPES = ("narrow", "exchange")


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


def _executed_plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the final plan, not the initial one
    return plan.toString()


def _assert_same(got, want, q):
    assert want, q  # every query matches something in this corpus
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], q
    for (_, _, gs), (_, _, es) in zip(got, want):
        assert abs(gs - es) < 1e-9, q


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
@pytest.mark.parametrize("k", [20, 1], ids=["single_phase", "two_phase"])
def test_wand_equals_exact_with_tombstones(tombstoned, past_one_open, filtered, k):
    """The one plan in both cases (a filtered query takes the Spark
    exchange whatever the conf; the loop pins that too). The ids keep the
    names of the two plans this test once covered: `single_phase` runs a
    20-doc page, `two_phase` a one-doc page, whose threshold prunes
    hardest, as the two-phase plan's first batch did."""
    index, allow_df, _allow = tombstoned
    fdf = allow_df if filtered else None
    for q in QUERIES:
        want = _rows(exact_topk(index, q, k=k, filter_docs=fdf))
        for shape in SHAPES:
            with past_one_open(shape == "exchange"):
                got = _rows(wand_topk(index, q, k=k, filter_docs=fdf))
            _assert_same(got, want, (q, k, shape))


def test_match_docs_filtered_equals_exact_set(tombstoned, past_one_open):
    """The filtered set, and the unfiltered one (the input the driver
    takes when it is narrow), in both cases."""
    index, allow_df, allow = tombstoned
    for q in QUERIES:
        for fdf in (allow_df, None):
            want = {
                r["doc_id"]
                for r in exact_topk(
                    index, q, k=1_000_000, filter_docs=fdf
                ).collect()
            }
            assert want, q
            for shape in SHAPES:
                with past_one_open(shape == "exchange"):
                    got = [
                        r["doc_id"]
                        for r in match_docs(index, q, filter_docs=fdf).collect()
                    ]
                assert sorted(got) == sorted(want), (q, shape)
                assert len(got) == len(set(got)), (q, shape)
                if fdf is not None:
                    assert set(got) <= allow, (q, shape)


def test_match_docs_plan_is_one_chunk_shuffle(tombstoned):
    """Tombstones and the filter must ride the blocks' own chunk shuffle:
    a grouped/cogrouped pandas plan (and the Sort it needs) must not come
    back."""
    index, allow_df, _allow = tombstoned
    text = _executed_plan(match_docs(index, "the data", filter_docs=allow_df))
    assert "CoGroup" not in text, text
    assert "FlatMapCoGroupsInPandas" not in text, text
    assert not re.search(r"\bSort", text), text
    assert text.count("hashpartitioning(chunk") == 1, text
    lines = text.splitlines()
    at = next(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    feed = next(ln for ln in lines[at + 1:] if "Exchange" in ln)
    assert "hashpartitioning(chunk" in feed, text


@pytest.mark.parametrize("shape", SHAPES)
def test_unfiltered_plan_shape(tombstoned, past_one_open, shape):
    """Without a filter, a slice no larger than openCostInBytes is matched
    on the driver: the frame is a LocalTableScan, with no MapInArrow, no
    Exchange and no aggregate. Forced past the threshold, the same query
    takes the one chunk shuffle, with no Sort and no aggregate (the
    tombstones are raw rows)."""
    index, _allow_df, _allow = tombstoned
    with past_one_open(shape == "exchange"):
        text = _executed_plan(match_docs(index, "the data"))
    assert not re.search(r"\bSort", text), text
    assert "Aggregate" not in text, text
    if shape == "narrow":
        assert re.match(r"\s*LocalTableScan", text), text
        assert "MapInArrow" not in text and "Exchange" not in text, text
    else:
        lines = text.splitlines()
        at = next(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
        assert text.count("hashpartitioning(chunk") == 1, text
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


def test_warm_tombstoned_topk_starts_no_job(tombstoned, jobs_started):
    """A narrow top-k on the tombstoned index runs on the driver: the page
    and its collect start no Spark job and run no task."""
    index, _allow_df, _allow = tombstoned
    wand_topk(index, "danger", k=20).collect()  # warm the reader
    rows, jobs, tasks = jobs_started(
        lambda: _rows(wand_topk(index, "danger", k=20))
    )
    assert (jobs, tasks) == (0, 0)
    _assert_same(rows, _rows(exact_topk(index, "danger", k=20)), "danger")


def test_legacy_duplicate_tombstones_collapse_in_kernel(spark, tmp_path):
    """A legacy in-place tombstone dir may hold several rows for one doc.
    The top-k reads them raw and collapses them per chunk; the doc must be
    dead up to the LARGER before_gen, as in the exact scorer's aggregate."""
    pages = make_web_pages(240, seed=7)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pages), d, CFG)
    changed = pages[pages.doc_id % 4 == 1].copy()
    changed["text"] = ["zzmarker " + t for t in changed["text"]]
    changed["html"] = None
    apply_incremental(spark, d, spark.createDataFrame(changed), CFG)
    before = IndexReader.open(spark, d)
    victim = _rows(wand_topk(before, "zzmarker", k=1))[0][1]

    # the pre-snapshot layout: in-place `tombstones` dir, no pointer
    man_path = os.path.join(d, "manifest.json")
    with open(man_path) as f:
        man = json.load(f)
    legacy = os.path.join(d, "tombstones")
    os.rename(os.path.join(d, man.pop("tombstones")), legacy)
    with open(man_path, "w") as f:
        json.dump(man, f)
    os.remove(os.path.join(d, "snapshots.jsonl"))
    # the victim already has a replacement row (before_gen=1, its gen-0
    # copy); a second row with before_gen=2 kills its gen-1 copy too
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([victim], pa.int64()),
                "before_gen": pa.array([2], pa.int32()),
            }
        ),
        os.path.join(legacy, "part-legacy-dup.parquet"),
    )
    index = IndexReader.open(spark, d)
    assert index.tombstone_dir == "tombstones"
    gens = sorted(
        r["before_gen"]
        for r in index.tombstones(interactive=True)
        .filter(F.col("doc_id") == victim)
        .collect()
    )
    assert gens == [1, 2]
    for q in ("zzmarker", "zzmarker the", "the"):
        want = _rows(exact_topk(index, q, k=20))
        got = _rows(wand_topk(index, q, k=20))
        _assert_same(got, want, q)
        assert victim not in {doc for _, doc, _ in got}, q


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
        _assert_same(got, want, q)


@pytest.mark.parametrize("offset", [0, 7])
def test_driver_topk_equals_exact_and_serve(tombstoned, jobs_started, offset):
    """The driver top-k against two independent scorers: exact_topk (the
    Spark join scorer) and the serve tier. The serve tier shares the
    driver's reader, so exact_topk is the independent check."""
    from share_spark.query.serve import TopKServer

    index, _allow_df, _allow = tombstoned
    srv = TopKServer.open(index.index_dir)
    for q in QUERIES:
        got, jobs, _tasks = jobs_started(
            lambda: _rows(wand_topk(index, q, k=20, offset=offset))
        )
        assert jobs == 0, q
        want = _rows(exact_topk(index, q, k=20, offset=offset))
        served = [(rk, d, s) for d, s, rk in srv.topk(q, k=20, offset=offset)]
        if not want:  # fewer matches than the offset
            assert offset and got == served == [], q
            continue
        _assert_same(got, want, (q, offset))
        _assert_same(served, want, (q, offset))


def test_driver_match_docs_equals_exact_set(tombstoned, jobs_started):
    index, _allow_df, _allow = tombstoned
    for q in QUERIES:
        got, jobs, _tasks = jobs_started(
            lambda: [r["doc_id"] for r in match_docs(index, q).collect()]
        )
        assert jobs == 0, q
        want = {
            r["doc_id"] for r in exact_topk(index, q, k=1_000_000).collect()
        }
        assert sorted(got) == sorted(want), q


def test_driver_topk_concurrent_clients_share_one_reader(spark, tombstoned):
    """Eight clients on one freshly opened reader, with thread switches
    forced often, fill its footer, term dictionary and tombstone caches
    concurrently and get the pages one client gets."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    index, _allow_df, _allow = tombstoned
    want = {q: _rows(wand_topk(index, q, k=20)) for q in QUERIES}
    fresh = IndexReader.open(spark, index.index_dir)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = [
                pool.submit(lambda q=q: (q, _rows(wand_topk(fresh, q, k=20))))
                for q in QUERIES * 4
            ]
            pages = [f.result(timeout=120) for f in futs]
    finally:
        sys.setswitchinterval(interval)
    for q, got in pages:
        assert got == want[q], q


def test_missing_serve_file_raises(spark, tombstoned, tmp_path, jobs_started):
    """The index dir is local by contract, so a serve-copy file missing
    from a generation is a broken index: the driver top-k raises (its row
    count disagrees with the generation manifest) and starts no Spark job
    in its place."""
    import shutil

    index, _allow_df, _allow = tombstoned
    d = str(tmp_path / "idx")
    shutil.copytree(index.index_dir, d)
    serve = os.path.join(d, "gen0", "postings_term")
    files = sorted(f for f in os.listdir(serve) if f.endswith(".parquet"))
    assert len(files) > 1
    os.remove(os.path.join(serve, files[-1]))
    broken = IndexReader.open(spark, d)

    def query():
        with pytest.raises(ValueError, match="postings_term"):
            wand_topk(broken, "the data", k=20)

    _out, jobs, _tasks = jobs_started(query)
    assert jobs == 0
