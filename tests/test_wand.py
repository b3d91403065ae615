"""Block-max WAND path must be rank-identical to the exact scorer."""

import pytest

from share_spark.corpus import make_queries
from share_spark.query.bm25 import exact_topk
from share_spark.query.wand import RESULT_SCHEMA, wand_topk


def _rows(df):
    return [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in df.collect()]


@pytest.mark.parametrize(
    "qtext,k",
    [
        ("danger", 13),
        ("the", 13),
        ("the data science", 101),
        ("w00001 w00002", 13),
        ("w09999", 13),
        ("danger -warning", 13),
        ("nosuchtermanywhere", 13),
        ("danger nosuchtermanywhere", 13),
    ],
)
def test_wand_matches_exact(built_index, qtext, k):
    exact = _rows(exact_topk(built_index, qtext, k=k)) if qtext != "nosuchtermanywhere" else []
    if "nosuchterm" in qtext:
        assert _rows(wand_topk(built_index, qtext, k=k)) == []
        return
    got = _rows(wand_topk(built_index, qtext, k=k))
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in exact]
    for (_, _, gs), (_, _, es) in zip(got, exact):
        assert abs(gs - es) < 1e-9


def test_wand_query_set(built_index):
    for q in make_queries(20):
        exact = _rows(exact_topk(built_index, q["query_text"], k=q["k"]))
        got = _rows(wand_topk(built_index, q["query_text"], k=q["k"]))
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in exact], q
        for (_, _, gs), (_, _, es) in zip(got, exact):
            assert abs(gs - es) < 1e-9


@pytest.mark.parametrize(
    "qtext",
    [
        '"nothing valued is here"',      # planted phrase A
        '"nothing valued here"',         # words present, order broken: no hit
        '"place of honor"',
        'danger -"warning about danger"',  # negated phrase
        '"danger is unleashed" place',   # phrase AND extra term
        '"the data"',                    # head-term phrase (many candidates)
        '"is a"',
    ],
)
def test_wand_phrases_match_exact_and_frozen(built_index, pages_pdf, qtext):
    """Phrases run natively through the positional index in BOTH paths and
    must agree with each other and the frozen pure-Python oracle."""
    from tests.frozen_bm25 import FrozenIndex

    frozen = FrozenIndex.from_pages(pages_pdf)
    want = [(r, d) for r, d, _ in frozen.topk(qtext, k=13)]
    exact = _rows(exact_topk(built_index, qtext, k=13))
    got = _rows(wand_topk(built_index, qtext, k=13))
    assert [(r, d) for r, d, _ in exact] == want, qtext
    assert [(r, d) for r, d, _ in got] == want, qtext
    for (_, _, gs), (_, _, es) in zip(got, exact):
        assert abs(gs - es) < 1e-9


def test_wand_filter_docs_full_page(built_index, spark):
    """filter_docs is applied inside the kernel BEFORE truncation: a highly
    selective filter must still return a full page when enough filtered
    matches exist (the 4x-overfetch bug class)."""
    full = _rows(wand_topk(built_index, "the", k=300))
    # filter keeps every 3rd ranked doc — selective (67% dropped)
    keep = [d for i, (_, d, _) in enumerate(full) if i % 3 == 0]
    fdf = spark.createDataFrame([(d,) for d in keep], "doc_id long")
    page = _rows(wand_topk(built_index, "the", k=13, filter_docs=fdf))
    assert [d for _, d, _ in page] == keep[:13]
    # exact path agrees
    epage = _rows(exact_topk(built_index, "the", k=13, filter_docs=fdf))
    assert [(r, d) for r, d, _ in page] == [(r, d) for r, d, _ in epage]


@pytest.mark.parametrize("exchange", [False, True], ids=["driver", "exchange"])
def test_wand_pruned_pass_matches_exact(built_index, past_one_open, exchange):
    """The bound-pruned chunk pass is rank-identical to the exact scorer
    on both transports, from a one-doc page (the tightest threshold) to a
    page past the match count."""
    for qtext, k in [
        ("danger", 1), ("danger", 13), ("the data", 13), ("the", 2),
        ("w00001 w00002", 101),
    ]:
        exact = _rows(exact_topk(built_index, qtext, k=k))
        with past_one_open(exchange):
            got = _rows(wand_topk(built_index, qtext, k=k))
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in exact], qtext
        for (_, _, gs), (_, _, es) in zip(got, exact):
            assert abs(gs - es) < 1e-9


@pytest.mark.parametrize("exchange", [False, True], ids=["driver", "exchange"])
def test_chunk_bound_equal_to_threshold_is_scored(
    spark, tmp_path, past_one_open, chunks_decoded, exchange
):
    """Chunk 1 (docs 4-7) has the higher bound, so the chunk pass scores
    it first, and its page of two sets tau to doc 5's score. Chunk 0's
    bound is exactly that score: its one doc, doc 0, ties doc 5 and wins
    on doc_id, so a chunk whose bound equals tau must be scored. Both
    transports agree with the exact scorer; the pass itself is run
    in-process to see that it decoded both chunks."""
    import pandas as pd

    from share_spark.index.build import IndexConfig, IndexReader, build_index

    text = {0: "alpha pad", 4: "alpha alpha", 5: "alpha pad"}
    pages = pd.DataFrame(
        {
            "doc_id": range(8),
            "url": [f"u{i}" for i in range(8)],
            "lang": "en",
            "text": [text.get(i, "pad pad") for i in range(8)],
            "html": None,
        }
    )
    d = str(tmp_path / "tie")
    build_index(spark, spark.createDataFrame(pages), d, IndexConfig(block_size=4, chunk_docs=4))
    index = IndexReader.open(spark, d)
    exact = _rows(exact_topk(index, "alpha", k=2))
    assert [d for _, d, _ in exact] == [4, 0]
    with past_one_open(exchange):
        got = _rows(wand_topk(index, "alpha", k=2))
    assert got == exact
    top, decoded = chunks_decoded(index, "alpha", 2)
    assert [d for d, _ in top] == [4, 0]
    assert decoded == 2


def test_url_derived_ids_start_no_job(spark, pages_pdf, tmp_path, jobs_started):
    """Pages without a doc_id column get ids from xxhash64(url): sparse,
    full-range int64, so about one chunk per doc. A narrow top-k and match
    set over such an index still run on the driver, with no Spark job, and
    agree with the exact scorer."""
    from share_spark.index.build import IndexConfig, IndexReader, build_index
    from share_spark.query.wand import match_docs

    pages = spark.createDataFrame(pages_pdf.drop(columns=["doc_id"]))
    d = str(tmp_path / "urlidx")
    build_index(spark, pages, d, IndexConfig(block_size=32, chunk_docs=64))
    index = IndexReader.open(spark, d)
    ids = {r["doc_id"] for r in index.docs().select("doc_id").collect()}
    assert min(ids) < 0 < max(ids)  # full-range hashed ids
    for qtext in ("danger", "the data", "danger -warning"):
        wand_topk(index, qtext, k=13).collect()  # warm the reader
        got, jobs, _tasks = jobs_started(
            lambda: _rows(wand_topk(index, qtext, k=13))
        )
        assert jobs == 0, qtext
        exact = _rows(exact_topk(index, qtext, k=13))
        assert exact, qtext
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in exact]
        for (_, _, gs), (_, _, es) in zip(got, exact):
            assert abs(gs - es) < 1e-9
        matched, jobs, _tasks = jobs_started(
            lambda: [r["doc_id"] for r in match_docs(index, qtext).collect()]
        )
        assert jobs == 0, qtext
        want = exact_topk(index, qtext, k=1_000_000).collect()
        assert sorted(matched) == sorted(r["doc_id"] for r in want), qtext


def test_wand_offset(built_index):
    full = _rows(wand_topk(built_index, "the data", k=30))
    page = _rows(wand_topk(built_index, "the data", k=10, offset=10))
    assert [(d) for _, d, _ in page] == [d for _, d, _ in full[10:20]]


@pytest.mark.parametrize(
    "qtext,empty", [('"nothing valued here"', True), ("danger", False)]
)
def test_page_collect_starts_no_job(built_index, spark, jobs_started, qtext, empty):
    """The page is a LocalRelation for empty and non-empty pages alike, and
    a narrow query is scored on the driver: neither the query nor
    collecting its page starts a Spark job (a pandas page takes the Arrow
    path only when it has rows)."""
    page, jobs, _tasks = jobs_started(lambda: wand_topk(built_index, qtext))
    assert jobs == 0
    rows, jobs, _tasks = jobs_started(page.collect)
    assert jobs == 0
    assert (rows == []) == empty
    assert page.schema == spark.createDataFrame([], RESULT_SCHEMA).schema


def test_warm_topk_starts_no_job(built_index, jobs_started):
    """A slice no larger than one file open (spark.sql.files.openCostInBytes)
    is scored on the driver: the query starts no Spark job and runs no
    task, and ranks as exact_topk does."""
    wand_topk(built_index, "the data", k=13).collect()  # warm the reader
    rows, jobs, tasks = jobs_started(
        lambda: _rows(wand_topk(built_index, "the data", k=13))
    )
    assert (jobs, tasks) == (0, 0)
    exact = _rows(exact_topk(built_index, "the data", k=13))
    assert [(r, d) for r, d, _ in rows] == [(r, d) for r, d, _ in exact]


def test_new_query_compiles_no_class(built_index, spark, past_one_open):
    """idf reaches the kernel in its closure, not as per-query literals in
    the projection, so a second two-term query generates the same Java
    source as the first and Spark's codegen cache compiles nothing. Run
    past one file open, so the queries take the Spark projection."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metric.METRIC_COMPILATION_TIME()

    def run(q):
        before = compiles.getCount()
        with past_one_open():
            rows = _rows(wand_topk(built_index, q, k=13))
        return rows, compiles.getCount() - before

    run("the data")  # the plan shape's first query may compile
    for q in ("the danger", "data science"):
        rows, n = run(q)
        assert n == 0, q
        assert rows, q
        exact = _rows(exact_topk(built_index, q, k=13))
        assert [(r, d) for r, d, _ in rows] == [(r, d) for r, d, _ in exact]
        assert all(abs(a[2] - b[2]) <= 1e-9 for a, b in zip(rows, exact))


@pytest.fixture(scope="module")
def tombstoned(spark, pages_pdf, tmp_path_factory):
    """(index dir, expelled doc): the shared 300-page corpus with its top
    `danger` hit expelled, so the index has one tombstone version."""
    from share_spark.index.build import IndexConfig, IndexReader, build_index
    from share_spark.streaming.incremental import expel

    d = str(tmp_path_factory.mktemp("tombstoned") / "idx")
    build_index(spark, spark.createDataFrame(pages_pdf), d,
                IndexConfig(block_size=32, chunk_docs=64))
    victim = _rows(exact_topk(IndexReader.open(spark, d), "danger", k=1))[0][1]
    expel(spark, d, [victim])
    return d, victim


def test_warm_driver_query_touches_no_directory(
    spark, tombstoned, jobs_started, monkeypatch
):
    """An IndexReader lists and sizes its tombstone version once: warm
    driver top-ks on a tombstoned index call os.listdir and os.stat not at
    all, and still drop the expelled doc."""
    import os

    from share_spark.index.build import IndexReader

    d, victim = tombstoned
    index = IndexReader.open(spark, d)
    assert index.tombstone_dir is not None
    for _ in range(2):
        wand_topk(index, "danger", k=5).collect()  # warm the reader
    calls = {"listdir": 0, "stat": 0}
    for name in calls:
        real = getattr(os, name)
        monkeypatch.setattr(
            os, name,
            lambda *a, _n=name, _f=real, **k: calls.__setitem__(_n, calls[_n] + 1)
            or _f(*a, **k),
        )
    pages, jobs, _tasks = jobs_started(
        lambda: [wand_topk(index, "danger", k=5) for _ in range(10)]
    )
    monkeypatch.undo()
    assert calls == {"listdir": 0, "stat": 0}
    assert jobs == 0
    got = _rows(pages[-1])
    assert victim not in {doc for _, doc, _ in got}
    assert got == _rows(exact_topk(index, "danger", k=5))


def test_driver_decision_counts_the_columns_it_reads(
    spark, tombstoned, jobs_started
):
    """_on_driver sizes a query by what the driver reads: the whole-list
    columns of its terms' serve-copy row groups (not the exchange's bound
    columns max_tf/min_dl or the chunk key) plus the tombstone version's
    files. With openCostInBytes at exactly that sum the query runs on the
    driver with no Spark job; one byte less and it takes the exchange.
    Both give the exact page."""
    import glob
    import os

    import pyarrow.parquet as pq

    from share_spark.index.build import IndexReader

    d, _victim = tombstoned
    read = ["term", "first_doc", "n", "docs_bin", "tfs_bin", "dls_bin"]
    size = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(d, IndexReader.open(spark, d).tombstone_dir, "*.parquet"))
    )
    for f in glob.glob(os.path.join(d, "gen*", "postings_term", "*.parquet")):
        pf = pq.ParquetFile(f)
        for i in range(pf.metadata.num_row_groups):
            if "danger" in pf.read_row_group(i, columns=["term"]).column("term").to_pylist():
                rg = pf.metadata.row_group(i)
                size += sum(
                    rg.column(j).total_compressed_size
                    for j in range(rg.num_columns)
                    if rg.column(j).path_in_schema in read
                )
    exact = _rows(exact_topk(IndexReader.open(spark, d), "danger", k=5))
    key = "spark.sql.files.openCostInBytes"
    before = spark.conf.get(key)
    try:
        for limit in (size, size - 1):
            spark.conf.set(key, str(limit))
            index = IndexReader.open(spark, d)
            got, jobs, _tasks = jobs_started(
                lambda: _rows(wand_topk(index, "danger", k=5))
            )
            assert got == exact, limit
            assert (jobs == 0) == (limit == size), (limit, jobs)
    finally:
        spark.conf.set(key, before)
