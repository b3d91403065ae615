from __future__ import annotations

import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from share_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("share_spark_tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_pdf():
    from share_spark.corpus import make_web_pages

    return make_web_pages(300, seed=42)


@pytest.fixture(scope="session")
def built_index(spark, pages_pdf, tmp_path_factory):
    """A small built index shared across query tests."""
    from share_spark.index.build import IndexConfig, IndexReader, build_index

    idx_dir = str(tmp_path_factory.mktemp("index"))
    pages = spark.createDataFrame(pages_pdf)
    cfg = IndexConfig(analyzer="standard", block_size=32, chunk_docs=64)
    build_index(spark, pages, idx_dir, cfg)
    return IndexReader.open(spark, idx_dir)


@pytest.fixture
def jobs_started(spark):
    """run(fn) -> (fn(), Spark jobs fn started, tasks those jobs ran), from
    statusTracker once the listener bus has drained. Counts job ids with
    no job group, so it is exact only while one call runs at a time."""
    sc = spark.sparkContext
    st = sc.statusTracker()

    def run(fn):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        before = set(st.getJobIdsForGroup(None))
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = set(st.getJobIdsForGroup(None)) - before
        stages = {s for j in jobs for s in st.getJobInfo(j).stageIds}
        infos = [st.getStageInfo(s) for s in stages]
        tasks = sum(i.numCompletedTasks + i.numFailedTasks for i in infos)
        return out, len(jobs), tasks

    return run


@pytest.fixture(scope="session")
def past_one_open(spark):
    """`with past_one_open():` runs the block with every input counted as
    larger than one file open (spark.sql.files.openCostInBytes=0, Spark's
    own conf, not an engine option), so a top-k or match_docs slice takes
    the chunk exchange. `past_one_open(False)` leaves the conf alone. The
    session's value is restored on exit."""
    key = "spark.sql.files.openCostInBytes"

    @contextmanager
    def forced(on: bool = True):
        before = spark.conf.get(key)
        if on:
            spark.conf.set(key, "0")
        try:
            yield
        finally:
            spark.conf.set(key, before)

    return forced


@pytest.fixture
def chunks_decoded(monkeypatch):
    """run(index, query, k) -> (the pass's top-k [(doc_id, score)], chunks
    it decoded): _chunk_pass, the per-task body of the chunk exchange, run
    in-process with the top-k kernel over the reader's whole slice of the
    query's terms and its tombstones, as one task would see them. A test
    that expects block-max pruning asserts that chunks were skipped, not
    assumed, on the pass itself."""
    import numpy as np
    import pyarrow as pa

    from share_spark.query import wand
    from share_spark.query.bm25 import parse_disjunction, query_terms

    def run(index, query, k):
        branches = parse_disjunction(query, index.analyzer)
        pos, terms = query_terms(branches)
        kernel = wand._ChunkScorer(
            branches, wand.term_idfs(index.n_docs, index.term_stats_local(pos)),
            index.k1, index.b, index.avgdl, k, False,
        )
        blocks = index.slices.slice(
            terms,
            ["term", "chunk", "first_doc", "n", "docs_bin", "tfs_bin",
             "dls_bin", "max_tf", "min_dl"],
        )
        ids, before = index.tombstone_arrays()
        aux = pa.table(
            {
                "chunk": ids // index.chunk_docs,
                "doc_id": ids,
                "before_gen": before,
                "kind": pa.repeat("tomb", ids.size),
            }
        )
        calls: list = []
        real = wand._live_lists
        with monkeypatch.context() as m:
            m.setattr(
                wand, "_live_lists", lambda *a: calls.append(1) or real(*a)
            )
            out = wand._chunk_pass(blocks, aux, kernel)
        if out is None:
            return [], len(calls)
        ids, scores = out.column("doc_id").to_numpy(), out.column("score").to_numpy()
        top = np.lexsort((ids, -scores))[:k]
        return list(zip(ids[top].tolist(), scores[top].tolist())), len(calls)

    return run
