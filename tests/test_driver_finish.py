"""A generation's finish — term_stats, the serve copy (postings_term) and
the manifest metrics — runs on the driver when its postings are no larger
than build._DRIVER_FINISH_MAX_BYTES and the session's parquet codec is one
pyarrow writes, and as Spark jobs otherwise.

Pinned here:
  1. the generation manifest records which finish ran, the postings bytes
     and the limit it was judged against
  2. the driver finish writes the same term_stats and postings_term rows,
     in as many files, and the same manifest stats, as the Spark finish of
     the same pages; it writes with the session's codec or not at all
  3. two driver finishes of the same pages write byte-identical files
  4. an index with a Spark-finished base and a driver-finished ingest
     generation ranks identically under wand_topk, exact_topk and the
     serve tier
  5. the engine's reads name their schema: opening a reader and building
     its frames starts no Spark job, and the seen store's first-batch
     probe still reads a missing dir as "no store"
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from share_spark.corpus import make_web_pages
from share_spark.index import build
from share_spark.index.build import IndexConfig, IndexReader, build_index
from share_spark.query.bm25 import exact_topk
from share_spark.query.serve import TopKServer
from share_spark.query.wand import wand_topk
from share_spark.streaming.incremental import apply_incremental

CFG = IndexConfig(block_size=32, chunk_docs=64)
QUERIES = ["the", "danger", "the data", "danger -warning", '"the data"', "zzmarker the"]


@contextmanager
def spark_finish(on: bool = True):
    """Every generation built in the block takes the Spark finish."""
    before = build._DRIVER_FINISH_MAX_BYTES
    if on:
        build._DRIVER_FINISH_MAX_BYTES = 0
    try:
        yield
    finally:
        build._DRIVER_FINISH_MAX_BYTES = before


def _gen_manifest(d, gen=0):
    with open(os.path.join(d, f"gen{gen}", "manifest.json")) as f:
        return json.load(f)


def _files(d, stage):
    path = os.path.join(d, "gen0", stage)
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def _table(d, stage, keys):
    path = os.path.join(d, "gen0", stage)
    tbl = pa.concat_tables(
        [pq.read_table(os.path.join(path, f)) for f in _files(d, stage)]
    )
    return tbl.sort_by([(k, "ascending") for k in keys]).to_pylist()


@pytest.fixture(scope="module")
def finishes(spark, tmp_path_factory):
    """{"driver", "driver2", "spark"}: index dirs of the same 240 pages,
    "spark" built with the Spark finish forced."""
    pages = spark.createDataFrame(make_web_pages(240, seed=7))
    dirs = {}
    for name in ("driver", "spark", "driver2"):
        dirs[name] = str(tmp_path_factory.mktemp(f"finish_{name}"))
        with spark_finish(name == "spark"):
            build_index(spark, pages, dirs[name], CFG)
    return dirs


def test_manifest_records_finish(finishes):
    cap = build._DRIVER_FINISH_MAX_BYTES
    for name, path, limit in (("driver", "driver", cap), ("spark", "spark", 0)):
        d = finishes[name]
        fin = _gen_manifest(d)["finish"]
        post = os.path.join(d, "gen0", "postings")
        size = sum(
            os.path.getsize(os.path.join(post, f)) for f in _files(d, "postings")
        )
        assert fin == {"path": path, "postings_bytes": size, "limit": limit}, name
        assert 0 < size <= cap


def test_driver_finish_equals_spark_finish(finishes):
    drv, spk = finishes["driver"], finishes["spark"]
    assert _table(drv, "term_stats", ["term"]) == _table(spk, "term_stats", ["term"])
    keys = ["term", "chunk", "first_doc"]
    assert _table(drv, "postings_term", keys) == _table(spk, "postings_term", keys)
    md, ms = _gen_manifest(drv), _gen_manifest(spk)
    for key in ("n_docs", "n_terms", "avgdl", "partitions"):
        assert md[key] == ms[key], key
    # the Spark finish's file layout: one file per range partition
    for stage in ("term_stats", "postings_term"):
        n = len(_files(spk, stage))
        assert n > 1, stage
        assert _files(drv, stage) == [f"part-{i:05d}.parquet" for i in range(n)]


def test_write_parts_slices_and_row_groups(tmp_path):
    """Contiguous slices, one file each, row groups capped at rg_rows; an
    empty table still writes one (empty) file."""
    tbl = pa.table({"term": [f"t{i:02d}" for i in range(10)], "docs_bin": [b"x"] * 10})
    d = str(tmp_path / "parts")
    build._write_parts(tbl, d, 3, 2, ("zstd", 3))
    names = sorted(os.listdir(d))
    assert names == ["part-00000.parquet", "part-00001.parquet", "part-00002.parquet"]
    files = [pq.ParquetFile(os.path.join(d, n)) for n in names]
    assert [f.metadata.num_rows for f in files] == [4, 4, 2]
    assert [f.metadata.num_row_groups for f in files] == [2, 2, 1]
    assert pa.concat_tables([f.read() for f in files]).equals(tbl)
    build._write_parts(tbl.slice(0, 0), d, 3, None, ("zstd", 3))
    assert os.listdir(d) == ["part-00000.parquet"]
    assert pq.read_table(d).num_rows == 0


def test_finish_codec_follows_the_session(spark):
    """The driver finish writes the session's parquet codec, at parquet-mr's
    zstd level; a codec pyarrow does not write as Spark does sends the
    generation to the Spark finish (None)."""
    key, level = "spark.sql.parquet.compression.codec", "parquet.compression.codec.zstd.level"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "zstd")
        assert build._arrow_codec(spark) == ("zstd", 3)
        spark.conf.set(level, "9")
        assert build._arrow_codec(spark) == ("zstd", 9)
        spark.conf.set(key, "snappy")
        assert build._arrow_codec(spark) == ("snappy", None)
        for name in ("lz4", "lzo"):
            spark.conf.set(key, name)
            assert build._arrow_codec(spark) is None, name
    finally:
        spark.conf.set(key, before)
        spark.conf.unset(level)


def test_driver_finish_is_byte_reproducible(finishes):
    a, b = finishes["driver"], finishes["driver2"]
    for stage in ("term_stats", "postings_term"):
        names = _files(a, stage)
        assert names == _files(b, stage), stage
        for f in names:
            with open(os.path.join(a, "gen0", stage, f), "rb") as fa, open(
                os.path.join(b, "gen0", stage, f), "rb"
            ) as fb:
                assert fa.read() == fb.read(), (stage, f)


@pytest.fixture(scope="module")
def mixed(spark, tmp_path_factory):
    """A Spark-finished base and a driver-finished ingest generation that
    replaces every doc with doc_id % 4 == 1 (tombstoning its base copy)."""
    pages = make_web_pages(240, seed=7)
    d = str(tmp_path_factory.mktemp("mixed"))
    with spark_finish():
        build_index(spark, spark.createDataFrame(pages), d, CFG)
    changed = pages[pages.doc_id % 4 == 1].copy()
    changed["text"] = ["zzmarker " + t for t in changed["text"]]
    changed["html"] = None  # extract prefers html over text
    apply_incremental(spark, d, spark.createDataFrame(changed), CFG)
    assert _gen_manifest(d, 0)["finish"]["path"] == "spark"
    assert _gen_manifest(d, 1)["finish"]["path"] == "driver"
    return d


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


def test_mixed_finishes_rank_identically(spark, mixed):
    index = IndexReader.open(spark, mixed)
    srv = TopKServer.open(mixed)
    for q in QUERIES:
        want = _rows(exact_topk(index, q, k=20))
        assert want, q
        for got in (
            _rows(wand_topk(index, q, k=20)),
            [(rk, doc, s) for doc, s, rk in srv.topk(q, k=20)],
        ):
            assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], q
            for (_, _, gs), (_, _, es) in zip(got, want):
                assert abs(gs - es) < 1e-9, q


def test_reader_frames_start_no_job(spark, mixed, jobs_started):
    """Every frame reads with the schema the engine wrote, so none runs a
    schema-inference job."""

    def frames():
        index = IndexReader.open(spark, mixed)
        return [
            index.postings(),
            index.postings(interactive=True),
            index.docs(),
            index.term_stats(),
            index.tombstones(),
            index.tombstones(interactive=True),
            index.live_docs(),
        ]

    out, jobs, _tasks = jobs_started(frames)
    assert jobs == 0
    assert all(df is not None for df in out)


def test_seen_store_read_names_its_schema(spark, tmp_path, jobs_started):
    from share_spark.streaming.corpus import SEEN_SCHEMA, _seen

    d = str(tmp_path / "seen")
    assert _seen(spark, d) is None  # first batch: no store yet
    spark.createDataFrame([("k1", "fp"), ("k2", "url")], SEEN_SCHEMA).write.parquet(d)
    seen, jobs, _tasks = jobs_started(lambda: _seen(spark, d))
    assert jobs == 0
    assert sorted(tuple(r) for r in seen.collect()) == [("k1", "fp"), ("k2", "url")]
