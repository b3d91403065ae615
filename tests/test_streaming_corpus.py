"""Incremental corpus hygiene (streaming/corpus.py): cross-batch dedup
through the persistent seen-keys store, batch and readStream wiring."""

import pandas as pd
import pytest
from pyspark.sql import types as T

from share_spark.streaming import corpus as sc

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("url", T.StringType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "url"]), schema=SCHEMA
    )


def test_admit_batch_cross_batch_dedup(spark, tmp_path):
    corpus_dir = str(tmp_path / "corpus")
    seen_dir = str(tmp_path / "seen")

    b1 = _df(spark, [
        (0, "alpha text one", "https://a.example/p0"),
        (1, "beta text two", "https://a.example/p1"),
        (2, "alpha text one", "https://a.example/p2"),      # fp dup of 0
        (3, "gamma text", "HTTP://www.a.example/p1/"),      # url dup of 1
        (4, "delta has no url", None),                      # null url passes
    ])
    out1 = sc.admit_batch(spark, b1, corpus_dir, seen_dir)
    assert {r["doc_id"] for r in out1.collect()} == {0, 1, 4}

    b2 = _df(spark, [
        (10, "alpha text one", "https://b.example/new"),    # fp seen in b1
        (11, "epsilon fresh", "https://a.example/p0?utm_source=x"),  # url seen
        (12, "zeta fresh", "https://b.example/p12"),        # genuinely new
        (13, "delta has no url", None),                     # fp seen (doc 4)
    ])
    out2 = sc.admit_batch(spark, b2, corpus_dir, seen_dir)
    assert {r["doc_id"] for r in out2.collect()} == {12}

    # corpus dir holds exactly the admitted union
    got = {r["doc_id"] for r in spark.read.parquet(corpus_dir).collect()}
    assert got == {0, 1, 4, 12}

    # replaying batch 2 admits nothing (keys already persisted)
    out2b = sc.admit_batch(spark, b2, corpus_dir, seen_dir)
    assert out2b.collect() == []
    got = {r["doc_id"] for r in spark.read.parquet(corpus_dir).collect()}
    assert got == {0, 1, 4, 12}


def test_watch_corpus_stream(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    corpus_dir = str(tmp_path / "corpus")
    seen_dir = str(tmp_path / "seen")
    ck = str(tmp_path / "ck")

    _df(spark, [
        (0, "first page body", "https://s.example/0"),
        (1, "second page body", "https://s.example/1"),
    ]).write.parquet(str(src / "f0.parquet"))
    q = sc.watch_corpus(spark, str(src) + "/*", corpus_dir, seen_dir, ck, SCHEMA)
    q.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(corpus_dir).collect()} == {0, 1}

    # second segment re-crawls page 0 under a url variant + adds one new
    _df(spark, [
        (10, "first page body", "http://s.example/0/"),
        (11, "third page body", "https://s.example/2"),
    ]).write.parquet(str(src / "f1.parquet"))
    q = sc.watch_corpus(spark, str(src) + "/*", corpus_dir, seen_dir, ck, SCHEMA)
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(corpus_dir).collect()}
    assert got == {0, 1, 11}


def test_admit_batch_near_dedup(spark, tmp_path):
    corpus_dir = str(tmp_path / "corpus_nd")
    seen_dir = str(tmp_path / "seen_nd")
    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls on the quiet hillside near the old mill")
    b1 = _df(spark, [
        (0, base, "https://a.example/0"),
        (1, base.replace("rain", "snow"), "https://a.example/1"),  # near-dup of 0
        (2, "completely different words appear in this other document "
            "about engines and storage formats tonight", "https://a.example/2"),
    ])
    out1 = sc.admit_batch(spark, b1, corpus_dir, seen_dir, near_dedup=True)
    assert {r["doc_id"] for r in out1.collect()} == {0, 2}

    b2 = _df(spark, [
        # near-dup of doc 0 from batch 1 (one word changed) -> dropped
        (10, base.replace("dog", "cat"), "https://b.example/10"),
        # fresh text -> admitted
        (11, "fresh vocabulary entirely here covering crawl politeness "
             "and parsing markup into readable content", "https://b.example/11"),
    ])
    out2 = sc.admit_batch(spark, b2, corpus_dir, seen_dir, near_dedup=True)
    assert {r["doc_id"] for r in out2.collect()} == {11}
    got = {r["doc_id"] for r in spark.read.parquet(corpus_dir).collect()}
    assert got == {0, 2, 11}


def _parquet_files(path):
    import glob
    import os

    return set(glob.glob(os.path.join(path, "*.parquet")))


@pytest.mark.parametrize("near_dedup", [False, True])
def test_small_batch_appends_one_file_per_sink(spark, tmp_path, monkeypatch, near_dedup):
    """A batch under incremental._ONE_TASK_MAX_BYTES appends exactly one
    seen-keys file and one corpus file, with and without a store to
    anti-join; over the constant each sink gets a file per partition."""
    from share_spark.streaming import incremental

    corpus_dir = str(tmp_path / "corpus")
    seen_dir = str(tmp_path / "seen")

    def batch(lo):
        return _df(spark, [
            (i, f"page {i} words about topic {i % 7} and more text {i * 31}",
             f"https://w.example/p{i}")
            for i in range(lo, lo + 40)
        ]).repartition(4)

    admitted = set()
    for lo in (0, 100):
        seen0, corpus0 = _parquet_files(seen_dir), _parquet_files(corpus_dir)
        out = sc.admit_batch(spark, batch(lo), corpus_dir, seen_dir,
                             near_dedup=near_dedup)
        ids = {r["doc_id"] for r in out.collect()}
        # near-dup banding may drop some of these look-alike pages
        assert ids == set(range(lo, lo + 40)) or (near_dedup and ids)
        admitted |= ids
        assert len(_parquet_files(seen_dir) - seen0) == 1
        assert len(_parquet_files(corpus_dir) - corpus0) == 1

    monkeypatch.setattr(incremental, "_ONE_TASK_MAX_BYTES", -1)
    seen0, corpus0 = _parquet_files(seen_dir), _parquet_files(corpus_dir)
    out = sc.admit_batch(spark, batch(200), corpus_dir, seen_dir,
                         near_dedup=near_dedup)
    admitted |= {r["doc_id"] for r in out.collect()}
    assert len(_parquet_files(seen_dir) - seen0) > 1
    assert len(_parquet_files(corpus_dir) - corpus0) > 1
    got = {r["doc_id"] for r in spark.read.parquet(corpus_dir).collect()}
    assert got == admitted
