"""Index-build correctness: postings round-trip, stats, skew layout, resume."""

import numpy as np
from pyspark.sql import functions as F

from share_spark.corpus import make_web_pages
from share_spark.index.build import IndexConfig, IndexReader, build_index
from share_spark.query.bm25 import decode_blocks


def test_postings_roundtrip_matches_frozen(built_index, pages_pdf):
    """Decoded postings == frozen naive index's tf table, exactly."""
    from tests.frozen_bm25 import FrozenIndex

    frozen = FrozenIndex.from_pages(pages_pdf)
    decoded = decode_blocks(built_index.postings()).collect()
    got = {(r["term"], r["doc_id"]): (r["tf"], r["dl"]) for r in decoded}
    want = {
        (t, d): (c, len(frozen.tokens[d]))
        for d, cnt in frozen.tf.items()
        for t, c in cnt.items()
    }
    assert got == want


def test_term_stats_match_frozen(built_index, pages_pdf):
    from tests.frozen_bm25 import FrozenIndex

    frozen = FrozenIndex.from_pages(pages_pdf)
    stats = {r["term"]: r["df"] for r in built_index.term_stats().collect()}
    assert stats == dict(frozen.df)
    assert built_index.n_docs == frozen.n_docs
    assert abs(built_index.avgdl - frozen.avgdl) < 1e-9


def test_blocks_are_sorted_chunk_aligned_and_sized(built_index):
    rows = built_index.postings().collect()
    cfg_chunk = built_index.gen_manifests[0]["chunk_docs"]
    bs = built_index.gen_manifests[0]["block_size"]
    for r in rows:
        assert r["n"] <= bs
        assert r["first_doc"] <= r["last_doc"]
        assert r["first_doc"] // cfg_chunk == r["chunk"]
        assert r["last_doc"] // cfg_chunk == r["chunk"], "block spans a chunk"
    # per (term): doc ranges of blocks must be disjoint and increasing overall
    by_term = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append((r["first_doc"], r["last_doc"]))
    for term, spans in by_term.items():
        spans.sort()
        for (a1, b1), (a2, b2) in zip(spans, spans[1:]):
            assert b1 < a2, f"overlapping blocks for {term}"


def test_block_bound_metadata_dominates_any_avgdl(built_index):
    """(max_tf, min_dl) must upper-bound every posting's impact under ANY
    avgdl the multi-generation index may later converge to — the stale-bound
    bug class: a bound baked with one generation's avgdl can under-estimate
    impact once the global avgdl grows."""
    k1 = built_index.k1
    b = built_index.b
    from share_spark.index.codec import varint_decode

    for avgdl in (built_index.avgdl, built_index.avgdl * 3, built_index.avgdl / 3):
        for r in built_index.postings().limit(200).collect():
            tf = varint_decode(r["tfs_bin"]).astype(float)
            dl = varint_decode(r["dls_bin"]).astype(float)
            assert r["max_tf"] == tf.max()
            assert r["min_dl"] == dl.min()
            impact = (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
            bound = (r["max_tf"] * (k1 + 1)) / (
                r["max_tf"] + k1 * (1 - b + b * r["min_dl"] / avgdl)
            )
            assert bound >= impact.max() - 1e-12


def test_positions_roundtrip(built_index, pages_pdf):
    """Positional runs must decode back to the analyzer's token offsets."""
    from share_spark.analysis import tokenize
    from share_spark.extract import extract_text
    from share_spark.index.codec import grouped_delta_decode, varint_decode

    # expected positions from the frozen analyzer
    expected: dict[tuple[str, int], list[int]] = {}
    for r in pages_pdf.head(40).itertuples():
        toks = tokenize(extract_text(r.html, r.text), "standard")
        for i, t in enumerate(toks):
            expected.setdefault((t, int(r.doc_id)), []).append(i)

    checked = 0
    for blk in built_index.postings().filter("first_doc < 40").collect():
        ids = np.cumsum(varint_decode(blk["docs_bin"])).astype(np.int64)
        tfs = varint_decode(blk["tfs_bin"]).astype(np.int64)
        flat = grouped_delta_decode(blk["pos_bin"], tfs)
        offs = np.concatenate(([0], np.cumsum(tfs)))
        for i, d in enumerate(ids):
            if d >= 40:
                continue
            got = flat[offs[i] : offs[i + 1]].tolist()
            assert got == expected[(blk["term"], int(d))]
            checked += 1
    assert checked > 100


def test_manifest_partition_metrics(built_index):
    m = built_index.gen_manifests[0]
    assert m["n_docs"] == 300
    assert m["strategy_check"]
    total = sum(p["n_postings"] for p in m["partitions"].values())
    assert total == decodecount(built_index)


def decodecount(idx):
    return idx.postings().agg(F.sum("n")).collect()[0][0]


def test_resume_skips_done_stages(spark, tmp_path):
    """Kill/resume invariant (SURVEY.md §5 item v): stage markers make
    re-runs skip completed work and produce the identical index."""
    pages = spark.createDataFrame(make_web_pages(50, seed=7))
    d = str(tmp_path / "idx")
    cfg = IndexConfig(block_size=16, chunk_docs=32)
    build_index(spark, pages, d, cfg)
    before = sorted(
        (r["term"], r["doc_id"])
        for r in decode_blocks(IndexReader.open(spark, d).postings()).collect()
    )
    # simulate a crash after termdoc: wipe later stage markers, rebuild resume=True
    import os

    os.remove(os.path.join(d, "gen0", "_DONE_postings"))
    os.remove(os.path.join(d, "gen0", "_DONE_term_stats"))
    build_index(spark, pages, d, cfg, resume=True)
    after = sorted(
        (r["term"], r["doc_id"])
        for r in decode_blocks(IndexReader.open(spark, d).postings()).collect()
    )
    assert before == after


def test_url_keyed_ids_full_range_int64(spark, tmp_path):
    """Input-hint shape: pages keyed by url only — doc ids derive as
    xxhash64(url), full-range int64 (about half NEGATIVE). Chunking
    (floor div), WAND/exact/serve rank identity, url-based replacement
    tombstones, and expel must all survive negative ids."""
    import pandas as pd
    from pyspark.sql import functions as F

    from share_spark.engine import SearchEngine
    from share_spark.index.build import IndexConfig, IndexReader
    from share_spark.query.bm25 import exact_topk
    from share_spark.query.wand import wand_topk

    n = 120
    pdf = pd.DataFrame(
        {
            "url": [f"https://s{i % 7}.example/p/{i}" for i in range(n)],
            "text": [
                ("special marker " if i % 5 == 0 else "")
                + f"w{i % 11:02d} filler body common tokens"
                for i in range(n)
            ],
            "html": None,
        }
    )
    cfg = IndexConfig(block_size=16, chunk_docs=64)
    d = str(tmp_path / "urlidx")
    eng = SearchEngine.build(spark, spark.createDataFrame(pdf), d, cfg)
    idx = eng.reader
    docs = idx.docs().select("doc_id", "url").collect()
    ids = {r["url"]: r["doc_id"] for r in docs}
    assert len(ids) == n
    assert any(v < 0 for v in ids.values())  # full-range hashing
    # chunk keys are floor-div (negative chunks exist and are consistent)
    assert any(v // cfg.chunk_docs < 0 for v in ids.values())

    w = [(r["doc_id"], round(r["score"], 9))
         for r in wand_topk(idx, "special marker", k=30).collect()]
    e = [(r["doc_id"], round(r["score"], 9))
         for r in exact_topk(idx, "special marker", k=30).collect()]
    assert w == e and len(w) == n // 5
    s = [(doc, round(sc, 9)) for doc, sc, _ in eng.topk(
        "special marker", k=30, serve=True
    )]
    assert s == w

    # url-keyed replacement: same url, new text -> old content tombstoned
    repl = pdf.iloc[[0]].copy()
    repl["text"] = "entirely new capuchin content"
    eng.ingest(spark.createDataFrame(repl), cfg)
    idx2 = eng.reader
    assert {r["doc_id"] for r in wand_topk(idx2, "capuchin", k=5).collect()} \
        == {ids[pdf.iloc[0]["url"]]}
    hits = {r["doc_id"] for r in wand_topk(idx2, "special", k=40).collect()}
    assert ids[pdf.iloc[0]["url"]] not in hits and len(hits) == n // 5 - 1

    # expel a negative-id doc through the facade
    victim = next(v for v in ids.values() if v < 0 and v in hits)
    eng.expel([victim])
    hits2 = {r["doc_id"] for r in wand_topk(eng.reader, "special", k=40).collect()}
    assert victim not in hits2 and len(hits2) == len(hits) - 1
    assert victim not in {doc for doc, _, _ in eng.topk("special", k=40, serve=True)}


def test_parquet_rows_raises_on_a_broken_file(tmp_path):
    """Footer counts have no silent fallback: a .parquet file of junk bytes
    raises instead of reading as "unknown" (and so as a count job or as
    "no tombstones")."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from share_spark.index.build import _parquet_rows

    d = tmp_path / "tbl"
    d.mkdir()
    pq.write_table(pa.table({"x": [1, 2, 3]}), str(d / "part-0.parquet"))
    (d / "_SUCCESS").write_bytes(b"")
    assert _parquet_rows(str(d)) == 3
    (d / "part-1.parquet").write_bytes(b"not a parquet file at all")
    with pytest.raises(Exception):
        _parquet_rows(str(d))
    with pytest.raises(FileNotFoundError):
        _parquet_rows(str(tmp_path / "missing"))


def test_failed_postings_write_leaks_nothing(spark, tmp_path, monkeypatch):
    """A postings-stage error must not leave the overlapped docs write
    running, its pool thread alive, or the shared extract frame persisted:
    the build joins the docs write, shuts its pool down and unpersists the
    frame before the error reaches the caller."""
    import os
    import threading

    import pytest

    import share_spark.index.build as B

    def _boom(cfg):
        raise RuntimeError("injected postings failure")

    def persisted() -> set:
        # other tests share this session and may keep frames cached, so
        # the check is that the failed build adds none
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    monkeypatch.setattr(B, "_make_block_encoder", _boom)
    rdds = persisted()
    pool_threads = {
        t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")
    }
    d = str(tmp_path / "idx")
    pages = spark.createDataFrame(make_web_pages(50, seed=7))
    with pytest.raises(RuntimeError, match="injected postings failure"):
        build_index(spark, pages, d, IndexConfig(block_size=16, chunk_docs=32))
    assert os.path.exists(os.path.join(d, "gen0", "_DONE_docs"))
    leaked = {
        t
        for t in threading.enumerate()
        if t.name.startswith("ThreadPoolExecutor") and t not in pool_threads
    }
    assert not leaked
    assert persisted() <= rdds


def test_term_stats_local_reads_its_directory_once(spark, built_index, monkeypatch):
    """term_stats_local reads each generation's term_stats footers once per
    reader: a second lookup opens no parquet file, and both return what a
    filtered parquet read of the stats returns."""
    import os

    import pyarrow.parquet as pq

    terms = ["danger", "the", "nothing", "no_such_term_zz"]
    idx = IndexReader.open(spark, built_index.index_dir)
    want: dict[str, int] = {}
    for g in idx.gen_manifests:
        tbl = pq.read_table(
            os.path.join(idx.index_dir, f"gen{g['generation']}", "term_stats"),
            columns=["term", "df"],
            filters=[("term", "in", terms)],
        )
        for t, df_ in zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist()):
            want[t] = want.get(t, 0) + df_
    assert set(want) == {"danger", "the", "nothing"}

    opened = []
    real = pq.ParquetFile
    monkeypatch.setattr(
        pq, "ParquetFile", lambda *a, **k: opened.append(a) or real(*a, **k)
    )
    assert idx.term_stats_local(terms) == want
    assert opened  # the first lookup reads the footers
    opened.clear()
    assert idx.term_stats_local(reversed(terms)) == want
    assert opened == []


def test_row_group_without_term_statistics_admits_every_term(tmp_path):
    """A row group written without statistics has no term min/max: the
    reader's directory gives it (None, None), and lookups read its term
    dictionary instead of skipping or failing on it."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from share_spark.index.build import SliceReader

    for stage, cols in (
        ("postings_term", {"term": ["b", "d"], "n": [3, 5]}),
        ("term_stats", {"term": ["b", "d"], "df": [3, 5]}),
    ):
        os.makedirs(tmp_path / "gen0" / stage)
        pq.write_table(
            pa.table(cols),
            os.path.join(tmp_path, "gen0", stage, "part-00000.parquet"),
            write_statistics=False,
        )
    man = {"generation": 0, "n_terms": 2, "partitions": {"0": {"n_blocks": 2}}}
    reader = SliceReader(str(tmp_path), [man])
    assert [e[:2] for e in reader.directory(0, "postings_term")] == [(None, None)]
    assert reader.term_dfs(["a", "d", "z"]) == {"d": 5}
    got = reader.slice(["b", "c"], ["term", "n", "gen"])
    assert got.to_pydict() == {"term": ["b"], "n": [3], "gen": [0]}
    assert reader.slice_bytes(["c"], ["term", "n"]) == 0
    assert reader.slice_bytes(["d"], ["term", "n"]) > 0


def test_termdoc_identity_across_tokenizer_inputs(spark, tmp_path):
    """One Arrow batch mixing ASCII rows, non-ASCII rows (accents, a U+2028
    line separator) and empty text takes the frozen tokenizer; under the
    standard and the english analyzer, the decoded postings and positions
    equal the frozen index and the frozen `tokenize` offsets."""
    import pandas as pd

    from share_spark.analysis import tokenize
    from share_spark.extract import extract_text
    from tests.frozen_bm25 import FrozenIndex

    texts = [
        "The running dogs are jumping over the fences",
        "café naïve Café coöperate the cafe",
        "first line\u2028second line, the line",
        "",
        "plain ascii words and the running dog",
        "Ünïcödé ÉTÉ été summer_2024 x_y",
    ]
    pdf = pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts, "html": None}
    )
    for analyzer in ("standard", "english"):
        d = str(tmp_path / analyzer)
        cfg = IndexConfig(analyzer=analyzer, block_size=4, chunk_docs=4)
        # one partition, ids unique: every row reaches the tokenizer in
        # the same Arrow batch
        build_index(
            spark, spark.createDataFrame(pdf).coalesce(1), d, cfg,
            assume_unique_ids=True,
        )
        idx = IndexReader.open(spark, d)
        frozen = FrozenIndex.from_pages(pdf, analyzer)
        rows = decode_blocks(idx.postings(), positions="list").collect()
        got = {(r["term"], r["doc_id"]): (r["tf"], r["dl"]) for r in rows}
        want = {
            (t, doc): (c, len(frozen.tokens[doc]))
            for doc, cnt in frozen.tf.items()
            for t, c in cnt.items()
        }
        assert got == want, analyzer
        offsets: dict[tuple[str, int], list[int]] = {}
        for r in pdf.itertuples():
            toks = tokenize(extract_text(r.html, r.text), analyzer)
            for i, t in enumerate(toks):
                offsets.setdefault((t, int(r.doc_id)), []).append(i)
        assert {
            (r["term"], r["doc_id"]): list(r["positions"]) for r in rows
        } == offsets, analyzer
        assert idx.n_docs == len(texts)
