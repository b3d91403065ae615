import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from share_spark.index.codec import (
    delta_decode,
    delta_encode,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip_basic():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**63], dtype=np.uint64)
    assert (varint_decode(varint_encode(vals)) == vals).all()


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").shape == (0,)


def test_varint_single_byte_values_are_compact():
    vals = np.arange(0, 128, dtype=np.uint64)
    assert len(varint_encode(vals)) == 128


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_varint_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.uint64)
    assert (varint_decode(varint_encode(vals)) == vals).all()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**62), min_size=1, max_size=300, unique=True
    )
)
def test_delta_roundtrip_property(xs):
    ids = np.array(sorted(xs), dtype=np.uint64)
    assert (delta_decode(delta_encode(ids)) == ids).all()


def test_delta_compresses_dense_runs():
    ids = np.arange(10_000, 20_000, dtype=np.uint64)
    enc = delta_encode(ids)
    # gaps of 1 -> 1 byte each (+2 for the absolute first value)
    assert len(enc) <= 10_000 + 2


def test_grouped_delta_roundtrip_property():
    from share_spark.index.codec import (
        delta_encode_blocks,
        grouped_delta_decode,
    )

    rng = np.random.default_rng(7)
    for _ in range(20):
        n_groups = int(rng.integers(1, 30))
        lengths = rng.integers(1, 12, size=n_groups)
        flats = []
        for ln in lengths:
            # ascending positions within a group (arbitrary start)
            start = int(rng.integers(0, 50))
            flats.append(start + np.cumsum(rng.integers(0, 9, size=ln)))
        flat = np.concatenate(flats).astype(np.int64)
        starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
        ends = np.cumsum(lengths)
        bufs = delta_encode_blocks(flat, starts, ends)
        # buffers are self-delimiting: concat + one decode call
        got = grouped_delta_decode(b"".join(bufs), lengths)
        np.testing.assert_array_equal(got, flat)


def test_gather_and_filter_groups():
    from share_spark.index.codec import filter_groups, gather_groups

    flat = np.array([0, 1, 2, 10, 20, 21, 30], dtype=np.int64)
    lengths = np.array([3, 1, 2, 1], dtype=np.int64)
    order = np.array([2, 0, 3, 1])
    np.testing.assert_array_equal(
        gather_groups(flat, lengths, order),
        np.array([20, 21, 0, 1, 2, 30, 10]),
    )
    keep = np.array([True, False, True, False])
    np.testing.assert_array_equal(
        filter_groups(flat, lengths, keep), np.array([0, 1, 2, 20, 21])
    )
    # empty order / all-dropped
    assert gather_groups(flat, lengths, np.array([], dtype=int)).size == 0
    assert filter_groups(flat, lengths, np.zeros(4, dtype=bool)).size == 0


def test_get_codec_registry():
    import pytest

    from share_spark.index.codec import get_codec

    assert get_codec("varint").layout == "delta-varint-blocks-v2-pos"
    with pytest.raises(ValueError, match="unknown postings codec"):
        get_codec("pfor")
    with pytest.raises(ValueError, match="unknown postings codec"):
        get_codec("snappy")


def _encoded_blocks(seed: int = 3):
    """A block table from the build's own encoder: 3 terms over 60 docs,
    block_size 4, chunk_docs 16, plus a gen column (two generations)."""
    import pyarrow as pa

    from share_spark.index.build import IndexConfig, _make_block_encoder
    from share_spark.index.codec import delta_encode_blocks

    rng = np.random.default_rng(seed)
    terms, ids, tfs, dls, runs = [], [], [], [], []
    for t in ("alpha", "beta", "gamma"):
        docs = np.sort(rng.choice(60, size=int(rng.integers(10, 40)), replace=False))
        for d in docs:
            tf = int(rng.integers(1, 5))
            terms.append(t)
            ids.append(int(d))
            tfs.append(tf)
            dls.append(int(rng.integers(tf, 50)))
            runs.append(np.sort(rng.choice(50, size=tf, replace=False)))
    ends = np.cumsum(tfs)
    pos_bin = delta_encode_blocks(
        np.concatenate(runs), np.concatenate(([0], ends[:-1])), ends
    )
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(terms),
            pa.array(ids, type=pa.int64()),
            pa.array(tfs, type=pa.int32()),
            pa.array(dls, type=pa.int32()),
            pa.array(pos_bin, type=pa.binary()),
        ],
        names=["term", "doc_id", "tf", "dl", "pos_bin"],
    )
    encode = _make_block_encoder(IndexConfig(block_size=4, chunk_docs=16))
    tbl = pa.Table.from_batches(list(encode(iter([batch]))))
    gen = (np.arange(tbl.num_rows) % 2).astype(np.int32)
    return tbl.append_column("gen", pa.array(gen)), batch


def test_posting_rows_round_trip_the_encoder():
    from share_spark.index.codec import posting_rows

    tbl, src = _encoded_blocks()
    rows = posting_rows(tbl, "bin")
    for c in ("term", "doc_id", "tf", "dl", "pos_bin"):
        assert rows.column(c).to_pylist() == src.column(c).to_pylist(), c
    assert rows.schema.names == ["term", "doc_id", "tf", "dl", "pos_bin", "gen"]


def test_decoder_reads_sliced_tables():
    """A block table sliced at a non-zero Arrow offset decodes exactly like
    the same rows copied to a fresh, offset-0 table — both views."""
    import pyarrow as pa

    from share_spark.index.codec import posting_rows, term_lists

    tbl, _src = _encoded_blocks()
    sliced = tbl.slice(5, 11)
    assert sliced.column("docs_bin").chunk(0).offset == 5
    fresh = pa.Table.from_pylist(sliced.to_pylist(), schema=tbl.schema)
    assert fresh.column("docs_bin").chunk(0).offset == 0
    for positions in (None, "bin", "list"):
        assert (
            posting_rows(sliced, positions).to_pylist()
            == posting_rows(fresh, positions).to_pylist()
        ), positions
    terms = {"alpha", "beta", "gamma"}
    a, b = term_lists(sliced, terms, terms), term_lists(fresh, terms, terms)
    assert a.keys() == b.keys() and a
    for t in a:
        for x, y in zip(a[t], b[t]):
            np.testing.assert_array_equal(x, y)


def test_term_lists_merge_generations_and_dead_mask():
    """term_lists merges a term's generations into one id-sorted list and
    decodes dls/positions only for the terms asked for; dead() kills a
    posting only in generations below its tombstone's before_gen."""
    from share_spark.index.codec import dead, live_list, posting_rows, term_lists

    tbl, _src = _encoded_blocks()
    rows = posting_rows(tbl, "list").to_pydict()
    lists = term_lists(tbl, {"alpha"}, {"beta"})
    for t, (ids, tfs, dls, pos, gens) in lists.items():
        want = sorted(
            (d, g, tf, dl, p)
            for tt, d, g, tf, dl, p in zip(
                rows["term"], rows["doc_id"], rows["gen"], rows["tf"],
                rows["dl"], rows["positions"],
            )
            if tt == t
        )
        assert list(ids) == [w[0] for w in want]
        assert np.all(np.diff(ids) >= 0)
        assert list(gens) == [w[1] for w in want]
        assert list(tfs) == [w[2] for w in want]
        assert (dls is None) == (t != "alpha")
        if dls is not None:
            assert list(dls) == [w[3] for w in want]
        assert (pos is None) == (t != "beta")
        if pos is not None:
            assert list(pos) == [x for w in want for x in w[4]]
    ids, tfs, dls, pos, gens = lists["beta"]
    tomb_ids = np.array([ids[0], ids[-1]], dtype=np.int64)
    tomb_gens = np.array([gens[0] + 1, gens[-1]], dtype=np.int64)
    d = dead(ids, gens, tomb_ids, tomb_gens)
    assert d[0] and not d[-1] and d.sum() == 1
    live = live_list(lists["beta"], tomb_ids, tomb_gens)
    assert list(live[0]) == list(ids[1:])
    assert live[3].size == pos.size - tfs[0]
    assert not dead(ids, gens, np.empty(0, np.int64), np.empty(0, np.int64)).any()


def test_perfbench_codec_probe_matches_decoder(built_index):
    """The benchmark's codec probe decodes doc ids with
    get_codec(IndexConfig().postings_codec).decode_delta(list of bytes,
    counts); its ids must equal the one decoder's."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from share_spark.index.build import IndexConfig
    from share_spark.index.codec import get_codec, posting_rows

    path = os.path.join(built_index.index_dir, "gen0", "postings")
    tbl = pq.read_table(path, columns=["n", "docs_bin"])
    codec = get_codec(IndexConfig().postings_codec)
    ids = codec.decode_delta(
        tbl.column("docs_bin").to_pylist(), tbl.column("n").to_numpy()
    )
    full = pq.read_table(path)
    full = full.append_column("gen", pa.array(np.zeros(full.num_rows, np.int32)))
    want = posting_rows(full).column("doc_id").to_numpy()
    assert len(ids) == int(tbl.column("n").to_numpy().sum()) > 0
    np.testing.assert_array_equal(ids, want)


def test_checksum_unchanged():
    """The strategy checksum keeps its value, so existing indexes keep
    their strategy_check."""
    from share_spark.index.build import IndexConfig

    assert IndexConfig().checksum() == "ed77328e4d28cd7d"


def test_config_has_no_codec_argument():
    import pytest

    from share_spark.index.build import IndexConfig

    assert IndexConfig().postings_codec == "varint"
    with pytest.raises(TypeError):
        IndexConfig(postings_codec="pfor")


def test_manifest_with_another_codec_raises_on_open(spark, built_index, tmp_path):
    import json
    import os
    import shutil

    import pytest

    from share_spark.index.build import IndexReader, config_of

    d = str(tmp_path / "idx")
    shutil.copytree(built_index.index_dir, d)
    gman = os.path.join(d, "gen0", "manifest.json")
    with open(gman) as f:
        gm = json.load(f)
    gm["postings_codec"] = "pfor"
    with open(gman, "w") as f:
        json.dump(gm, f)
    with pytest.raises(ValueError, match="unknown postings codec 'pfor'"):
        IndexReader.open(spark, d)
    with pytest.raises(ValueError, match="unknown postings codec 'pfor'"):
        config_of(d)
