"""Posting-block codec: docID delta + LEB128 varint, and its one decoder.

The reference delegates posting-list storage to Lucene (FOR/PFOR inside
Elasticsearch; see SURVEY.md §4 "Compression"). Here the layout is explicit
("delta-varint-blocks-v2-pos"); a posting block stores

- docs_bin  : strictly increasing doc ids -> delta-encoded (first value
              absolute), then LEB128 varint
- tfs_bin, dls_bin : raw LEB128 varint (term frequency, document length)
- pos_bin   : posting i's tf_i in-document token positions, delta-encoded
              (first absolute) and varint; runs concatenate in posting order

This module is the only one that knows that layout. The encoders write it;
one Arrow-native decoder reads it, straight from a block table's binary
data buffers and offsets (no Python bytes objects, no pandas), with two
views: `posting_rows` (one row per posting — the exact scorer, phrase
verification and compaction) and `term_lists` (per term, generation-merged
and id-sorted arrays — the WAND chunk kernel and the serve tier). `dead`
is the one generation-scoped tombstone test, over the per-doc form that
`collapse_tombstones` makes of raw tombstone rows.

All encode/decode paths are numpy-vectorized (no per-value Python loops over
postings; loops are over *byte positions*, bounded by max varint width = 10),
so they are safe to call inside Arrow/pandas UDFs per BASELINE.json
input_hint ("no per-row Python").
"""

from __future__ import annotations

import numpy as np

_U7 = np.uint64(7)
_MASK = np.uint64(0x7F)
_CONT = np.uint8(0x80)


def varint_encode_raw(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode an array; returns (byte_buffer uint8, bytes_per_value).

    The per-value byte counts let callers slice the buffer into sub-ranges
    (grouped encoding) without re-encoding."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # bytes needed per value = ceil(bit_length / 7), minimum 1
    nbytes = np.ones(n, dtype=np.int64)
    tmp = v >> _U7
    while tmp.any():
        nbytes += tmp > 0
        tmp = tmp >> _U7
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=offs[1:])
    cur = v.copy()
    for i in range(int(nbytes.max())):
        mask = nbytes > i
        idx = offs[mask] + i
        byte = (cur[mask] & _MASK).astype(np.uint8)
        more = (nbytes[mask] > i + 1).astype(np.uint8)
        out[idx] = byte | (more << 7)
        cur[mask] = cur[mask] >> _U7
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints (vectorized)."""
    out, _ = varint_encode_raw(values)
    return out.tobytes()


def varint_encode_blocks(
    values: np.ndarray, block_starts: np.ndarray, block_ends: np.ndarray
) -> list[bytes]:
    """Encode the whole array ONCE, then slice per block — the grouped form
    used by the posting-block encoder (no per-block numpy dispatch)."""
    out, nbytes = varint_encode_raw(values)
    offs = np.zeros(len(values) + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offs[1:])
    buf = out.tobytes()
    return [
        buf[offs[s] : offs[e]] for s, e in zip(block_starts, block_ends)
    ]


def delta_encode_blocks(
    doc_ids: np.ndarray, block_starts: np.ndarray, block_ends: np.ndarray
) -> list[bytes]:
    """Per-block delta encoding in one pass: gaps everywhere, absolute value
    at each block start (blocks decode independently)."""
    ids = np.ascontiguousarray(doc_ids, dtype=np.uint64)
    gaps = np.empty_like(ids)
    if len(ids):
        gaps[0] = ids[0]
        np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    gaps[block_starts] = ids[block_starts]
    return varint_encode_blocks(gaps, block_starts, block_ends)


def varint_encode_offsets(
    values: np.ndarray, block_starts: np.ndarray, block_ends: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Grouped LEB128 encode returning (uint8 buffer, int64 byte offsets of
    each block boundary, len(block_starts)+1 entries). The Arrow-native twin
    of varint_encode_blocks: callers wrap (buffer, offsets) into a binary
    array without creating one Python bytes object per block. REQUIRES the
    blocks to tile the input (block_ends[i] == block_starts[i+1]) — the
    posting-block encoder's layout."""
    out, nbytes = varint_encode_raw(values)
    offs = np.zeros(len(values) + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offs[1:])
    bounds = np.empty(len(block_starts) + 1, dtype=np.int64)
    bounds[:-1] = offs[block_starts]
    bounds[-1] = offs[block_ends[-1]] if len(block_ends) else 0
    return out, bounds


def delta_encode_offsets(
    doc_ids: np.ndarray, block_starts: np.ndarray, block_ends: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Offset-returning twin of delta_encode_blocks (same wire bytes)."""
    ids = np.ascontiguousarray(doc_ids, dtype=np.uint64)
    gaps = np.empty_like(ids)
    if len(ids):
        gaps[0] = ids[0]
        np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    gaps[block_starts] = ids[block_starts]
    return varint_encode_offsets(gaps, block_starts, block_ends)


def varint_value_ends(data: np.ndarray) -> np.ndarray:
    """Byte index just past each varint value in a raw LEB128 stream —
    lets callers re-slice a concatenated varint buffer at value boundaries
    without decoding (a varint run's bytes are position-independent)."""
    if data.shape[0] == 0:
        return np.empty(0, dtype=np.int64)
    return np.nonzero((data & _CONT) == 0)[0] + 1


def varint_decode(buf) -> np.ndarray:
    """Decode LEB128 bytes (bytes or a contiguous uint8 array) into a
    uint64 array (vectorized)."""
    data = np.frombuffer(buf, dtype=np.uint8)
    if data.shape[0] == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.nonzero((data & _CONT) == 0)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    payload = (data & np.uint8(0x7F)).astype(np.uint64)
    vals = np.zeros(ends.shape[0], dtype=np.uint64)
    lengths = ends - starts + 1
    for i in range(int(lengths.max())):
        mask = lengths > i
        vals[mask] |= payload[starts[mask] + i] << np.uint64(7 * i)
    return vals


def delta_encode(doc_ids: np.ndarray) -> bytes:
    """Encode a strictly-increasing doc-id array: first absolute, rest gaps."""
    ids = np.ascontiguousarray(doc_ids, dtype=np.uint64)
    if ids.shape[0] == 0:
        return b""
    gaps = np.empty_like(ids)
    gaps[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    return varint_encode(gaps)


def delta_decode(buf: bytes) -> np.ndarray:
    gaps = varint_decode(buf)
    return np.cumsum(gaps, dtype=np.uint64)


def grouped_delta_decode(buf: bytes, lengths: np.ndarray) -> np.ndarray:
    """Decode a buffer of concatenated per-group delta runs (absolute first
    value per group, gaps after — the layout delta_encode_blocks writes).

    `lengths[i]` = number of values in group i; returns the flat value array
    (sum(lengths) long). Used for positional postings: group i is posting i's
    in-document token positions, lengths = the block's tf column.

    Varints are self-delimiting, so buffers of consecutive blocks may be
    byte-concatenated and decoded in one call as long as `lengths` is the
    matching concatenation of their tf runs.
    """
    vals = varint_decode(buf).astype(np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    n = int(lengths.sum())
    if n != vals.shape[0]:
        raise ValueError(f"positions buffer has {vals.shape[0]} values, tfs sum to {n}")
    if n == 0:
        return vals
    starts = np.zeros(lengths.shape[0], dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    c = np.cumsum(vals)
    base = c[starts] - vals[starts]
    return c - np.repeat(base, lengths)


def gather_groups(
    flat: np.ndarray, lengths: np.ndarray, order: np.ndarray
) -> np.ndarray:
    """Permute variable-length groups of a flat array: group i occupies
    flat[starts[i]:starts[i]+lengths[i]]; returns groups concatenated in
    `order`. Vectorized (one fancy-gather), used to co-sort positional runs
    with their postings."""
    lengths = np.asarray(lengths, dtype=np.int64)
    starts = np.zeros(lengths.shape[0], dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    ol = lengths[order]
    total = int(ol.sum())
    if total == 0:
        return flat[:0]
    ostarts = np.zeros(ol.shape[0], dtype=np.int64)
    np.cumsum(ol[:-1], out=ostarts[1:])
    idx = np.repeat(starts[order] - ostarts, ol) + np.arange(total, dtype=np.int64)
    return flat[idx]


def filter_groups(
    flat: np.ndarray, lengths: np.ndarray, keep: np.ndarray
) -> np.ndarray:
    """Drop whole groups from a flat grouped array (tombstone filtering of
    positional runs): returns flat values of groups where keep[i]."""
    return flat[np.repeat(keep, lengths)]


LAYOUT = "delta-varint-blocks-v2-pos"


# --------------------------------------------------------------------------
# Arrow binary columns <-> (data buffer, offsets)
# --------------------------------------------------------------------------


def as_array(col):
    """pa.Table column (ChunkedArray) -> single pa.Array."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        if col.num_chunks == 1:
            return col.chunk(0)
        if col.num_chunks == 0:
            return pa.array([], type=col.type)
        return pa.concat_arrays(col.chunks)
    return col


def binary_parts(arr) -> tuple[np.ndarray, np.ndarray]:
    """(uint8 data view, int64 value offsets) of an Arrow BinaryArray,
    slice-offset corrected. data is the WHOLE buffer; offsets are absolute
    byte positions into it (len(arr)+1 entries)."""
    o = arr.offset
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        o : o + len(arr) + 1
    ].astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return data, offs


def binary_from_offsets(n: int, bounds: np.ndarray, data):
    """Arrow binary array over an existing byte buffer: `bounds` are the
    int64 byte offsets of each of the n+1 value boundaries. Zero per-value
    Python objects (Arrow binary = one data buffer + offsets)."""
    import pyarrow as pa

    off32 = np.ascontiguousarray(bounds, dtype=np.int32)
    buf = data if isinstance(data, pa.Buffer) else pa.py_buffer(
        np.ascontiguousarray(data, dtype=np.uint8)
    )
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(off32), buf]
    )


def _column_bytes(tbl, name: str) -> tuple[np.ndarray, np.ndarray]:
    """(bytes of every value of a binary column, value offsets rebased to
    them): row range [r0, r1) is bytes[offs[r0]:offs[r1]], a view."""
    data, offs = binary_parts(as_array(tbl.column(name)))
    return data[offs[0] : offs[-1]], offs - offs[0]


# --------------------------------------------------------------------------
# The decoder
# --------------------------------------------------------------------------


def posting_rows(tbl, positions: str | None = None):
    """Block rows (term, n, docs_bin, tfs_bin, dls_bin, gen[, pos_bin]) ->
    one pa.RecordBatch row per posting: term, doc_id, tf, dl, then the
    positions when asked for, then gen.

    positions="bin": pos_bin, the posting's run in build_termdoc's own
    layout — a RE-SLICE of the stored block stream at varint value
    boundaries (the block stream is the byte-concatenation of its runs), so
    no decode, no re-encode, zero copy. positions="list": `positions`, the
    absolute token offsets as a list<int64> over one decoded array."""
    import pyarrow as pa

    if isinstance(tbl, pa.RecordBatch):
        tbl = pa.Table.from_batches([tbl])
    tbl = tbl.combine_chunks()
    n_rows = tbl.num_rows
    ns = as_array(tbl.column("n")).to_numpy(zero_copy_only=False).astype(
        np.int64
    )
    ids = grouped_delta_decode(_column_bytes(tbl, "docs_bin")[0], ns)
    tfs = varint_decode(_column_bytes(tbl, "tfs_bin")[0]).astype(np.int64)
    dls = varint_decode(_column_bytes(tbl, "dls_bin")[0])
    rep = pa.array(np.repeat(np.arange(n_rows, dtype=np.int64), ns))
    arrays = [
        as_array(tbl.column("term")).take(rep),
        pa.array(ids, type=pa.int64()),
        pa.array(tfs.astype(np.int32), type=pa.int32()),
        pa.array(dls.astype(np.int32), type=pa.int32()),
    ]
    names = ["term", "doc_id", "tf", "dl"]
    vstarts = np.zeros(ids.shape[0] + 1, dtype=np.int64)
    np.cumsum(tfs, out=vstarts[1:])
    if positions == "bin":
        pos_arr = as_array(tbl.column("pos_bin"))
        data, offs = binary_parts(pos_arr)
        ends = varint_value_ends(np.ascontiguousarray(data[offs[0] : offs[-1]]))
        byte_bounds = np.zeros(ends.shape[0] + 1, dtype=np.int64)
        byte_bounds[1:] = ends
        arrays.append(
            binary_from_offsets(
                ids.shape[0], byte_bounds[vstarts] + offs[0], pos_arr.buffers()[2]
            )
        )
        names.append("pos_bin")
    elif positions == "list":
        flat = grouped_delta_decode(_column_bytes(tbl, "pos_bin")[0], tfs)
        arrays.append(
            pa.ListArray.from_arrays(
                pa.array(vstarts.astype(np.int32)), pa.array(flat)
            )
        )
        names.append("positions")
    arrays.append(as_array(tbl.column("gen")).take(rep))
    names.append("gen")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def term_lists(tbl, score_terms, phrase_terms) -> dict:
    """Block rows (term, gen, first_doc, n, docs_bin, tfs_bin[, dls_bin]
    [, pos_bin]) -> term -> (ids, tfs, dls or None, pos_flat or None, gens):
    every generation's postings of the term merged into one id-sorted list
    (stable, so a doc in two generations keeps generation order), int64.

    dls decode only for terms in `score_terms`, positions only for terms in
    `phrase_terms`. Each term decodes each column in ONE call over its
    rows' byte range: varints are self-delimiting and doc-id gap runs reset
    per block (grouped decode keyed by the block posting counts)."""
    import pyarrow.compute as pc

    cols = ["term", "gen", "first_doc", "n", "docs_bin", "tfs_bin"]
    if score_terms:
        cols.append("dls_bin")
    if phrase_terms:
        cols.append("pos_bin")
    tbl = tbl.select(cols).sort_by(
        [("term", "ascending"), ("gen", "ascending"), ("first_doc", "ascending")]
    ).combine_chunks()
    n = tbl.num_rows
    if n == 0:
        return {}
    terms = as_array(tbl.column("term"))
    change = np.ones(n, dtype=bool)
    if n > 1:
        change[1:] = pc.not_equal(terms.slice(1), terms.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], n)
    ns = as_array(tbl.column("n")).to_numpy(zero_copy_only=False).astype(np.int64)
    gens = as_array(tbl.column("gen")).to_numpy(zero_copy_only=False).astype(
        np.int64
    )
    docs, docs_o = _column_bytes(tbl, "docs_bin")
    tfsb, tfs_o = _column_bytes(tbl, "tfs_bin")
    dlsb, dls_o = _column_bytes(tbl, "dls_bin") if score_terms else (None, None)
    posb, pos_o = _column_bytes(tbl, "pos_bin") if phrase_terms else (None, None)
    lists: dict[str, tuple] = {}
    for t, r0, r1 in zip(terms.take(starts).to_pylist(), starts, ends):
        cnt = ns[r0:r1]
        ids = grouped_delta_decode(docs[docs_o[r0] : docs_o[r1]], cnt)
        tfs = varint_decode(tfsb[tfs_o[r0] : tfs_o[r1]]).astype(np.int64)
        dls = pos = None
        if t in score_terms:
            dls = varint_decode(dlsb[dls_o[r0] : dls_o[r1]]).astype(np.int64)
        if t in phrase_terms:
            pos = grouped_delta_decode(posb[pos_o[r0] : pos_o[r1]], tfs)
        g = np.repeat(gens[r0:r1], cnt)
        if gens[r0] != gens[r1 - 1]:
            # one generation's blocks are disjoint and first_doc-sorted, so
            # only a multi-generation list needs the merge
            order = np.argsort(ids, kind="stable")
            if pos is not None:
                pos = gather_groups(pos, tfs, order)
            ids, tfs, g = ids[order], tfs[order], g[order]
            if dls is not None:
                dls = dls[order]
        lists[t] = (ids, tfs, dls, pos, g)
    return lists


def collapse_tombstones(ids, before_gens) -> tuple[np.ndarray, np.ndarray]:
    """Raw tombstone rows -> (doc ids sorted unique, aligned max
    before_gen): the form `dead` takes. A tombstone version may hold
    several rows for one doc (legacy in-place dirs); the largest
    before_gen wins."""
    ids = np.asarray(ids, dtype=np.int64)
    before_gens = np.asarray(before_gens, dtype=np.int64)
    if ids.size == 0:
        return ids, before_gens
    o = np.argsort(ids, kind="stable")
    ids, before_gens = ids[o], before_gens[o]
    starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
    return ids[starts], np.maximum.reduceat(before_gens, starts)


def dead(ids, gens, tomb_ids, tomb_gens) -> np.ndarray:
    """Tombstone mask over postings: True where the posting's doc has a
    tombstone whose before_gen is above the posting's generation (a doc is
    dead in every generation strictly below its before_gen). `tomb_ids`
    sorted unique, `tomb_gens` aligned (max before_gen per doc, see
    collapse_tombstones)."""
    if tomb_ids is None or tomb_ids.size == 0:
        return np.zeros(ids.shape[0], dtype=bool)
    loc = np.minimum(np.searchsorted(tomb_ids, ids), tomb_ids.size - 1)
    return (tomb_ids[loc] == ids) & (gens < tomb_gens[loc])


def live_list(entry: tuple, tomb_ids, tomb_gens) -> tuple:
    """A term_lists entry -> (ids, tfs, dls, pos_flat) without its dead
    postings (positional runs dropped with their postings)."""
    ids, tfs, dls, pos, gens = entry
    d = dead(ids, gens, tomb_ids, tomb_gens)
    if not d.any():
        return ids, tfs, dls, pos
    keep = ~d
    return (
        ids[keep],
        tfs[keep],
        None if dls is None else dls[keep],
        None if pos is None else filter_groups(pos, tfs, keep),
    )


class _VarintCodec:
    """The one posting layout, by name — what IndexConfig.postings_codec and
    a generation manifest's "postings_codec" refer to."""

    name = "varint"
    layout = LAYOUT

    @staticmethod
    def decode_delta(bufs, counts) -> np.ndarray:
        """Doc ids of a sequence of docs_bin values (bytes), with their
        blocks' posting counts."""
        return grouped_delta_decode(b"".join(bufs), counts).astype(np.int64)


def get_codec(name: str):
    if name != _VarintCodec.name:
        raise ValueError(
            f"unknown postings codec {name!r} (have ['varint'])"
        )
    return _VarintCodec
