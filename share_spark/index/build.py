"""Distributed inverted-index build (the plane SHARE delegated to ES/Lucene).

Pipeline (all DataFrame + Arrow UDFs; see SURVEY.md §3.3 "Spark shape"):

  pages --extract/tokenize (mapInArrow, map-side tf)--> termdoc(term, doc_id, tf, dl)
        --repartition(n, xxhash64(term, doc_id // window)) + sort
                                                 --> posting blocks (delta+varint)
        --finish: term_stats(term, df, cf), the term-clustered serve copy
                  and the per-partition manifest metrics, all from the blocks
        --manifest.json (config checksum, corpus stats, per-partition metrics)

Scale decisions (BASELINE.json north_rule: partitioning/shuffle/skew explicit):

- **No token-level shuffle.** Term frequencies are computed per document
  inside the tokenize UDF (map-side combine), so the shuffle moves one row
  per (term, doc) posting, never one row per token occurrence.
- **Head-term skew.** A head term in >30% of documents would overwhelm any
  hash-partitioned `groupBy(term)` reducer. Posting assembly therefore
  hashes a SALTED key, `xxhash64(term, doc_id // window)` with window a
  whole number of chunks: a hot term's postings are split across
  partitions one doc-id window at a time, each partition encoding its own
  sorted block run. Blocks carry absolute first-doc ids, so no
  cross-partition merge is needed — the decomposition is exact, not
  approximate.
  `term_stats` aggregation is safe from the same skew because it reads
  block metadata (one row per block, not per posting), and on the Spark
  finish partial (map-side) aggregation collapses each term to one row
  per map task before the shuffle.
- **Small generations finish on the driver.** Postings no larger than
  _DRIVER_FINISH_MAX_BYTES (a driver-memory budget) are read once with
  pyarrow on the driver and finished there with no Spark job; larger
  generations finish as concurrent Spark jobs. The manifest records which
  path ran and why (`finish`).
- **Chunk alignment for distributed WAND.** Blocks never span a doc-id chunk
  (chunk = doc_id // chunk_docs), so every term's postings for a given doc
  land in the same chunk — the query planner (query/wand.py) groups by chunk
  and scores document-at-a-time with block-max skipping, with no risk of a
  document's score being split across tasks.
- **Resumable.** Each stage (docs, termdoc, term_stats, postings) is a
  parquet checkpoint with a done-marker; re-running `build_index(resume=True)`
  skips completed stages (analog of SHARE's IndexBackfill state machine,
  share/models/index_backfill.py:35-146). The manifest records per-partition
  lineage + metrics (postings count, encoded bytes) — analog of SHARE's
  harvest-job provenance (SUID + chunk_timestamp,
  share/search/index_strategy/trovesearch_denorm.py:126-139).

Storage is plain parquet here (the production target is Iceberg; the Iceberg
runtime jar is not available in this sandbox — layout and partitioning are
identical, snapshots are modeled by the generation list in the manifest).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
import time
import uuid
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import ClassVar

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..extract import EXTRACTOR_VERSION, extract_text
from .codec import (
    LAYOUT,
    as_array,
    binary_from_offsets,
    binary_parts,
    collapse_tombstones,
    dead,
    get_codec,
    posting_rows,
)

K1_DEFAULT = 1.2  # Lucene BM25 defaults; the reference never overrides
B_DEFAULT = 0.75  # `similarity` (SURVEY.md §2.5, BASELINE.md §A)

TERMDOC_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("dl", T.IntegerType()),
        # in-document token positions of this term, delta+varint encoded
        # (first absolute, then gaps) — the positional index that makes
        # phrase queries an index operation instead of a stored-text rescan
        T.StructField("pos_bin", T.BinaryType()),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("lang", T.StringType()),
        # propertypath scope of this text ('' = whole-document text). When
        # set, index terms are prefixed '<path_key>\x1f<token>' so df/idf
        # resolve per (path, term) — the Lucene-per-field stats analog that
        # makes cardSearchText[path] an index operation (query/fields.py).
        T.StructField("path_key", T.StringType()),
        T.StructField("text_norm", T.StringType()),
    ]
)

FIELD_SEP = "\x1f"  # never produced by the analyzer (non-word char)

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("chunk", T.LongType()),
        T.StructField("first_doc", T.LongType()),
        T.StructField("last_doc", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("docs_bin", T.BinaryType()),
        T.StructField("tfs_bin", T.BinaryType()),
        T.StructField("dls_bin", T.BinaryType()),
        # concatenated positional runs: posting i's positions are tf_i
        # delta+varint values; runs concatenate in posting order
        T.StructField("pos_bin", T.BinaryType()),
        # avgdl-INDEPENDENT block-max metadata: impact is increasing in tf
        # and decreasing in dl, so impact(max_tf, min_dl, avgdl_q) computed
        # with the QUERY-TIME global avgdl upper-bounds every posting in the
        # block. A build-time max_impact baked with the generation's own
        # avgdl under-bounds true impact once later generations raise the
        # global avgdl, which would let block-max pruning drop true top-k
        # docs (multi-generation rank-identity bug).
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("min_dl", T.IntegerType()),
        T.StructField("sum_tf", T.LongType()),
        T.StructField("part_id", T.IntegerType()),
    ]
)

TERM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),  # sum of block sizes n
        T.StructField("cf", T.LongType()),  # sum of block tf sums
    ]
)

# the doc is dead in every generation strictly below before_gen
TOMBSTONE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("before_gen", T.IntegerType()),
    ]
)

# engine dir -> the schema its files were written with. Every read names it:
# spark.read.parquet without a schema runs a one-task inference job per
# read (~0.1 s, measured), for a schema the engine already knows.
STAGE_SCHEMAS = {
    "docs": DOCS_SCHEMA,
    "postings": BLOCKS_SCHEMA,
    "term_stats": TERM_STATS_SCHEMA,
}


@dataclass
class IndexConfig:
    analyzer: str = "standard"
    block_size: int = 128
    chunk_docs: int = 8192
    k1: float = K1_DEFAULT
    b: float = B_DEFAULT
    n_partitions: int | None = None
    salt_chunks: int = 4  # shuffle-salt window = salt_chunks * chunk_docs
    # the one posting-block layout (codec.py), by the name manifests record
    postings_codec: ClassVar[str] = "varint"

    def checksum(self) -> str:
        """Analog of CURRENT_STRATEGY_CHECKSUM (index_strategy/_base.py:47):
        sha-256 over the config that defines index layout semantics."""
        blob = json.dumps(
            {
                "analyzer": self.analyzer,
                "block_size": self.block_size,
                "chunk_docs": self.chunk_docs,
                "k1": self.k1,
                "b": self.b,
                "extractor_version": EXTRACTOR_VERSION,
                # the historical constant: existing indexes keep their
                # strategy_check
                "layout": LAYOUT,
            },
            sort_keys=True,
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _stage_dir(index_dir: str, stage: str) -> str:
    return os.path.join(index_dir, stage)


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def _parquet_rows(path: str) -> int:
    """Exact row count of a parquet directory from its file FOOTERS only
    (no Spark job). The index dir is always local — build_index writes its
    manifests with open() — so a missing or unreadable file is a broken
    index and raises."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


class SliceReader:
    """The driver's one reader of an index's term-sorted files, shared by
    IndexReader (term stats, the driver top-k and its slice size) and the
    serve tier (query/serve.py); it needs no Spark session. Per generation
    and stage (postings_term, the term-sorted serve copy, or term_stats)
    the parquet footers are read once into a directory of row groups, and
    a row group's sorted term column, its exact term dictionary, once when
    a lookup first reaches it. A read then touches only the row groups that
    hold a wanted term: the build shuffles by hash(term, window), so footer
    min/max alone spans most of the vocabulary. The index dir is local by
    contract (its manifests are read with open()): a missing file, or a
    stage whose row count disagrees with its generation manifest, is a
    broken index and raises."""

    def __init__(self, index_dir: str, gen_manifests: list[dict]):
        self.index_dir = index_dir
        self._gens = {g["generation"]: g for g in gen_manifests}
        self._cache: dict = {}
        self._lock = threading.Lock()

    def directory(self, gen: int, stage: str) -> list[tuple]:
        """[(min term, max term, pq.ParquetFile, row group, {column:
        compressed bytes})] of one generation stage's non-empty row groups,
        from the footers. A row group without term statistics gets (None,
        None): it admits every term. Each file stays open in its
        ParquetFile, so a later row-group read re-reads no footer."""
        import pyarrow.parquet as pq

        with self._lock:
            if (gen, stage) in self._cache:
                return self._cache[gen, stage]
            entries, rows = [], 0
            path = os.path.join(self.index_dir, f"gen{gen}", stage)
            for f in _parquet_files(path):
                pf = pq.ParquetFile(f)
                md = pf.metadata
                rows += md.num_rows
                term_col = md.schema.names.index("term")
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    if not rg.num_rows:
                        continue
                    cols = [rg.column(j) for j in range(rg.num_columns)]
                    sizes = {c.path_in_schema: c.total_compressed_size for c in cols}
                    st = cols[term_col].statistics
                    lo, hi = (
                        (st.min, st.max)
                        if st is not None and st.has_min_max
                        else (None, None)
                    )
                    entries.append((lo, hi, pf, i, sizes))
            g = self._gens[gen]
            want = (
                g["n_terms"]
                if stage == "term_stats"
                else sum(p["n_blocks"] for p in g["partitions"].values())
            )
            if rows != want:
                raise ValueError(
                    f"{path} holds {rows} rows where its manifest records "
                    f"{want}: the index is broken"
                )
            self._cache[gen, stage] = entries
            return entries

    def row_group_terms(self, pf, rg: int) -> np.ndarray:
        """Sorted unique terms of one row group: its term column alone,
        tiny next to the posting binaries, read once."""
        key = ("terms", id(pf), rg)
        got = self._cache.get(key)
        if got is None:
            col = pf.read_row_group(rg, columns=["term"]).column("term")
            got = self._cache.setdefault(
                key, np.unique(np.asarray(col.to_pandas(), dtype=object))
            )
        return got

    def _hits(self, gen: int, stage: str, terms) -> list[tuple]:
        """[(pf, row group, column sizes, [the wanted terms it holds])]."""
        terms = sorted(set(terms))
        out = []
        for lo, hi, pf, rg, sizes in self.directory(gen, stage):
            cand = [t for t in terms if lo is None or lo <= t <= hi]
            if not cand:
                continue
            known = self.row_group_terms(pf, rg)
            at = np.searchsorted(known, cand)
            held = [t for t, i in zip(cand, at) if i < known.size and known[i] == t]
            if held:
                out.append((pf, rg, sizes, held))
        return out

    def read(self, gen: int, stage: str, terms, columns) -> "pa.Table | None":
        """`columns` of the rows of `terms` in one generation's stage, from
        the row groups that hold one of them; reads of several row groups
        fan out over a thread pool (pyarrow releases the GIL)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        def _read(hit):
            pf, rg, _sizes, held = hit
            tbl = pf.read_row_group(rg, columns=columns)
            return tbl.filter(pc.is_in(tbl.column("term"), value_set=pa.array(held)))

        hits = self._hits(gen, stage, terms)
        if not hits:
            return None
        if len(hits) == 1:
            return _read(hits[0])
        with ThreadPoolExecutor(max_workers=min(16, len(hits))) as pool:
            return pa.concat_tables(pool.map(_read, hits))

    def slice(self, terms, columns) -> "pa.Table | None":
        """`columns` of the blocks of `terms` in every generation's serve
        copy, `gen` (int32) filled with their generation; None when no row
        group holds one of them."""
        import pyarrow as pa

        tables = []
        for gen in self._gens:
            tbl = self.read(
                gen, "postings_term", terms, [c for c in columns if c != "gen"]
            )
            if tbl is not None:
                tables.append(
                    tbl.append_column(
                        "gen", pa.array(np.full(tbl.num_rows, gen, dtype=np.int32))
                    )
                )
        return pa.concat_tables(tables) if tables else None

    def slice_bytes(self, terms, columns) -> int:
        """Compressed bytes of `columns` in the serve-copy row groups that
        hold one of `terms`, over every generation."""
        return sum(
            sizes.get(c, 0)
            for gen in self._gens
            for _pf, _rg, sizes, _held in self._hits(gen, "postings_term", terms)
            for c in columns
        )

    def term_dfs(self, terms) -> dict[str, int]:
        """df per term of `terms` that the index holds, summed over the
        generations' term_stats."""
        out: dict[str, int] = {}
        for gen in self._gens:
            tbl = self.read(gen, "term_stats", terms, ["term", "df"])
            if tbl is not None:
                for t, d in zip(
                    tbl.column("term").to_pylist(), tbl.column("df").to_pylist()
                ):
                    out[t] = out.get(t, 0) + int(d)
        return out


def check_layout(gen_manifest: dict) -> None:
    """Raise ValueError unless a generation manifest names the one posting
    layout (manifests written before the field existed are varint)."""
    get_codec(gen_manifest.get("postings_codec", "varint"))


def _done_marker(index_dir: str, stage: str) -> str:
    return os.path.join(index_dir, f"_DONE_{stage}")


def _stage_done(index_dir: str, stage: str) -> bool:
    return os.path.exists(_done_marker(index_dir, stage))


def _mark_done(index_dir: str, stage: str) -> None:
    with open(_done_marker(index_dir, stage), "w") as f:
        f.write("ok")


def build_docs(
    spark: SparkSession,
    pages: DataFrame,
    analyzer: str,
) -> DataFrame:
    """pages -> docs(doc_id, url, lang, text_norm).

    Extraction is the frozen byte-identical extractor (extract.py); doc ids
    are taken from a `doc_id` column when present, else xxhash64(url)
    (deterministic; dense assignment is the caller's option at small scale).

    Deliberately does NOT tokenize: doc lengths fall out of build_termdoc's
    own token stream and avgdl out of posting-block metadata, so the corpus
    is analyzed exactly once per build (tokenize+stem is the single most
    expensive CPU pass — running it here too doubled it).
    """
    cols = set(pages.columns)
    has_html = "html" in cols
    has_text = "text" in cols
    has_docid = "doc_id" in cols
    has_url = "url" in cols
    has_lang = "lang" in cols
    has_path = "path_key" in cols

    def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..extract import extract_text_only_arrow

        for pdf in batches:
            html = pdf["html"] if has_html else pd.Series([None] * len(pdf))
            text = pdf["text"] if has_text else pd.Series([None] * len(pdf))
            norm = None
            if has_text and (not has_html or not html.notna().any()):
                # text-only batch: vectorized Arrow normalization when all
                # ASCII (byte-identical; None -> frozen per-row fallback)
                norm = extract_text_only_arrow(text)
            if norm is None:
                norm = [
                    extract_text(h, t)
                    for h, t in zip(html.tolist(), text.tolist())
                ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"] if has_docid else pd.NA,
                    "url": pdf["url"] if has_url else "",
                    "lang": pdf["lang"] if has_lang else "",
                    "path_key": pdf["path_key"] if has_path else "",
                    "text_norm": norm,
                }
            )

    docs = pages.mapInPandas(_extract_batches, schema=DOCS_SCHEMA)
    if not has_docid:
        docs = docs.withColumn("doc_id", F.xxhash64("url"))
    return docs


def build_termdoc(docs: DataFrame, analyzer: str) -> DataFrame:
    """docs -> (term, doc_id, tf, dl, pos_bin): per-doc term counting + token
    positions, all inside the UDF (map-side combine — no shuffle here, and
    downstream shuffles move one row per posting, never per token occurrence).

    Positions are the analyzer token offsets (0-based) of each term in its
    document, delta+varint encoded per posting. One Arrow-native body
    (mapInArrow) for every batch: analysis.tokenize_batch_flat yields the
    tokens as an Arrow array (Arrow kernels on standard ASCII batches, the
    frozen tokenizer otherwise), a field-scoped row's `path_key` prefixes
    its tokens in Arrow, and tokens are dictionary-encoded so grouping
    sorts int64 codes instead of Python strings. The output batch is
    assembled from Arrow buffers (pos_bin via one offsets array over one
    encode buffer) with zero per-row Python objects crossing the JVM
    boundary. Row ORDER within a batch is code order, which is immaterial:
    rows feed a hash repartition + sortWithinPartitions that fixes the
    final order."""

    def _termdoc_batches(batches) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..analysis import tokenize_batch_flat
        from .codec import delta_encode_offsets

        for batch in batches:
            if batch.num_rows == 0:
                continue
            names = batch.schema.names
            parents, toks = tokenize_batch_flat(
                batch.column(names.index("text_norm")), analyzer
            )
            n = len(toks)
            if n == 0:
                continue
            # per-row token count IS the BM25 dl
            dlen = np.bincount(parents, minlength=batch.num_rows).astype(
                np.int32
            )
            if "path_key" in names:
                pk = pc.fill_null(batch.column(names.index("path_key")), "")
                if not pc.all(pc.equal(pk, "")).as_py():
                    # per-path term namespace: '<path>\x1f<token>'
                    pref = pk.take(pa.array(parents))
                    toks = pc.if_else(
                        pc.equal(pref, ""),
                        toks,
                        pc.binary_join_element_wise(pref, toks, FIELD_SEP),
                    )
            dct = toks.dictionary_encode()
            codes = dct.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            # token position within each doc: parents is non-decreasing
            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = parents[1:] != parents[:-1]
            run_starts = np.nonzero(change)[0]
            run_ids = np.cumsum(change) - 1
            pos = np.arange(n, dtype=np.int64) - run_starts[run_ids]
            order = np.lexsort((codes, parents))  # stable: positions ascend
            p_s, c_s, pos_s = parents[order], codes[order], pos[order]
            gchange = np.empty(n, dtype=bool)
            gchange[0] = True
            gchange[1:] = (p_s[1:] != p_s[:-1]) | (c_s[1:] != c_s[:-1])
            gstarts = np.nonzero(gchange)[0]
            gends = np.append(gstarts[1:], n)
            tf = (gends - gstarts).astype(np.int32)
            pos_buf, pos_bounds = delta_encode_offsets(pos_s, gstarts, gends)
            gp = p_s[gstarts]
            doc_ids = batch.column(names.index("doc_id")).to_numpy(
                zero_copy_only=False
            )
            yield pa.RecordBatch.from_arrays(
                [
                    dct.dictionary.take(pa.array(c_s[gstarts])),
                    pa.array(doc_ids[gp], type=pa.int64()),
                    pa.array(tf, type=pa.int32()),
                    pa.array(dlen[gp], type=pa.int32()),
                    binary_from_offsets(len(gstarts), pos_bounds, pos_buf),
                ],
                names=["term", "doc_id", "tf", "dl", "pos_bin"],
            )

    sel = ["doc_id", "text_norm"]
    if "path_key" in docs.columns:
        sel.append("path_key")
    return docs.select(*sel).mapInArrow(_termdoc_batches, schema=TERMDOC_SCHEMA)


def decode_blocks(blocks: DataFrame, positions: str | None = None) -> DataFrame:
    """Posting blocks -> one row per posting: (term, doc_id, tf, dl, gen),
    with `positions` as array<long> before gen when positions="list"
    (codec.posting_rows). Map-side only, no shuffle.

    The one Spark operator over the block decoder: the exact scorer's
    postings and positions (query/bm25.py). Compaction never decodes
    postings into a shuffle — the block merge (merge_generations_blocks)
    decodes inside its kernel, after the block exchange."""
    fields = list(TERMDOC_SCHEMA)[:4]
    cols = ["term", "n", "docs_bin", "tfs_bin", "dls_bin"]
    if positions == "list":
        fields.append(T.StructField("positions", T.ArrayType(T.LongType())))
        cols.append("pos_bin")
    fields.append(T.StructField("gen", T.IntegerType()))
    gen = F.col("gen") if "gen" in blocks.columns else F.lit(0)

    def _decode(batches) -> Iterator:
        for batch in batches:
            if batch.num_rows:
                yield posting_rows(batch, positions)

    return blocks.select(*cols, gen.cast("int").alias("gen")).mapInArrow(
        _decode, schema=T.StructType(fields)
    )


def _complete_groups(batches, chunk_of, min_rows: int) -> Iterator:
    """Arrow batches sorted by (term, chunk) -> (table, group starts) pairs
    where every table holds whole (term, chunk) groups and the starts are
    its groups' first row indices. Batches buffer until `min_rows` rows,
    join the carry and are cut before their last group, which the next
    batch may continue; that group carries over, and the end of the stream
    flushes it. `chunk_of(table)` returns the rows' chunks as a numpy array.
    The one group streamer of the block encoder and the block merger."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def starts(tbl) -> np.ndarray:
        n = tbl.num_rows
        change = np.empty(n, dtype=bool)
        change[0] = True
        if n > 1:
            terms = as_array(tbl.column("term"))
            chunks = chunk_of(tbl)
            change[1:] = pc.not_equal(
                terms.slice(1), terms.slice(0, n - 1)
            ).to_numpy(zero_copy_only=False) | (chunks[1:] != chunks[:-1])
        return np.nonzero(change)[0]

    def joined(carry, buf):
        parts = ([carry] if carry is not None else []) + (
            [pa.Table.from_batches(buf)] if buf else []
        )
        return pa.concat_tables(parts).combine_chunks()

    carry = None
    buf: list = []
    buffered = 0
    for rb in batches:
        if rb.num_rows == 0:
            continue
        buf.append(rb)
        buffered += rb.num_rows
        if buffered < min_rows:
            continue
        tbl = joined(carry, buf)
        buf, buffered = [], 0
        gstarts = starts(tbl)
        if len(gstarts) <= 1:
            carry = tbl
            continue
        cut = int(gstarts[-1])  # last (unfinished) group carries
        carry = tbl.slice(cut)
        yield tbl.slice(0, cut), gstarts[:-1]
    if carry is not None or buf:
        tbl = joined(carry, buf)
        yield tbl, starts(tbl)


def _int64(tbl, name: str) -> np.ndarray:
    return as_array(tbl.column(name)).to_numpy(zero_copy_only=False).astype(
        np.int64
    )


def _make_block_encoder(cfg: IndexConfig):
    """Posting-block encoder for one range partition — fully vectorized and
    Arrow-native (mapInArrow).

    Input arrives sorted by (term, doc_id); the iterator spans the whole
    partition, and _complete_groups hands over whole (term, chunk) groups.
    Per group table:
      1. group starts -> block starts (size-capped)
      2. ONE varint pass per column, wrapped per block by byte OFFSETS over
         the single encode buffer (no per-block bytes objects)
      3. per-block max_tf / min_dl via np.maximum/minimum.reduceat — the
         avgdl-independent block-max metadata (impact bounds are computed at
         QUERY time with the then-current global avgdl, so they stay valid
         as later generations shift avgdl)
      4. pos_bin: blocks tile the posting stream, so the
         per-block positional payload is a RE-SLICE of the incoming binary
         column's own data buffer — new offsets, same bytes, zero copy
    No per-block (or per-row) Python objects cross the JVM boundary in
    either direction; term strings stay inside Arrow arrays end to end.
    Block boundaries: size limit, term change, chunk boundary
    (chunk = doc_id // chunk_docs) — see module docstring.
    """
    bs, chunk_docs = cfg.block_size, cfg.chunk_docs
    MIN_ROWS = 1 << 17  # accumulate small Arrow batches before encoding

    def encode(batches) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        from .codec import delta_encode_offsets, varint_encode_offsets

        part_id = TaskContext.get().partitionId() if TaskContext.get() else -1
        for tbl, gstarts in _complete_groups(
            batches, lambda t: _int64(t, "doc_id") // chunk_docs, MIN_ROWS
        ):
            n = tbl.num_rows
            ids = _int64(tbl, "doc_id")
            chunks = ids // chunk_docs
            gends = np.append(gstarts[1:], n)
            glens = gends - gstarts
            # expand groups to size-capped blocks
            nb = (glens + bs - 1) // bs
            total = int(nb.sum())
            gi = np.repeat(np.arange(len(gstarts)), nb)
            within = np.arange(total) - np.repeat(
                np.concatenate(([0], np.cumsum(nb[:-1]))), nb
            )
            bstarts = gstarts[gi] + within * bs
            bends = np.minimum(bstarts + bs, gends[gi])

            tfs = _int64(tbl, "tf")
            dls = _int64(tbl, "dl")
            max_tf = np.maximum.reduceat(tfs, bstarts).astype(np.int32)
            min_dl = np.minimum.reduceat(dls, bstarts).astype(np.int32)
            sum_tf = np.add.reduceat(tfs, bstarts)

            docs_buf, docs_off = delta_encode_offsets(ids, bstarts, bends)
            tfs_buf, tfs_off = varint_encode_offsets(tfs, bstarts, bends)
            dls_buf, dls_off = varint_encode_offsets(dls, bstarts, bends)
            # byte slicing IS re-encoding here: the per-block varint layout
            # equals the concatenation of its runs' varint bytes, and blocks
            # tile the stream — so the pos payload is the input buffer
            # re-offset per block, zero copy
            pos_arr = as_array(tbl.column("pos_bin"))
            _pdata, poffs = binary_parts(pos_arr)
            pos_bounds = np.empty(total + 1, dtype=np.int64)
            pos_bounds[:-1] = poffs[bstarts]
            pos_bounds[-1] = poffs[n]
            yield pa.RecordBatch.from_arrays(
                [
                    as_array(tbl.column("term")).take(pa.array(bstarts)),
                    pa.array(chunks[bstarts], type=pa.int64()),
                    pa.array(ids[bstarts], type=pa.int64()),
                    pa.array(ids[bends - 1], type=pa.int64()),
                    pa.array((bends - bstarts).astype(np.int32)),
                    binary_from_offsets(total, docs_off, docs_buf),
                    binary_from_offsets(total, tfs_off, tfs_buf),
                    binary_from_offsets(total, dls_off, dls_buf),
                    binary_from_offsets(
                        total, pos_bounds, pos_arr.buffers()[2]
                    ),
                    pa.array(max_tf),
                    pa.array(min_dl),
                    pa.array(sum_tf, type=pa.int64()),
                    pa.array(np.full(total, part_id, dtype=np.int32)),
                ],
                names=[
                    "term", "chunk", "first_doc", "last_doc", "n",
                    "docs_bin", "tfs_bin", "dls_bin", "pos_bin",
                    "max_tf", "min_dl", "sum_tf", "part_id",
                ],
            )

    return encode


def _make_block_merger(cfg: IndexConfig, tomb_bc):
    """mapInArrow kernel for posting-level compaction WITHOUT a decoded-row
    shuffle (guide §2.3/§8: shuffle the compressed representation, decode
    at the destination).

    Input: ENCODED block rows of every generation, hash-partitioned by the
    build's own salted key — a block never spans a chunk, and the salt
    window is a whole number of chunks, so keying on first_doc lands each
    block in exactly the partition its postings land in on a rebuild —
    and sorted by (term, first_doc, gen), which makes (term, chunk) groups
    contiguous with chunks in doc order.  The kernel decodes one table of
    complete groups at a time (_complete_groups), sorts postings by doc
    within each group (generations interleave only inside a chunk), drops
    tombstoned rows (tomb_bc: broadcast (sorted doc_ids, aligned max
    before_gen)), and pipes the merged stream through the STANDARD block
    encoder — the same encoder gets the same rows in the same order as on
    a rebuild of the live docs, so the blocks are byte-identical to it
    (test_block_merge_identical_to_rebuild), while the exchange moves ~1x
    index bytes instead of ~10x decoded postings and nothing re-tokenizes.

    Future work: a (term, chunk) group holding a single generation and no
    tombstoned doc (checkable from first_doc/last_doc + the broadcast ids
    without decoding) could pass its blocks through verbatim with only
    part_id restamped — the encoder would regenerate identical bytes from
    identical rows, so the copy is exact (Lucene's untouched-segment
    copy). Worth adding when compaction churn is concentrated rather than
    uniform; the byte-identity test pins safety."""
    encode = _make_block_encoder(cfg)
    MIN_BLOCK_ROWS = 1 << 12

    def merged(batches) -> Iterator:
        import pyarrow as pa

        tomb_ids, tomb_gens = tomb_bc.value
        for tbl, gstarts in _complete_groups(
            batches, lambda t: _int64(t, "chunk"), MIN_BLOCK_ROWS
        ):
            rows = posting_rows(tbl, "bin")
            group = np.zeros(tbl.num_rows, dtype=np.int64)
            group[gstarts] = 1
            gidx = np.repeat(np.cumsum(group) - 1, _int64(tbl, "n"))
            ids = rows.column(1).to_numpy(zero_copy_only=False)
            # stable (group, doc_id) sort: groups are already in stream
            # order, generations interleave only within a group
            order = np.lexsort((ids, gidx))
            gens = rows.column(5).to_numpy(zero_copy_only=False)
            order = order[~dead(ids, gens, tomb_ids, tomb_gens)[order]]
            if order.size == 0:
                continue
            perm = pa.array(order)
            yield pa.RecordBatch.from_arrays(
                [rows.column(i).take(perm) for i in range(5)],
                names=["term", "doc_id", "tf", "dl", "pos_bin"],
            )

    def kernel(batches) -> Iterator:
        yield from encode(merged(batches))

    return kernel


def merge_generations_blocks(
    reader: "IndexReader",
    cfg: IndexConfig,
    tomb_ids: np.ndarray,
    tomb_gens: np.ndarray,
) -> DataFrame:
    """All generations' posting blocks -> single-generation blocks, as one
    block-shuffle + merge-kernel plan (see _make_block_merger). The caller
    (streaming.incremental.compact) guarantees cfg matches the registered
    analyzer and chunk/salt geometry (the shuffle key depends on nothing
    else; blocks re-encode at cfg.block_size) and that the tombstone set
    fits the driver-side arrays; otherwise it compacts by rebuild."""
    spark = reader.spark
    window = min(cfg.chunk_docs * cfg.salt_chunks, 1 << 62)
    n_parts = cfg.n_partitions or spark.sparkContext.defaultParallelism
    tomb_bc = spark.sparkContext.broadcast(
        (
            np.ascontiguousarray(tomb_ids, dtype=np.int64),
            np.ascontiguousarray(tomb_gens, dtype=np.int64),
        )
    )
    cols = [
        "term", "chunk", "first_doc", "n",
        "docs_bin", "tfs_bin", "dls_bin", "pos_bin", "gen",
    ]
    return (
        reader.postings()
        .select(*cols)
        .repartition(
            n_parts,
            F.xxhash64("term", (F.col("first_doc") / window).cast("long")),
        )
        .sortWithinPartitions("term", "first_doc", "gen")
        .mapInArrow(_make_block_merger(cfg, tomb_bc), schema=BLOCKS_SCHEMA)
    )


def local_tombstone_arrays(reader: "IndexReader", cap: int = 2_000_000):
    """`reader`.tombstone_arrays() when the version holds at most `cap`
    rows, counted from parquet footers first; None over the cap, where
    compaction declines the block merge and rebuilds
    (merge_declined="tombstones"). A missing or unreadable version raises
    — a broken index, not a reason to change merge paths."""
    import pyarrow.parquet as pq

    files, _nbytes = reader.tombstone_files()
    if sum(pq.ParquetFile(f).metadata.num_rows for f in files) > cap:
        return None
    return reader.tombstone_arrays()


def dedup_pages(pages: DataFrame) -> DataFrame:
    """Keep exactly one row per doc_id within a build batch.

    Harvest feeds realistically repeat urls inside one batch; duplicate
    doc_ids would emit duplicate (term, doc_id) postings in one generation —
    inflating df/cf and breaking the sorted-unique invariant the WAND
    intersection kernel relies on (np.isin(assume_unique=True)).

    Winner: max (warc_ts, xxhash64(url||text)) — latest capture wins, hash
    tie-break keeps the choice deterministic when timestamps tie or are
    absent. One shuffle keyed by doc_id; max_by is partial-aggregated
    map-side, so a hot doc_id never concentrates rows on one reducer.
    """
    cols = pages.columns
    idc = F.col("doc_id") if "doc_id" in cols else F.xxhash64("url")
    ts = F.col("warc_ts") if "warc_ts" in cols else F.lit(0)
    tie_parts = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols
                 if c in ("url", "text")]
    tie = F.xxhash64(*tie_parts) if tie_parts else F.lit(0)
    return (
        pages.withColumn("_did", idc)
        .groupBy("_did")
        .agg(F.max_by(F.struct(*cols), F.struct(ts.alias("ts"), tie.alias("tb"))).alias("_row"))
        .select("_row.*")
    )


# Spark's parquet codec names -> pyarrow's, for the codecs whose bytes
# both write the same way (Spark's "lz4" is Hadoop's framed LZ4, not
# pyarrow's; "lzo" pyarrow cannot write)
_ARROW_CODECS = {
    "none": "none",
    "uncompressed": "none",
    "snappy": "snappy",
    "gzip": "gzip",
    "brotli": "brotli",
    "lz4_raw": "lz4",
    "zstd": "zstd",
}
# the posting payload binaries: near-unique values, so min/max statistics
# on them only add footer bytes (the readers prune on term, never on these)
_PAYLOAD_COLS = ("docs_bin", "tfs_bin", "dls_bin", "pos_bin")
# The largest postings (bytes on disk) a generation finishes on the
# driver. A driver-memory budget, not a crossover: timed at local[4] on
# 0.5-38 MB of postings, the driver finish won at every size (0.06-1.0 s
# against the Spark finish's 0.7-2.2 s), so where the two cross is not
# known. The driver holds the blocks in Arrow memory, and its peak Arrow
# allocation measured 4.3x the postings bytes at 19-38 MB (6.7x at 0.5
# MB), so this cap keeps that peak near 140 MB.
_DRIVER_FINISH_MAX_BYTES = 32 << 20


def _arrow_codec(spark: SparkSession) -> tuple[str, int | None] | None:
    """(pyarrow codec, level) for the session's parquet codec, or None
    when pyarrow cannot write it the way Spark does. The zstd level is
    parquet-mr's `parquet.compression.codec.zstd.level` (default 3), read
    from the SQL conf first, as Spark's writer does, then the Hadoop
    conf."""
    name = spark.conf.get("spark.sql.parquet.compression.codec", "snappy").lower()
    codec = _ARROW_CODECS.get(name)
    if codec != "zstd":
        return None if codec is None else (codec, None)
    key = "parquet.compression.codec.zstd.level"
    level = spark.conf.get(key, None) or (
        spark.sparkContext._jsc.hadoopConfiguration().get(key, "3")
    )
    return codec, int(level)


def _write_parts(
    tbl, path: str, n_files: int, rg_rows: int | None, codec: tuple
) -> None:
    """Replace the parquet dir `path` with `tbl` cut into `n_files`
    contiguous slices, part-00000.parquet upward — the Spark finish's file
    layout, so the serve tier opens one file per slice either way. Empty
    slices write no file (as Spark skips empty partitions), but an empty
    `tbl` still writes one. `rg_rows` caps a row group's rows (None: one
    row group per file). Written no larger than Spark writes them: the
    session's codec, no dictionary pages and no statistics on
    _PAYLOAD_COLS. parquet-mr drops a dictionary that does not pay, and
    pyarrow keeps every dictionary: in Spark's files of a 2k-page
    generation `term` was PLAIN in all 8, docs_bin in all 4 serve files,
    dls_bin and pos_bin in 3 of 4. On that generation, 4 slices: a 480.5
    KB serve copy and 22.1 KB of term_stats against Spark's 475.6 KB and
    21.4 KB; dictionary pages on `term` alone gave 494.2 KB and 35.9 KB,
    on every non-payload column 491.7 KB and 36.1 KB. File names are fixed and
    the slices a function of the rows, so the same rows give the same
    bytes."""
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = max(1, -(-tbl.num_rows // n_files))
    for i in range(max(1, -(-tbl.num_rows // step))):
        part = tbl.slice(i * step, step)
        pq.write_table(
            part,
            os.path.join(path, f"part-{i:05d}.parquet"),
            row_group_size=rg_rows or max(1, part.num_rows),
            compression=codec[0],
            compression_level=codec[1],
            use_dictionary=False,
            write_statistics=[c for c in tbl.column_names if c not in _PAYLOAD_COLS],
        )


def _finish_on_driver(
    postings_path: str,
    postings_bytes: int,
    todo: dict[str, tuple[str, int, int | None]],
    codec: tuple,
    stage_s: dict[str, float],
) -> list[dict]:
    """The generation finish for small postings: ONE pyarrow read of the
    postings files, then, in-process and with no Spark job:
      - term_stats (when `todo` names it): df = sum of n and cf = sum of
        sum_tf per term, sorted by term — the Spark stage's aggregate;
      - the serve copy (when `todo` names postings_term): every block,
        sorted by (term, chunk, first_doc);
      - the per-part_id manifest metrics, returned as the rows the Spark
        metrics job collects.
    `todo` maps each stage to write to (its dir, the number of files the
    Spark finish writes for it, its parquet.block.size or None) — see
    _write_parts; a block size becomes rows by the postings' bytes per
    block row. Every output is a function of the block rows alone (the
    sorts are total: one generation's blocks of a term have distinct
    first_doc), so two builds of the same pages write byte-identical
    files."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    files = _parquet_files(postings_path)
    blocks = (
        pa.concat_tables([pq.read_table(f) for f in files])
        if files
        else to_arrow_schema(BLOCKS_SCHEMA).empty_table()
    ).replace_schema_metadata(None)

    def _rows_per_group(spec: tuple) -> tuple:
        path, n_files, group_bytes = spec
        if group_bytes is None:
            return path, n_files, None
        return path, n_files, max(
            1, blocks.num_rows * group_bytes // max(1, postings_bytes)
        )

    if "term_stats" in todo:
        t0 = time.time()
        agg = blocks.group_by("term").aggregate([("n", "sum"), ("sum_tf", "sum")])
        stats = pa.table(
            {"term": agg["term"], "df": agg["n_sum"], "cf": agg["sum_tf_sum"]}
        ).sort_by("term")
        _write_parts(stats, *_rows_per_group(todo["term_stats"]), codec)
        stage_s["term_stats"] = round(time.time() - t0, 2)
    if "postings_term" in todo:
        t0 = time.time()
        serve = blocks.sort_by(
            [("term", "ascending"), ("chunk", "ascending"), ("first_doc", "ascending")]
        )
        _write_parts(serve, *_rows_per_group(todo["postings_term"]), codec)
        stage_s["postings_term"] = round(time.time() - t0, 2)
    encoded = pc.add(
        pc.add(
            pc.binary_length(blocks["docs_bin"]),
            pc.binary_length(blocks["tfs_bin"]),
        ),
        pc.binary_length(blocks["dls_bin"]),
    )
    per_part = (
        blocks.select(["part_id", "n", "sum_tf"])
        .append_column("encoded", encoded)
        .group_by("part_id")
        .aggregate(
            [
                ([], "count_all"),
                ("n", "sum"),
                ("encoded", "sum"),
                ("sum_tf", "sum"),
            ]
        )
    )
    return [
        {
            "part_id": r["part_id"],
            "n_blocks": r["count_all"],
            "n_postings": r["n_sum"],
            "encoded_bytes": r["encoded_sum"],
            "sum_tf": r["sum_tf_sum"],
        }
        for r in per_part.to_pylist()
    ]


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    resume: bool = False,
    generation: int = 0,
    register: bool = True,
    assume_unique_ids: bool = False,
    docs_df: DataFrame | None = None,
    postings_df: DataFrame | None = None,
) -> dict:
    """Full batch index build (see _build_index_impl for the DAG).

    Runs under batch_sql_conf: if interactive top-k queries are in flight
    on the same session (their guard narrows shuffle width and disables
    AQE), the build asserts the session's own settings for its duration —
    a terabyte-scale shuffle must never inherit a 4-partition reduce."""
    from ..session import batch_sql_conf

    with batch_sql_conf(spark):
        return _build_index_impl(
            spark, pages, index_dir, cfg, resume, generation, register,
            assume_unique_ids, docs_df, postings_df,
        )


def _build_index_impl(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    resume: bool = False,
    generation: int = 0,
    register: bool = True,
    assume_unique_ids: bool = False,
    docs_df: DataFrame | None = None,
    postings_df: DataFrame | None = None,
) -> dict:
    """Full batch index build; returns the manifest dict.

    Analog of SHARE's backfill (share/models/index_backfill.py:148-188 +
    daemon bulk loop) collapsed into one deterministic Spark DAG.

    `register=False` builds the generation directory WITHOUT adding it to the
    top-level manifest — the incremental path registers only after tombstones
    for replaced docs are merged, so a crash between the two never leaves a
    re-ingested doc live twice (call register_generation afterwards).
    `assume_unique_ids=True` skips the intra-batch doc_id dedup shuffle when
    the producer guarantees unique ids.
    `docs_df` (DOCS_SCHEMA) and `postings_df` (BLOCKS_SCHEMA, FULLY ENCODED
    and already partitioned) inject the stage outputs of the block merge
    (streaming.incremental.compact mode="merge", merge_generations_blocks)
    in place of extract and tokenize + encode: stage 2 becomes a plain
    write, and `pages` may be None.
    """
    cfg = cfg or IndexConfig()
    if docs_df is None and not assume_unique_ids:
        pages = dedup_pages(pages)
    gdir = os.path.join(index_dir, f"gen{generation}")
    os.makedirs(gdir, exist_ok=True)
    stage_s: dict[str, float] = {}
    _t = time.time()

    def _lap(stage: str) -> None:
        nonlocal _t
        now = time.time()
        stage_s[stage] = round(now - _t, 2)
        _t = now

    docs_path = _stage_dir(gdir, "docs")
    stats_path = _stage_dir(gdir, "term_stats")
    postings_path = _stage_dir(gdir, "postings")
    n_parts = cfg.n_partitions or spark.sparkContext.defaultParallelism

    def _refresh(path: str) -> None:
        # Spark's session-wide FileStatusCache never expires by default; an
        # overwrite to a previously-read path (resume, compaction, generation
        # rebuild on streaming replay) would otherwise serve a stale file
        # listing to the next read.parquet on the same path.
        spark.catalog.refreshByPath(path)

    # stage 1: docs (extract + doc_len) — OVERLAPPED with the postings
    # chain (guide §2.6): the docs-table write and the postings shuffle are
    # independent sinks, and serializing them just left the cluster idle
    # during each one's tail. When the termdoc stream derives from the same
    # extracted frame, that frame is persisted (MEMORY_AND_DISK) so extract
    # runs ONCE and both consumers share it — the "analyzed exactly once"
    # invariant holds; the persist is scoped to the build and unpersisted
    # the moment both writes land. On the merge path (postings_df given)
    # the two lineages are already independent, so no persist is needed.
    # Measured at 200k docs / local[32]: warm build 7.2 -> 6.3 s, cold
    # 17.6 -> ~14 s (the two first-job warmups amortize concurrently).
    docs_future = None
    feed = None
    _stage1_pool = ThreadPoolExecutor(max_workers=1)
    if resume and _stage_done(gdir, "docs"):
        feed = spark.read.schema(DOCS_SCHEMA).parquet(docs_path)
        _lap("docs")
    else:
        src = (
            docs_df
            if docs_df is not None
            else build_docs(spark, pages, cfg.analyzer)
        )
        if postings_df is None:
            from pyspark import StorageLevel

            src = src.persist(StorageLevel.MEMORY_AND_DISK)
        feed = src

        def _docs_write() -> None:
            t0 = time.time()
            src.write.mode("overwrite").parquet(docs_path)
            _refresh(docs_path)
            _mark_done(gdir, "docs")
            stage_s["docs"] = round(time.time() - t0, 2)

        docs_future = _stage1_pool.submit(_docs_write)
    docs = feed

    # stage 2: posting blocks, pipelined docs -> tokenize -> shuffle -> sort
    # -> encode with NO intermediate materialization (per-posting rows exist
    # only inside the one exchange; at 10^12 docs the avoided termdoc
    # checkpoint is petabytes of IO).
    #
    # Skew/shuffle design (north rule: explicit salting for head terms):
    # the shuffle key is hash(term, doc_id // window) — the doc-range window
    # IS the salt. A head term present in every document contributes at most
    # `window` rows per partition (hard bound, no sampling needed), while
    # rare terms stay whole. Unlike repartitionByRange this needs no
    # range-boundary sampling pass (which would re-run the entire tokenize
    # upstream once more). Window is a multiple of chunk_docs, so chunk
    # alignment (and therefore WAND correctness) is preserved; files remain
    # term-sorted via sortWithinPartitions, so parquet row-group min/max
    # stats still prune query-term scans.
    try:
        if not (resume and _stage_done(gdir, "postings")):
            if postings_df is not None:
                # block-level merge: rows arrive encoded, partitioned and
                # ordered by the merge kernel — nothing left but the write
                postings_df.write.mode("overwrite").parquet(postings_path)
            else:
                window = min(cfg.chunk_docs * cfg.salt_chunks, 1 << 62)
                (
                    build_termdoc(docs, cfg.analyzer)
                    .repartition(
                        n_parts,
                        F.xxhash64("term", (F.col("doc_id") / window).cast("long")),
                    )
                    .sortWithinPartitions("term", "doc_id")
                    .mapInArrow(_make_block_encoder(cfg), schema=BLOCKS_SCHEMA)
                    .write.mode("overwrite")
                    .parquet(postings_path)
                )
            _refresh(postings_path)
            _mark_done(gdir, "postings")
        _lap("postings")
    finally:
        # join the overlapped docs write and release the shared extract
        # cache on every exit, so a failed stage 2 leaks no pool thread and
        # no persisted frame; shutdown(wait=True) waits for the docs write,
        # and a stage-2 error propagates ahead of the docs write's own
        _stage1_pool.shutdown(wait=True)
        if docs_future is not None and postings_df is None:
            feed.unpersist()
    if docs_future is not None:
        docs_future.result()

    # parquet FOOTER count only (no Spark job) — avgdl is derived below
    # from posting block metadata (sum_tf), so no job ever tokenizes for
    # stats
    n_docs = _parquet_rows(docs_path)

    # stages 2b + 3 + the manifest metrics read ONLY the finished postings
    # files. How they run depends on those files' total size (os.stat —
    # the index dir is local, see _parquet_rows):
    # - driver: postings no larger than _DRIVER_FINISH_MAX_BYTES, when
    #   pyarrow writes the session's codec, are read once with pyarrow and
    #   all three derive in-process (_finish_on_driver). At the benchmark's
    #   2k-page size the Spark finish is 12 jobs re-reading the same files:
    #   1.0 s of a 2.6 s warm build at local[4], against ~60 ms for the
    #   same work in pyarrow.
    # - spark: larger generations run the three as mutually independent
    #   Spark jobs from a small thread pool, so their tails back-fill each
    #   other's idle executors (guide §2.6: overlap independent jobs).
    postings_bytes = sum(
        os.stat(f).st_size for f in _parquet_files(postings_path)
    )
    codec = _arrow_codec(spark)
    finish = {
        "path": (
            "driver"
            if codec is not None and postings_bytes <= _DRIVER_FINISH_MAX_BYTES
            else "spark"
        ),
        "postings_bytes": postings_bytes,
        "limit": _DRIVER_FINISH_MAX_BYTES,
    }
    serve_path = _stage_dir(gdir, "postings_term")
    # files per finish stage: a one-partition generation (a small ingest
    # batch, streaming.incremental.batch_width) writes one each, as its
    # other stages do; wider ones keep at least four
    serve_parts = 1 if n_parts == 1 else max(4, n_parts // 2)
    stats_parts = (
        1 if n_parts == 1 else max(4, spark.sparkContext.defaultParallelism // 2)
    )
    # the serve copy's row groups: the serving tier's read unit
    serve_group_bytes = 1 << 20

    def _read_postings() -> DataFrame:
        return spark.read.schema(BLOCKS_SCHEMA).parquet(postings_path)

    def _serve_stage() -> None:
        # stage 2b: term-clustered serve copy of the posting blocks, for
        # the serving tier (query/serve.py) — the WAND layout hashes a
        # term's blocks across every file. Input is the ENCODED blocks
        # (already delta+varint compressed), so this shuffle moves a small
        # multiple of the final index bytes. repartitionByRange on
        # (term, chunk) splits a head term across partitions at chunk
        # boundaries (no single-reducer skew at 10^12 docs) while keeping
        # each term's blocks contiguous on disk; 1 MiB row groups give the
        # serving tier a fine-grained read unit.
        t0 = time.time()
        if not (resume and _stage_done(gdir, "postings_term")):
            (
                _read_postings()
                .repartitionByRange(serve_parts, "term", "chunk")
                .sortWithinPartitions("term", "chunk", "first_doc")
                .write.mode("overwrite")
                .option("parquet.block.size", serve_group_bytes)
                .parquet(serve_path)
            )
            _refresh(serve_path)
            _mark_done(gdir, "postings_term")
        stage_s["postings_term"] = round(time.time() - t0, 2)

    def _stats_stage() -> None:
        # stage 3: term stats DERIVED FROM BLOCK METADATA — df = sum of
        # block sizes per term, cf = sum of per-block tf sums; no posting
        # bytes decoded, no second tokenize pass. Output sorted by term for
        # parquet min/max pruning at query time (the per-query "broadcast
        # term statistics" lookup of the north rule).
        t0 = time.time()
        if not (resume and _stage_done(gdir, "term_stats")):
            (
                _read_postings()
                .groupBy("term")
                .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("cf"))
                .repartitionByRange(stats_parts, "term")
                .sortWithinPartitions("term")
                .write.mode("overwrite")
                .parquet(stats_path)
            )
            _refresh(stats_path)
            _mark_done(gdir, "term_stats")
        stage_s["term_stats"] = round(time.time() - t0, 2)

    def _metrics_job() -> list:
        # manifest metrics: ONE job over posting metadata
        return (
            _read_postings()
            .groupBy("part_id")
            .agg(
                F.count("*").alias("n_blocks"),
                F.sum("n").alias("n_postings"),
                F.sum(
                    F.octet_length("docs_bin")
                    + F.octet_length("tfs_bin")
                    + F.octet_length("dls_bin")
                ).alias("encoded_bytes"),
                F.sum("sum_tf").alias("sum_tf"),
            )
            .collect()
        )

    if finish["path"] == "driver":
        todo = {
            stage: (path, parts, group_bytes)
            for stage, path, parts, group_bytes in (
                ("term_stats", stats_path, stats_parts, None),
                ("postings_term", serve_path, serve_parts, serve_group_bytes),
            )
            if not (resume and _stage_done(gdir, stage))
        }
        part_rows = _finish_on_driver(
            postings_path, postings_bytes, todo, codec, stage_s
        )
        for stage, (path, _parts, _bytes) in todo.items():
            _refresh(path)
            _mark_done(gdir, stage)
    else:
        with ThreadPoolExecutor(max_workers=3) as pool:
            serve_f = pool.submit(_serve_stage)
            stats_f = pool.submit(_stats_stage)
            part_rows = pool.submit(_metrics_job).result()
            stats_f.result()
            serve_f.result()
    _lap("parallel_finish")

    part_metrics = {
        str(r["part_id"]): {
            "n_blocks": int(r["n_blocks"]),
            "n_postings": int(r["n_postings"]),
            "encoded_bytes": int(r["encoded_bytes"]),
        }
        for r in part_rows
    }
    # avgdl == avg over doc rows of token count: every token contributes
    # exactly one tf unit (field-prefixing renames, never splits, tokens)
    total_tokens = sum(int(r["sum_tf"]) for r in part_rows)
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    n_terms = _parquet_rows(stats_path)
    gen_manifest = {
        "generation": generation,
        # identity nonce for THIS build of this generation: readers that
        # cache decoded state (the serve tier) must drop it when a
        # generation is REBUILT under the same number — compact() of
        # gens [0,N] lands on [0] again, so the generation list alone
        # cannot distinguish "same files" from "entirely new files"
        "build_id": uuid.uuid4().hex,
        "strategy_check": cfg.checksum(),
        "analyzer": cfg.analyzer,
        "postings_codec": cfg.postings_codec,
        "block_size": cfg.block_size,
        "chunk_docs": cfg.chunk_docs,
        "k1": cfg.k1,
        "b": cfg.b,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "n_terms": int(n_terms),
        # the non-checksum build knob, persisted so config_of round-trips
        # the FULL config: compaction keeps the original partitioning choice
        "n_partitions": cfg.n_partitions,
        "stage_seconds": stage_s,
        # which finish ran and why (postings bytes vs the one-open limit)
        "finish": finish,
        "partitions": part_metrics,
    }
    with open(os.path.join(gdir, "manifest.json"), "w") as f:
        json.dump(gen_manifest, f, indent=1, sort_keys=True)

    if register:
        register_generation(index_dir, generation, cfg)
    return gen_manifest


def config_of(index_dir: str) -> IndexConfig:
    """Reconstruct the IndexConfig an index was built with, from its BASE
    (oldest) generation manifest. Incremental ingest and compaction MUST
    build with the same chunk/block geometry as the existing generations:
    tombstones and WAND pruning are chunk-keyed, so a generation with a
    different chunk_docs silently fails to kill replaced docs. (Checksum
    fields are identical across generations by construction; the oldest is
    read because the non-checksum layout knob, n_partitions, is
    authoritative from the base build: incremental generations
    right-size n_partitions to their own batch, which must not leak into
    the config a compaction rebuilds the whole corpus with.)"""
    manifest_path = os.path.join(index_dir, "manifest.json")
    with open(manifest_path) as f:
        gens = json.load(f)["generations"]
    gdir = os.path.join(index_dir, f"gen{min(gens)}")
    with open(os.path.join(gdir, "manifest.json")) as f:
        gm = json.load(f)
    check_layout(gm)
    return IndexConfig(
        analyzer=gm["analyzer"],
        block_size=gm["block_size"],
        chunk_docs=gm["chunk_docs"],
        k1=gm["k1"],
        b=gm["b"],
        # .get: manifests written before it was persisted fall back to the
        # IndexConfig default
        n_partitions=gm.get("n_partitions"),
    )


_KEEP = object()  # sentinel: "leave the manifest's tombstone pointer alone"


def commit_manifest(
    index_dir: str,
    *,
    generations: list[int] | None = None,
    strategy_check: str | None = None,
    tombstones: object = _KEEP,
    operation: str = "append",
    summary: dict | None = None,
) -> dict:
    """The single commit point: atomically update the top-level manifest
    (tmp write + os.replace — readers see either the old or the new state,
    never a torn file) and append the matching snapshot record to the
    lineage log (snapshots.py — the Iceberg-snapshot analog)."""
    from .snapshots import commit_snapshot

    manifest_path = os.path.join(index_dir, "manifest.json")
    manifest: dict = {"generations": []}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
    if generations is not None:
        manifest["generations"] = sorted(set(int(g) for g in generations))
    if strategy_check is not None:
        manifest["strategy_check"] = strategy_check
    if tombstones is not _KEEP:
        if tombstones is None:
            manifest.pop("tombstones", None)
        else:
            manifest["tombstones"] = tombstones
    # WAL ordering: append the snapshot record FIRST, then swap the
    # manifest (the visibility point).  A crash between the two leaves a
    # log record for a commit that never became current — harmless (its
    # data dirs exist, time travel to it works) — whereas the reverse
    # order could reuse a snapshot id, and with it a tombstone-version
    # dir name the now-current manifest already references.
    commit_snapshot(
        index_dir,
        operation=operation,
        generations=manifest["generations"],
        tombstones=manifest.get("tombstones"),
        summary=summary,
    )
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, manifest_path)
    return manifest


def register_generation(
    index_dir: str,
    generation: int,
    cfg: IndexConfig,
    *,
    tombstones: object = _KEEP,
    summary: dict | None = None,
) -> None:
    """Commit a built generation: add it to the manifest's generation list
    (optionally swinging the tombstone-version pointer in the SAME commit —
    an incremental batch is one logical transaction) and append an "append"
    snapshot to the lineage log."""
    manifest_path = os.path.join(index_dir, "manifest.json")
    gens = [generation]
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            gens += [
                g
                for g in json.load(f).get("generations", [])
                if g != generation
            ]
    if summary is None:
        gman = os.path.join(index_dir, f"gen{generation}", "manifest.json")
        with open(gman) as f:
            gm = json.load(f)
        summary = {
            "generation": generation,
            "n_docs": gm.get("n_docs"),
            "n_terms": gm.get("n_terms"),
        }
    commit_manifest(
        index_dir,
        generations=gens,
        strategy_check=cfg.checksum(),
        tombstones=tombstones,
        operation="append",
        summary=summary,
    )


@dataclass
class IndexReader:
    """Handle over a built index (all generations). The metadata, `slices`
    and the tombstone pointer need no Spark session: the serve tier opens
    a reader with `spark=None` and reads only through those."""

    spark: SparkSession | None
    index_dir: str
    manifest: dict = field(default_factory=dict)
    gen_manifests: list[dict] = field(default_factory=list)
    _df_cache: dict = field(default_factory=dict)
    # tombstone dir NAME this reader sees (a versioned immutable table, the
    # legacy in-place dir, or None) — fixed at open() so the view is a
    # consistent snapshot even while writers commit new versions
    tombstone_dir: str | None = None
    # the driver's reader of this view's files (term stats, the driver
    # top-k, the serve tier)
    slices: SliceReader = field(init=False, repr=False)
    # the tombstone version, resolved once: "files", "arrays"
    _tomb: dict = field(init=False, repr=False, default_factory=dict)
    _tomb_lock: threading.Lock = field(
        init=False, repr=False, default_factory=threading.Lock
    )

    def __post_init__(self):
        self.slices = SliceReader(self.index_dir, self.gen_manifests)

    @classmethod
    def open(
        cls,
        spark: SparkSession | None,
        index_dir: str,
        snapshot_id: int | None = None,
    ) -> "IndexReader":
        """Open the current committed state, or — with `snapshot_id` — the
        index exactly as of that commit (Iceberg time travel: the snapshot
        record pins the generation list, per-generation build nonces, and
        the tombstone version; raises SnapshotExpiredError if those bytes
        were since expired or rebuilt)."""
        from .snapshots import (
            resolve_tombstone_dir,
            snapshot_by_id,
            verify_snapshot_readable,
        )

        with open(os.path.join(index_dir, "manifest.json")) as f:
            manifest = json.load(f)
        if snapshot_id is None:
            gen_list = manifest["generations"]
            tomb_dir = resolve_tombstone_dir(index_dir, manifest)
        else:
            rec = snapshot_by_id(index_dir, snapshot_id)
            verify_snapshot_readable(index_dir, rec)
            gen_list = rec["generations"]
            tomb_dir = rec.get("tombstones")
            manifest = {**manifest, "generations": gen_list}
        gens = []
        for g in gen_list:
            with open(os.path.join(index_dir, f"gen{g}", "manifest.json")) as f:
                gens.append(json.load(f))
            check_layout(gens[-1])
        return cls(spark, index_dir, manifest, gens, tombstone_dir=tomb_dir)

    def _read_scope(self, interactive: bool):
        """SQL conf scope to create a cached relation under: the
        interactive guard for a top-k's variant, the session's own conf
        otherwise."""
        from contextlib import nullcontext

        from ..session import interactive_sql_conf

        return interactive_sql_conf(self.spark) if interactive else nullcontext()

    def _union(self, stage: str, interactive: bool = False) -> DataFrame:
        """Union across generations with a `gen` provenance column (the
        segment id — tombstones are generation-scoped, Lucene-style).

        `interactive=True` creates the parquet relations under the
        interactive SQL conf scope: file-scan SPLITS are decided when the
        relation is created (not at action time), so a top-k's pruned
        slice read must be born with the byte-sized split shape
        (session.INTERACTIVE_SCAN_*) while batch consumers (compaction,
        serve-layout copy) keep cluster-width scans from the default
        variant. Cached separately per variant. Each read names the
        stage's schema (STAGE_SCHEMAS), so building the frame starts no
        Spark job."""
        key = (stage, interactive)
        if key not in self._df_cache:
            with self._read_scope(interactive):
                parts = []
                for g in self.gen_manifests:
                    gen = g["generation"]
                    df = (
                        self.spark.read.schema(STAGE_SCHEMAS[stage])
                        .parquet(os.path.join(self.index_dir, f"gen{gen}", stage))
                        .withColumn("gen", F.lit(gen))
                    )
                    parts.append(df)
            out = parts[0]
            for df in parts[1:]:
                out = out.unionByName(df)
            self._df_cache[key] = out
        return self._df_cache[key]

    @property
    def k1(self) -> float:
        return self.gen_manifests[0]["k1"]

    @property
    def b(self) -> float:
        return self.gen_manifests[0]["b"]

    @property
    def analyzer(self) -> str:
        return self.gen_manifests[0]["analyzer"]

    @property
    def chunk_docs(self) -> int:
        """Doc-id chunking constant (identical across generations by
        strategy_check — the query planner's groupBy key derives from it)."""
        return self.gen_manifests[0]["chunk_docs"]

    @property
    def n_docs(self) -> int:
        return sum(g["n_docs"] for g in self.gen_manifests)

    @property
    def avgdl(self) -> float:
        n = self.n_docs
        if n == 0:
            return 0.0
        return sum(g["avgdl"] * g["n_docs"] for g in self.gen_manifests) / n

    def postings(self, interactive: bool = False) -> DataFrame:
        return self._union("postings", interactive=interactive)

    def docs(self) -> DataFrame:
        return self._union("docs")

    def term_stats(self) -> DataFrame:
        """Union across generations, re-aggregated (df/cf add)."""
        df = self._union("term_stats").drop("gen")
        if len(self.gen_manifests) == 1:
            return df
        return df.groupBy("term").agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))

    def term_stats_local(self, terms) -> dict[str, int]:
        """df per query term, summed across generations, read DRIVER-SIDE
        with no Spark job (SliceReader.term_dfs): a lookup reads only the
        term_stats row groups that hold a query term. Terms the index does
        not hold are absent."""
        return self.slices.term_dfs(terms)

    def tombstones(self, interactive: bool = False) -> DataFrame | None:
        """(doc_id, before_gen): the doc is dead in every generation
        strictly below before_gen (a replacement tombstones only older
        segments; expel uses before_gen = EXPEL_ALL). Legacy in-place dirs
        may hold several rows for one doc. The batch variant collapses
        them to the max before_gen per doc; the interactive variant is the
        version's raw rows, which the top-k kernel collapses per chunk
        (codec.collapse_tombstones), so a top-k plans no aggregate.
        Reads the tombstone VERSION resolved at open() — later merges
        write new versions and never mutate this one — so the frame is
        built once per reader and `interactive` variant (see _union), and
        read with TOMBSTONE_SCHEMA named, so building it starts no job."""
        if self.tombstone_dir is None:
            return None
        key = ("tombstones", interactive)
        if key not in self._df_cache:
            path = os.path.join(self.index_dir, self.tombstone_dir)
            if not os.path.exists(path):
                return None
            with self._read_scope(interactive):
                tomb = self.spark.read.schema(TOMBSTONE_SCHEMA).parquet(path)
            if not interactive:
                tomb = tomb.groupBy("doc_id").agg(
                    F.max("before_gen").alias("before_gen")
                )
            self._df_cache[key] = tomb
        return self._df_cache[key]

    def tombstone_files(self) -> tuple[list[str], int]:
        """(parquet files, total bytes) of this reader's tombstone version,
        ([], 0) when it has none, listed once: no writer rewrites a version
        (merges write a new tombstones_v{n}), so a warm query touches no
        directory. A pointer to a missing dir raises: a broken index."""
        with self._tomb_lock:
            if "files" not in self._tomb:
                name = self.tombstone_dir
                path = name and os.path.join(self.index_dir, name)
                files = _parquet_files(path) if path else []
                self._tomb["files"] = (files, sum(map(os.path.getsize, files)))
            return self._tomb["files"]

    def tombstone_arrays(self) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids sorted unique, aligned max before_gen) of this reader's
        tombstone version (collapse_tombstones; empty when it has none),
        read once, when the driver first needs them: the driver top-k, the
        serve tier, compaction's block merge. The exchange reads the
        version in Spark instead."""
        import pyarrow.parquet as pq

        files, _nbytes = self.tombstone_files()
        with self._tomb_lock:
            if "arrays" not in self._tomb:
                rows = [np.empty(0, np.int64)] * 2
                if files:
                    tbl = pq.read_table(files, columns=["doc_id", "before_gen"])
                    rows = [c.to_numpy() for c in tbl.columns]
                self._tomb["arrays"] = collapse_tombstones(*rows)
            return self._tomb["arrays"]

    def live_docs(self) -> DataFrame:
        """docs() minus generation-superseded and expelled rows."""
        docs = self.docs()
        tomb = self.tombstones()
        if tomb is None:
            return docs
        # un-hinted: tombstones are unbounded between compactions; AQE
        # broadcasts when small, shuffles when not (never a driver OOM)
        joined = docs.join(tomb, "doc_id", "left")
        return joined.filter(
            F.col("before_gen").isNull() | (F.col("gen") >= F.col("before_gen"))
        ).drop("before_gen")


EXPEL_ALL = 1 << 30
