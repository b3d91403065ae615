"""Path-scoped full-text search — the engine behind cardSearchText[path].

Reference semantics (trove/trovesearch/search_params.py:139-186;
share/search/index_strategy/trovesearch_denorm.py:718-723): the denorm index
materializes one text field per propertypath and scopes simple_query_string
to the requested paths. Here the same shape is a posting index over
long-format FIELD ROWS:

  field_rows(doc_id, path_key, text)
    -> field "pages": frow_id = xxhash64(path_key, doc_id) as the unit of
       indexing (its dl is the field length, so BM25 length normalization is
       per-field, like Lucene)
    -> built by the SAME build_index DAG with terms prefixed
       '<path_key>\\x1f<token>' (index/build.py FIELD_SEP), so df / idf
       resolve per (path, term) — the per-field term-statistics analog
    -> a fieldmap parquet (frow_id, doc_id, path_key) maps hits back.

Scoped query = WAND over the field index with a path-prefixed ParsedQuery;
positions live inside the field row, so phrases cannot match across field
boundaries (correct). Multiple scoped paths combine best-field style: a
doc's score is its best per-path score (deterministic max; ties by doc_id).

Deviation vs ES, documented: avgdl is global over all field rows in the
index rather than per path (one corpus-stat set per index generation). The
formula is replicated exactly in the DuckDB oracle, so parity is testable.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..index.build import FIELD_SEP, IndexConfig, IndexReader, build_index
from .bm25 import ParsedQuery, parse_disjunction, validate_branches

FIELDMAP = "fieldmap"


def _parse_scoped(query_text: str, analyzer: str) -> ParsedQuery:
    """Parse a path-scoped query: parens that reduce to ONE conjunctive
    branch are fine ('(a b)'); true multi-branch disjunctions would need
    one WAND pass per (path, branch) plus a two-level score merge — refuse
    loudly instead of mis-parsing '|' and '(' as plain tokens."""
    branches = parse_disjunction(query_text, analyzer)
    if len(branches) > 1:
        raise NotImplementedError(
            "path-scoped queries support a single conjunctive branch; "
            "'|' disjunctions are not available with cardSearchText[path]"
        )
    validate_branches(branches)
    return branches[0]


def _prefixed(pq: ParsedQuery, path: str) -> ParsedQuery:
    p = lambda t: f"{path}{FIELD_SEP}{t}"  # noqa: E731
    return ParsedQuery(
        terms=tuple(p(t) for t in pq.terms),
        phrases=tuple(tuple(p(t) for t in ph) for ph in pq.phrases),
        neg_terms=tuple(p(t) for t in pq.neg_terms),
        neg_phrases=tuple(tuple(p(t) for t in ph) for ph in pq.neg_phrases),
        # stored terms are "path|term", so a term prefix scopes by
        # prefixing the namespace the same way
        prefixes=tuple(p(t) for t in pq.prefixes),
        neg_prefixes=tuple(p(t) for t in pq.neg_prefixes),
        phrase_slops=pq.phrase_slops,
        neg_phrase_slops=pq.neg_phrase_slops,
        # fuzzy stems scope the same way; expand_fuzzy measures edit
        # distance on the term part after the namespace separator
        fuzzies=tuple((p(t), d) for t, d in pq.fuzzies),
        neg_fuzzies=tuple((p(t), d) for t, d in pq.neg_fuzzies),
    )


def build_field_index(
    spark: SparkSession,
    field_rows: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    frow_strategy: str = "dense",
) -> "FieldIndex":
    """field_rows(doc_id, path_key, text) -> posting index + fieldmap.

    One build DAG for ALL paths (a path is a term-namespace, not a separate
    index): the shuffle/salting/chunk-alignment properties of the main build
    apply unchanged, and adding a path never adds a Spark stage.

    frow ids: 'dense' (default) = doc_id * n_paths + path_ordinal — keeps the
    corpus's doc-id density, so chunk occupancy (and therefore WAND task
    granularity) matches the main index; deterministic, so score ties break
    identically across runs. Requires |doc_id| < 2^62 / n_paths — for
    hash-derived corpus doc ids use frow_strategy='hash' (xxhash64; chunks go
    sparse, so raise chunk_docs accordingly).
    """
    cfg = cfg or IndexConfig()
    if frow_strategy == "dense":
        paths = sorted(
            r["path_key"]
            for r in field_rows.select("path_key").distinct().collect()
        )
        ordinal = {p: i for i, p in enumerate(paths)}
        n = len(paths)
        path_ord = F.element_at(
            F.create_map(
                *[x for p, i in ordinal.items() for x in (F.lit(p), F.lit(i))]
            ),
            F.col("path_key"),
        )
        frow = F.col("doc_id") * n + path_ord
    else:
        frow = F.xxhash64("path_key", F.col("doc_id").cast("string"))
    pages = field_rows.select(
        frow.cast("long").alias("doc_id"),
        F.col("doc_id").alias("orig_doc_id"),
        "path_key",
        "text",
    )
    fmap_path = os.path.join(index_dir, FIELDMAP)
    pages.select(
        F.col("doc_id").alias("frow_id"),
        F.col("orig_doc_id").alias("doc_id"),
        "path_key",
    ).write.mode("overwrite").parquet(fmap_path)
    build_index(
        spark,
        pages.select("doc_id", "path_key", "text"),
        index_dir,
        cfg,
    )
    return FieldIndex.open(spark, index_dir)


@dataclass
class FieldIndex:
    reader: IndexReader
    fieldmap: DataFrame  # (frow_id, doc_id, path_key)

    @classmethod
    def open(cls, spark: SparkSession, index_dir: str) -> "FieldIndex":
        reader = IndexReader.open(spark, index_dir)
        fmap = spark.read.parquet(os.path.join(index_dir, FIELDMAP))
        return cls(reader, fmap)

    def scoped_topk(
        self,
        query_text: str,
        paths: list[str],
        k: int = 13,
        offset: int = 0,
        filter_docs: DataFrame | None = None,
    ) -> DataFrame:
        """Top-k docs where `query_text` matches INSIDE one of `paths`.

        Per path: one WAND pass in the prefixed term namespace (top offset+k
        per path is sufficient — a doc's final score is its best per-path
        score, so any global top-n doc is in its best path's top-n). Hits
        map frow_id -> doc_id through a broadcast fieldmap slice.
        """
        from .wand import wand_topk

        pq = _parse_scoped(query_text, self.reader.analyzer)
        n_keep = offset + k
        fmap = self.fieldmap.filter(F.col("path_key").isin(list(paths)))
        frow_filter = None
        if filter_docs is not None:
            frow_filter = (
                fmap.join(filter_docs.select("doc_id"), "doc_id", "left_semi")
                .select(F.col("frow_id").alias("doc_id"))
            )
        parts = []
        for path in paths:
            hits = wand_topk(
                self.reader,
                query_text,
                k=n_keep,
                filter_docs=frow_filter,
                pq=_prefixed(pq, path),
            ).select(F.col("doc_id").alias("frow_id"), "score")
            parts.append(hits)
        allhits = parts[0]
        for p in parts[1:]:
            allhits = allhits.unionByName(p)
        mapped = allhits.join(
            F.broadcast(fmap.select("frow_id", "doc_id")), "frow_id"
        )
        best = mapped.groupBy("doc_id").agg(F.max("score").alias("score"))
        topn = best.orderBy(F.desc("score"), F.asc("doc_id")).limit(n_keep)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            topn.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") > offset)
            .select("doc_id", "score", "rank")
        )

    def scoped_match_docs(
        self,
        query_text: str,
        paths: list[str],
        filter_docs: DataFrame | None = None,
    ) -> DataFrame:
        """Unlimited boolean match set for path-scoped text: every doc where
        `query_text` matches inside one of `paths` (OR across paths, the
        multi-path simple_query_string semantics). Backs the valuesearch
        cardsearch-context — which must be unbounded, never top-k
        (trovesearch_denorm.py:838-859)."""
        from .wand import match_docs

        pq = _parse_scoped(query_text, self.reader.analyzer)
        fmap = self.fieldmap.filter(F.col("path_key").isin(list(paths)))
        frow_filter = None
        if filter_docs is not None:
            frow_filter = (
                fmap.join(filter_docs.select("doc_id"), "doc_id", "left_semi")
                .select(F.col("frow_id").alias("doc_id"))
            )
        parts = [
            match_docs(
                self.reader, query_text, filter_docs=frow_filter,
                pq=_prefixed(pq, path),
            ).select(F.col("doc_id").alias("frow_id"))
            for path in paths
        ]
        allhits = parts[0]
        for p in parts[1:]:
            allhits = allhits.unionByName(p)
        return (
            allhits.join(F.broadcast(fmap.select("frow_id", "doc_id")), "frow_id")
            .select("doc_id")
            .distinct()
        )
