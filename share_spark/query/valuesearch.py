"""Valuesearch: aggregations over value rows (SURVEY.md §2.4).

Reference: GET /trove/index-value-search — ES `terms` agg with nested
label/type sub-aggs and overfetch paging (trovesearch_denorm.py:838-908),
`date_histogram` for date properties, `propertypaths_present` usage counts
for relatedPropertyList (:805-816).

Spark shape: plain groupBy plans. Partial (map-side) aggregation makes the
counts skew-safe; `collect_set` mirrors the nested label sub-aggs.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .filters import SearchFilter, apply_filters

# Deployment property-path config for the nested sub-aggs — the osfmap
# NAME/TITLE/LABEL property sets (trove/vocab/osfmap.py:962-965), as the
# depth-1 path_keys the extractor emits.
TYPE_PATHS: tuple[str, ...] = ('["rdf:type"]',)
NAME_PATHS: tuple[str, ...] = ('["foaf:name"]', '["osf:fileName"]')
TITLE_PATHS: tuple[str, ...] = ('["dcterms:title"]',)
LABEL_PATHS: tuple[str, ...] = (
    '["rdfs:label"]', '["skos:prefLabel"]', '["skos:altLabel"]',
)

_VKEY = ["doc_id", "value_iri"]

# surfaced values a sub-agg page embeds as a literal isin predicate; a
# deeper page (offset + page_size + 1 above this) semi-joins a broadcast
# LocalRelation of its values instead, so the plan stays bounded under
# deep paging
ISIN_MAX_VALUES = 256


def _text_matching_value_keys(
    value_meta: DataFrame,
    text: str,
    text_paths: tuple[str, ...],
    analyzer: str,
) -> DataFrame:
    """(doc_id, value_iri) pairs whose text rows satisfy the AND-of-terms
    simple_query_string over the scoped paths (trovesearch_denorm.py:656-668
    with base_field='iri_value'): every query token must appear in SOME text
    row at the paths (() = any depth-1 text, the '*' default).

    JVM-side: stored text splits with the standard-analyzer regex; per-pair
    distinct-matched-token count must equal the query's distinct token count.
    """
    from ..analysis import tokenize

    toks = sorted(set(tokenize(text, analyzer)))
    if not toks:
        return value_meta.select(*_VKEY).distinct()
    rows = value_meta.filter(F.col("text_value").isNotNull())
    if text_paths:
        rows = rows.filter(F.col("path_key").isin(list(text_paths)))
    else:
        rows = rows.filter(F.col("depth") == 1)
    tok_col = F.explode(
        F.array_distinct(F.split(F.lower("text_value"), r"[^0-9a-z_]+"))
    ).alias("_tok")
    return (
        rows.select(*_VKEY, tok_col)
        .filter(F.col("_tok").isin(toks))
        .groupBy(*_VKEY)
        .agg(F.countDistinct("_tok").alias("_n"))
        .filter(F.col("_n") == len(toks))
        .select(*_VKEY)
    )


def _subagg(kind_col: str, paths: tuple[str, ...]):
    """One nested terms sub-agg: sorted distinct values at the paths."""
    return F.array_sort(
        F.collect_set(
            F.when(F.col("path_key").isin(list(paths)), F.col(kind_col))
        )
    )


def value_counts(
    doc_values: DataFrame,
    path_keys: list[str],
    *,
    card_filter_docs: DataFrame | None = None,
    page_size: int = 13,
    offset: int = 0,
    value_meta: DataFrame | None = None,
    value_filters: tuple[SearchFilter, ...] = (),
    value_text: str | None = None,
    value_text_paths: tuple[str, ...] = (),
    analyzer: str = "standard",
    type_paths: tuple[str, ...] = TYPE_PATHS,
    name_paths: tuple[str, ...] = NAME_PATHS,
    title_paths: tuple[str, ...] = TITLE_PATHS,
    label_paths: tuple[str, ...] = LABEL_PATHS,
) -> DataFrame:
    """terms-agg analog: count matching docs per IRI value at the paths.

    `card_filter_docs` scopes to a cardsearch context (the reference ANDs the
    card-scoped query into the value-doc query, trovesearch_denorm.py:838-859).
    `value_meta` is the (doc_id, value_iri)-keyed long table from
    rdf.extract_value_values; when present the result carries the nested
    sub-agg columns (agg_type_iri / agg_value_name / agg_value_title /
    agg_value_label, trovesearch_denorm.py:869-877 unpacked at :530-538), and
    `value_filters` / `value_text` compile the valueSearchFilter /
    valueSearchText constraints against it (the base_field='iri_value'
    _QueryHelper, :852-858).

    Overfetch paging parity: bucket size = offset + page + 1
    (trovesearch_denorm.py:860-880 — 'terribly hacky pagination').

    Returns, ordered by match_count desc, iri_value asc (stable):
      without value_meta: (iri_value, match_count)
      with value_meta:    (iri_value, match_count, type_iris, name_texts,
                           title_texts, label_texts) — sorted string arrays.
    """
    if (value_filters or value_text) and value_meta is None:
        raise ValueError(
            "valueSearchFilter/valueSearchText require a value_meta table "
            "(rdf.extract_value_values) — refusing to silently drop them"
        )
    rows = doc_values.filter(
        F.col("path_key").isin(path_keys) & F.col("iri_value").isNotNull()
    )
    if card_filter_docs is not None:
        rows = rows.join(
            card_filter_docs.select("doc_id").distinct(), "doc_id", "left_semi"
        )
    pairs = rows.select("doc_id", F.col("iri_value").alias("value_iri"))
    if value_filters:
        pairs = apply_filters(
            pairs, value_meta, list(value_filters), key_cols=tuple(_VKEY)
        )
    if value_text:
        pairs = pairs.join(
            _text_matching_value_keys(
                value_meta, value_text, value_text_paths, analyzer
            ),
            _VKEY,
            "left_semi",
        )
    if value_meta is not None:
        # the filtered pair set is referenced by BOTH the bucket aggregation
        # and the sub-agg semi-join below; a lazy plan re-runs the whole
        # filter/text subtree (several joins) per reference — materialize it
        # once. Size is bounded by the card context's (doc, value) pairs,
        # orders of magnitude below the corpus; distributed, not driver-side.
        pairs = pairs.localCheckpoint()
    agg = (
        pairs.groupBy("value_iri")
        .agg(F.countDistinct("doc_id").alias("match_count"))
        .orderBy(F.desc("match_count"), F.asc("value_iri"))
        .limit(offset + page_size + 1)
    )
    if value_meta is None:
        return agg.select(F.col("value_iri").alias("iri_value"), "match_count")
    # The surfaced page is referenced TWICE below (bucket aggregation +
    # final merge), and each lazy reference would re-run the FULL pairs
    # aggregation — so materialize the ≤ offset+page+1 rows once,
    # driver-side (the same bounded-collect pattern as wand_topk's top-k
    # merge; never more rows than a results page). Both the page
    # aggregation and the sub-agg job below run under the interactive conf
    # scope: their inputs are the checkpointed pair frame and the ≤ page
    # surfaced buckets' meta rows — result-page-bounded slices, not corpus
    # scans — so a wide AQE reduce only adds fixed cost (the pair-set
    # materialization above deliberately stays on the session's batch conf:
    # its filter joins ARE corpus-sized at scale).
    from ..session import interactive_sql_conf

    spark = doc_values.sparkSession
    with interactive_sql_conf(spark):
        agg_rows = agg.collect()
        surfaced = [r["value_iri"] for r in agg_rows]
        # nested sub-aggs over the meta rows of the SURVIVING pairs only —
        # the per-bucket terms sub-aggs see the same filtered document set —
        # and only for the ≤ offset+k+1 SURFACED buckets. Up to
        # ISIN_MAX_VALUES the page is a literal isin predicate (pushable
        # into the meta scan, one join fewer per request); past it, a
        # broadcast semi-join.
        if len(surfaced) <= ISIN_MAX_VALUES:
            meta = value_meta.filter(F.col("value_iri").isin(surfaced))
        else:
            page_iris = spark.createDataFrame(
                pa.table({"value_iri": pa.array(surfaced, pa.string())}),
                schema="value_iri string",
            )
            meta = value_meta.join(F.broadcast(page_iris), "value_iri", "left_semi")
        subs = (
            meta.join(pairs, _VKEY, "left_semi")
            .groupBy("value_iri")
            .agg(
                _subagg("iri_value", type_paths).alias("type_iris"),
                _subagg("text_value", name_paths).alias("name_texts"),
                _subagg("text_value", title_paths).alias("title_texts"),
                _subagg("text_value", label_paths).alias("label_texts"),
            )
        )
        sub_rows = {r["value_iri"]: r for r in subs.collect()} if surfaced else {}
    # final merge + ordering driver-side over ≤ offset+page+1 rows; the
    # result page embeds as a LocalRelation (no job on downstream actions)
    page_rows = sorted(
        agg_rows, key=lambda r: (-r["match_count"], r["value_iri"])
    )
    sub_cols = ("type_iris", "name_texts", "title_texts", "label_texts")
    data = {
        "iri_value": [r["value_iri"] for r in page_rows],
        "match_count": pd.Series(
            [r["match_count"] for r in page_rows], dtype="int64"
        ),
    }
    for c in sub_cols:
        data[c] = [
            list(sub_rows[r["value_iri"]][c])
            if r["value_iri"] in sub_rows
            else []
            for r in page_rows
        ]
    return spark.createDataFrame(
        pd.DataFrame(data),
        schema=(
            "iri_value string, match_count long, type_iris array<string>, "
            "name_texts array<string>, title_texts array<string>, "
            "label_texts array<string>"
        ),
    )


def date_histogram(
    doc_values: DataFrame,
    path_keys: list[str],
    *,
    card_filter_docs: DataFrame | None = None,
) -> DataFrame:
    """Calendar-year date_histogram, min_doc_count=1, ordered by year desc
    (trovesearch_denorm.py:883-908)."""
    rows = doc_values.filter(
        F.col("path_key").isin(path_keys) & F.col("date_value").isNotNull()
    )
    if card_filter_docs is not None:
        rows = rows.join(
            card_filter_docs.select("doc_id").distinct(), "doc_id", "left_semi"
        )
    return (
        rows.withColumn("year", F.year("date_value"))
        .groupBy("year")
        .agg(F.countDistinct("doc_id").alias("match_count"))
        .filter(F.col("match_count") >= 1)
        .orderBy(F.desc("year"))
    )


def related_property_counts(
    doc_values: DataFrame, suggested_paths: list[str]
) -> DataFrame:
    """relatedPropertyList: usage count per suggested path, zero-filled
    (trovesearch_denorm.py:805-816, merge at :569-580)."""
    spark = doc_values.sparkSession
    suggested = spark.createDataFrame(
        [(p,) for p in suggested_paths], "path_key string"
    )
    counts = (
        doc_values.filter(F.col("path_key").isin(suggested_paths))
        .groupBy("path_key")
        .agg(F.countDistinct("doc_id").alias("usage_count"))
    )
    return (
        suggested.join(counts, "path_key", "left")
        .select(
            "path_key",
            F.coalesce("usage_count", F.lit(0)).alias("usage_count"),
        )
        .orderBy(F.desc("usage_count"), F.asc("path_key"))
    )


def total_with_saturation(docs: DataFrame, cap: int = 10_000) -> tuple[int, str]:
    """hits.total parity: exact up to `cap`, 'MANY_MORE' beyond
    (trovesearch_denorm.py:553-560, page_cursor.py:15-16). Implemented as a
    limit(cap+1) count so huge result sets never require a full count."""
    n = docs.limit(cap + 1).count()
    if n > cap:
        return cap, "gte"
    return n, "eq"


def cardsearch(
    docs: DataFrame,
    doc_values: DataFrame,
    filters: list[SearchFilter],
    *,
    sort_col: str | None = None,
    sort_desc: bool = True,
    page_size: int = 13,
    offset: int = 0,
) -> DataFrame:
    """Filter-only cardsearch (no text): filters + field sort + paging.

    Missing-value semantics parity: dates sort missing-last, ints missing-as-0
    (trovesearch_denorm.py:818-835) — callers pre-coalesce int sort columns.
    Deterministic tie-break on doc_id (pinned orderings,
    _common_trovesearch_tests.py:330-337).
    """
    out = apply_filters(docs, doc_values, filters)
    if sort_col:
        primary = (
            F.desc_nulls_last(sort_col) if sort_desc else F.asc_nulls_last(sort_col)
        )
        out = out.orderBy(primary, F.asc("doc_id"))
    else:
        out = out.orderBy(F.asc("doc_id"))
    if offset:
        from pyspark.sql import Window

        w = Window.orderBy(
            *(
                [
                    F.desc_nulls_last(sort_col)
                    if sort_desc
                    else F.asc_nulls_last(sort_col),
                    F.asc("doc_id"),
                ]
                if sort_col
                else [F.asc("doc_id")]
            )
        )
        return (
            out.limit(offset + page_size)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > offset)
            .drop("_rn")
        )
    return out.limit(page_size)
