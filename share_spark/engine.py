"""SearchEngine — the one-object facade over the whole surface.

A user of the reference talks to four endpoints (SURVEY.md §3): ingest,
/trove/index-card-search, /trove/index-value-search, and /oaipmh — plus a
renderer per mediatype. This class wires those to the Spark-native parts:

  engine = SearchEngine.build(spark, pages, index_dir)      # ingest/backfill
  engine.ingest(changed_pages)                               # incremental
  engine.cardsearch("cardSearchText=danger&page[size]=13")   # entry point A
  engine.valuesearch("valueSearchPropertyPath=...&...")      # entry point B
  engine.topk("danger -warning", serve=True)                 # low-latency tier
  engine.oaipmh({"verb": ["ListRecords"], ...})              # OAI-PMH XML
  engine.render(df, "text/csv")                              # outbound formats

Structured search needs a doc_values long table (derive it from turtle with
rdf.extract_doc_values, or supply your own); pass it at open/build time.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .index.build import IndexConfig, IndexReader, build_index
from .oaipmh import OaiRepository
from .query.fields import FieldIndex
from .query.params import (
    compile_cardsearch,
    compile_valuesearch,
    parse_cardsearch,
    parse_valuesearch,
)
from .query.serve import TopKServer
from .query.wand import wand_topk
from .render import (
    df_triples,
    to_atom,
    to_csv,
    to_html,
    to_jsonapi,
    to_jsonl,
    to_jsonld,
    to_rss,
    to_tsv,
    to_turtle,
)


@dataclass
class SearchEngine:
    spark: SparkSession
    index_dir: str
    reader: IndexReader
    doc_values: DataFrame | None = None
    value_meta: DataFrame | None = None  # rdf.extract_value_values output
    field_index: FieldIndex | None = None
    synonyms: DataFrame | None = None
    oai_cards: DataFrame | None = None
    _server: TopKServer | None = field(default=None, repr=False)
    # path_key -> 'date' | 'iri', computed from doc_values on first
    # valuesearch (one job over the distinct-path set — property-path
    # vocabulary, not corpus-sized) and reused for every query after;
    # removes compile_valuesearch's per-query limit(1) probe.
    # INVALIDATION CONTRACT: the cache is keyed to the doc_values object —
    # ingest() resets it; anyone reassigning engine.doc_values directly must
    # set engine._path_types = None or valuesearch dispatches date-vs-iri on
    # stale types. (For a mixed-typed path the catalog is any-date-wins —
    # deterministic, unlike the old arbitrary-row limit(1) probe.)
    _path_types: "dict[str, str] | None" = field(default=None, repr=False)

    # -- lifecycle --------------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        pages: DataFrame,
        index_dir: str,
        cfg: IndexConfig | None = None,
        **tables,
    ) -> "SearchEngine":
        """Full backfill build (SURVEY §3.3), then open."""
        build_index(spark, pages, index_dir, cfg or IndexConfig())
        return cls.open(spark, index_dir, **tables)

    @classmethod
    def open(
        cls, spark: SparkSession, index_dir: str, **tables
    ) -> "SearchEngine":
        return cls(
            spark, index_dir, IndexReader.open(spark, index_dir), **tables
        )

    def ingest(self, changed_pages: DataFrame, cfg: IndexConfig | None = None) -> dict:
        """Incremental batch -> new generation + tombstones; reopens the
        reader (an IndexReader is a snapshot handle) and refreshes the
        serving tier."""
        from .streaming.incremental import apply_incremental

        manifest = apply_incremental(
            self.spark, self.index_dir, changed_pages, cfg
        )
        self.reader = IndexReader.open(self.spark, self.index_dir)
        if self._server is not None:
            self._server.refresh()
        self._path_types = None  # new docs may introduce new property paths
        return manifest

    def history(self) -> list[dict]:
        """The index's commit lineage — one record per snapshot (build /
        ingest / expel / compact), oldest first.  The queryable twin of the
        reference's IndexBackfill audit rows
        (share/models/index_backfill.py:35-146); pass a record's
        snapshot_id to IndexReader.open for a time-travel read."""
        from .index.snapshots import read_snapshots

        return read_snapshots(self.index_dir)

    def expel(self, doc_ids: list[int]) -> None:
        """Soft-delete documents in ALL generations (the reference's expel
        lifecycle, trove/digestive_tract.py:232-241) and refresh this
        engine's handles so the tombstones are immediately visible."""
        from .streaming.incremental import expel

        expel(self.spark, self.index_dir, doc_ids)
        self.reader = IndexReader.open(self.spark, self.index_dir)
        if self._server is not None:
            self._server.refresh()

    def compact(
        self,
        cfg: IndexConfig | None = None,
        policy: "object | None" = None,
    ) -> dict | None:
        """Fold generations into one (streaming.incremental.compact) and
        refresh every handle this engine holds.  With `policy` (a
        CompactionPolicy), compaction runs only when the policy's
        metadata-only check fires (maybe_compact) — the facade twin of
        watch_incremental's auto-compaction.  Returns the new gen0
        manifest, or None when the policy declined."""
        from .streaming.incremental import compact, maybe_compact

        if policy is not None:
            manifest = maybe_compact(self.spark, self.index_dir, policy, cfg)
            if manifest is None:
                return None
        else:
            manifest = compact(self.spark, self.index_dir, cfg)
        self.reader = IndexReader.open(self.spark, self.index_dir)
        if self._server is not None:
            self._server.refresh()  # build_id nonce drops stale caches
        return manifest

    # -- query surface ------------------------------------------------------

    def topk(
        self, query_text: str, k: int = 13, offset: int = 0, serve: bool = False
    ):
        """BM25 top-k. serve=True answers from the low-latency tier (list of
        (doc_id, score, rank)); otherwise the distributed WAND DataFrame."""
        if serve:
            if self._server is None:
                self._server = TopKServer.open(self.index_dir)
            return self._server.topk(query_text, k=k, offset=offset)
        return wand_topk(self.reader, query_text, k=k, offset=offset)

    def cardsearch(self, querystring: str) -> DataFrame:
        params = parse_cardsearch(querystring)
        return compile_cardsearch(
            params, self.reader, self.doc_values, field_index=self.field_index
        )

    def valuesearch(self, querystring: str) -> DataFrame:
        if self.doc_values is None:
            raise ValueError("valuesearch requires a doc_values table")
        params = parse_valuesearch(querystring)
        return compile_valuesearch(
            params,
            self.reader,
            self.doc_values,
            value_type=self._value_type_for(params.value_path),
            value_meta=self.value_meta,
            field_index=self.field_index,
        )

    def _value_type_for(self, path_key: str) -> str:
        """Path-type catalog lookup (date-histogram vs iri-terms dispatch,
        trovesearch_denorm.py:306-329). An unknown path has no value rows,
        so 'iri' reproduces the probe's empty-result default exactly."""
        if self._path_types is None:
            from pyspark.sql import functions as F

            rows = (
                self.doc_values.groupBy("path_key")
                .agg(F.max(F.col("date_value").isNotNull()).alias("has_date"))
                .collect()
            )
            self._path_types = {
                r["path_key"]: "date" if r["has_date"] else "iri"
                for r in rows
            }
        return self._path_types.get(path_key, "iri")

    def oaipmh(self, params: dict[str, list[str]]) -> str:
        if self.oai_cards is None:
            raise ValueError("oaipmh requires an oai_cards table")
        # one repository per oai_cards table, not per request: the
        # repository memoizes earliestDatestamp (a full-table min scan),
        # which only amortizes if the instance outlives the request.
        # Keyed on the table object so reassigning engine.oai_cards gets
        # a fresh repository (and fresh memo).
        cached = getattr(self, "_oai_repo", None)
        if cached is None or cached[0] is not self.oai_cards:
            cached = (self.oai_cards, OaiRepository(self.oai_cards))
            self._oai_repo = cached
        return cached[1].handle_request(params)

    # -- deriver registry -----------------------------------------------------

    def derive(self, turtle_cards: DataFrame, deriver: str = "sharev2_elastic",
               **kw) -> DataFrame:
        """Deriver-registry dispatch (trove/derive/__init__.py:13-40):
        'sharev2_elastic' -> (doc_id, derived_json)   [needs CardMeta cols]
        'oai_dc'          -> (doc_id, metadata_xml)
        'osfmap_json'     -> (doc_id, derived_json)
        'osfmap_json_mini'-> (doc_id, derived_json)  [contains-pruned]
        Input: (doc_id, focus_iri, turtle [, meta columns])."""
        if deriver == "sharev2_elastic":
            from .derive_sharev2 import derive_sharev2_elastic

            return derive_sharev2_elastic(turtle_cards, **kw)
        if deriver == "oai_dc":
            from .derive_oaidc import derive_oai_dc_xml

            return derive_oai_dc_xml(turtle_cards, **kw)
        if deriver == "osfmap_json":
            from .derive_osfmap import derive_osfmap_json

            return derive_osfmap_json(turtle_cards, **kw)
        if deriver == "osfmap_json_mini":
            from .derive_osfmap import derive_osfmap_json_mini

            return derive_osfmap_json_mini(turtle_cards, **kw)
        raise ValueError(f"unknown deriver: {deriver}")

    # -- outbound renderers ---------------------------------------------------

    def render(self, df: DataFrame, mediatype: str, **kw) -> object:
        """Dispatch the full renderer registry (trove/render/__init__.py:19-31):
        csv / tsv / jsonapi / jsonl / turtle / jsonld / rss / atom / html.

        `render_params` (query.params.TroveRenderParams) threads
        fields[TYPE] into jsonapi attribute selection and iriShorthand into
        the turtle prefix block / jsonld @context."""
        render_params = kw.pop("render_params", None)
        shorthand = render_params.shorthand_map() if render_params else {}
        if mediatype == "text/csv":
            return to_csv(df, **kw)
        if mediatype == "text/tab-separated-values":
            return to_tsv(df, **kw)
        if mediatype == "application/vnd.api+json":
            # include=path,... resolves against doc_values (compound docs);
            # dotted multi-hop paths walk value_meta
            kw.setdefault("related", self.doc_values)
            kw.setdefault("related_meta", self.value_meta)
            return to_jsonapi(
                df, kw.pop("resource_type", "index-card"),
                kw.pop("id_col", "doc_id"),
                render_params=render_params, **kw,
            )
        if mediatype == "application/jsonlines":
            return "\n".join(to_jsonl(df, **kw))
        if mediatype == "text/turtle":
            triples = df_triples(df, kw.pop("id_col", "doc_id"), **kw)
            return to_turtle(triples, prefixes=shorthand)
        if mediatype == "application/ld+json":
            triples = df_triples(df, kw.pop("id_col", "doc_id"), **kw)
            return to_jsonld(triples, context=shorthand or None)
        if mediatype == "application/rss+xml":
            kw.setdefault("title", "search results")
            kw.setdefault("link", "urn:search")
            kw.setdefault("description", "")
            return to_rss(df, **kw)
        if mediatype == "text/html":
            return to_html(df, render_params=render_params, **kw)
        if mediatype == "application/atom+xml":
            kw.setdefault("title", "search results")
            kw.setdefault("link", "urn:search")
            kw.setdefault("feed_id", "urn:search")
            kw.setdefault("updated", "1970-01-01T00:00:00Z")
            return to_atom(df, **kw)
        raise ValueError(f"unsupported mediatype: {mediatype}")
