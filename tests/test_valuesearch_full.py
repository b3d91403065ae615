"""The full valuesearch plane: valueSearchFilter / valueSearchText compiled
against the (doc_id, value_iri)-keyed value_meta table, nested sub-aggs, and
the shortwalk extractor that builds that table from turtle."""

import pytest
from pyspark.sql import functions as F

from share_spark.query.filters import ANY_OF, NONE_OF, SearchFilter
from share_spark.query.params import (
    compile_valuesearch,
    parse_valuesearch,
)
from share_spark.query.valuesearch import value_counts

SUBJ = '["dcterms:subject"]'
VV_SCHEMA = (
    "doc_id long, value_iri string, path_key string, depth int, "
    "value_type string, iri_value string, text_value string, "
    "date_value date, int_value long"
)
DV_SCHEMA = (
    "doc_id long, path_key string, depth int, value_type string, "
    "iri_value string, text_value string, date_value date, int_value long"
)


@pytest.fixture(scope="module")
def vplane(spark):
    """10 docs; doc i links subject value v{i%3}. Value metadata:
    v0/v1 -> rdf:type Person, v2 -> Org; every value a label
    'value N thing'; v0 alone carries a dcterms:title."""
    dv_rows = [
        (i, SUBJ, 1, "iri", f"://v/{i % 3}", None, None, None)
        for i in range(10)
    ]
    vm_rows = []
    for i in range(10):
        v = f"://v/{i % 3}"
        typ = "://t/Person" if i % 3 < 2 else "://t/Org"
        vm_rows.append((i, v, '["rdf:type"]', 1, "iri", typ, None, None, None))
        vm_rows.append(
            (i, v, '["rdfs:label"]', 1, "text", None,
             f"value {i % 3} thing", None, None)
        )
        if i % 3 == 0:
            vm_rows.append(
                (i, v, '["dcterms:title"]', 1, "text", None,
                 "Grand Title", None, None)
            )
    dv = spark.createDataFrame(dv_rows, DV_SCHEMA).cache()
    vm = spark.createDataFrame(vm_rows, VV_SCHEMA).cache()
    return dv, vm


def test_subaggs_shape_and_content(vplane):
    dv, vm = vplane
    out = {r["iri_value"]: r for r in
           value_counts(dv, [SUBJ], value_meta=vm, page_size=10).collect()}
    assert set(out) == {"://v/0", "://v/1", "://v/2"}
    r0 = out["://v/0"]
    assert r0["match_count"] == 4  # docs 0,3,6,9
    assert r0["type_iris"] == ["://t/Person"]
    assert r0["title_texts"] == ["Grand Title"]
    assert r0["label_texts"] == ["value 0 thing"]
    assert r0["name_texts"] == []
    assert out["://v/2"]["type_iris"] == ["://t/Org"]
    assert out["://v/2"]["title_texts"] == []


def test_deep_page_semijoin_equals_isin_page(spark, monkeypatch):
    """Past ISIN_MAX_VALUES surfaced values the sub-agg page semi-joins a
    broadcast frame instead of embedding an isin literal; a deep-offset
    page is the same either way."""
    from share_spark.query import valuesearch

    dv = spark.createDataFrame(
        [(i, SUBJ, 1, "iri", f"://v/{i % 40:02d}", None, None, None)
         for i in range(200)],
        DV_SCHEMA,
    )
    vm = spark.createDataFrame(
        [(i, f"://v/{i % 40:02d}", '["rdfs:label"]', 1, "text", None,
          f"label {i % 40}", None, None) for i in range(200)],
        VV_SCHEMA,
    )

    def page():
        out = value_counts(dv, [SUBJ], value_meta=vm, page_size=5, offset=30)
        return [tuple(r) for r in out.collect()]

    assert valuesearch.ISIN_MAX_VALUES >= 36  # offset + page_size + 1
    isin_page = page()
    monkeypatch.setattr(valuesearch, "ISIN_MAX_VALUES", 35)
    assert page() == isin_page
    assert len(isin_page) == 36
    assert all(r[5] == [f"label {int(r[0][-2:])}"] for r in isin_page)


def test_value_filter_restricts_buckets(vplane):
    dv, vm = vplane
    f = SearchFilter(paths=('["rdf:type"]',), op=ANY_OF, values=("://t/Person",))
    got = {r["iri_value"] for r in
           value_counts(dv, [SUBJ], value_meta=vm, value_filters=(f,),
                        page_size=10).collect()}
    assert got == {"://v/0", "://v/1"}
    nf = SearchFilter(paths=('["rdf:type"]',), op=NONE_OF, values=("://t/Person",))
    got = {r["iri_value"] for r in
           value_counts(dv, [SUBJ], value_meta=vm, value_filters=(nf,),
                        page_size=10).collect()}
    assert got == {"://v/2"}


def test_value_text_and_of_terms(vplane):
    dv, vm = vplane
    # both tokens must match SOME depth-1 text of the value
    got = {r["iri_value"] for r in
           value_counts(dv, [SUBJ], value_meta=vm, value_text="thing 0",
                        page_size=10).collect()}
    assert got == {"://v/0"}
    # 'grand' appears only in v0's title
    got = {r["iri_value"] for r in
           value_counts(dv, [SUBJ], value_meta=vm, value_text="grand",
                        page_size=10).collect()}
    assert got == {"://v/0"}


def test_value_text_path_scoped(vplane):
    dv, vm = vplane
    got = {r["iri_value"] for r in
           value_counts(dv, [SUBJ], value_meta=vm, value_text="title",
                        value_text_paths=('["dcterms:title"]',),
                        page_size=10).collect()}
    assert got == {"://v/0"}
    # scoped to label, 'title' matches nothing
    got = value_counts(dv, [SUBJ], value_meta=vm, value_text="title",
                       value_text_paths=('["rdfs:label"]',),
                       page_size=10).collect()
    assert got == []


def test_value_constraints_without_meta_raise(vplane):
    dv, _ = vplane
    f = SearchFilter(paths=('["rdf:type"]',), op=ANY_OF, values=("x",))
    with pytest.raises(ValueError, match="value_meta"):
        value_counts(dv, [SUBJ], value_filters=(f,))
    with pytest.raises(ValueError, match="value_meta"):
        value_counts(dv, [SUBJ], value_text="x")


def test_parse_valuesearch_full_surface():
    p = parse_valuesearch(
        "valueSearchPropertyPath=%5B%22dcterms%3Asubject%22%5D"
        "&valueSearchText=alpha+beta"
        "&valueSearchFilter[%5B%22rdf%3Atype%22%5D][any-of]=://t/Person"
        "&cardSearchFilter[%5B%22dcterms%3Acreated%22%5D][after]=1999"
        "&page[size]=7"
    )
    assert p.value_path == '["dcterms:subject"]'
    assert p.value_texts == ("alpha beta",)
    assert len(p.value_filters) == 1 and p.value_filters[0].op == "any-of"
    assert len(p.cardsearch.filters) == 1  # the VFILTER is not a card filter
    assert p.page_size == 7


def test_parse_valuesearch_requires_propertypath():
    with pytest.raises(ValueError, match="valueSearchPropertyPath"):
        parse_valuesearch("valueSearchText=x")


def test_date_property_rejects_value_constraints(built_index, vplane):
    dv, vm = vplane
    p = parse_valuesearch(
        "valueSearchPropertyPath=%5B%22dcterms%3Acreated%22%5D"
        "&valueSearchText=x"
    )
    with pytest.raises(ValueError, match="date property"):
        compile_valuesearch(p, built_index, dv, value_type="date", value_meta=vm)


def test_extract_value_values_shortwalk(spark):
    """The value walk starts at the value, carries its own types/labels, and
    yields-but-never-expands the card focus (shortwalk_from semantics,
    _trovesearch_util.py:170-175)."""
    from share_spark.rdf import extract_value_values

    ttl = (
        "@prefix ex: <http://ex.example/> . "
        "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> . "
        "<http://card.example/1> ex:creator <http://p.example/alice> ; "
        '  ex:title "Card title" . '
        "<http://p.example/alice> a ex:Person ; "
        '  ex:name "Alice" ; ex:knows <http://card.example/1> . '
    )
    src = spark.createDataFrame(
        [(1, "http://card.example/1", ttl)], "doc_id long, focus_iri string, turtle string"
    )
    rows = extract_value_values(src).collect()
    alice = [r for r in rows if r["value_iri"] == "http://p.example/alice"]
    got = {(r["path_key"], r["iri_value"] or r["text_value"]) for r in alice}
    assert ('["rdf:type"]', "http://ex.example/Person") in got
    assert ('["ex:name"]', "Alice") in got
    # the edge TO the blocked focus is yielded...
    assert ('["ex:knows"]', "http://card.example/1") in got
    # ...but never expanded: the card's own title must not reappear
    assert not any("Card title" == (r["text_value"] or "") for r in alice)


def test_render_fields_pruning(spark):
    from share_spark.query.params import parse_render_params
    from share_spark.render import to_jsonapi

    df = spark.createDataFrame(
        [(1, "t1", "d1")], "doc_id long, title string, description string"
    )
    rp = parse_render_params("fields[index-card]=title")
    doc = to_jsonapi(df, "index-card", "doc_id", render_params=rp)
    assert doc["data"][0]["attributes"] == {"title": "t1"}
    # no restriction for other types
    doc2 = to_jsonapi(df, "other-type", "doc_id", render_params=rp)
    assert set(doc2["data"][0]["attributes"]) == {"title", "description"}
