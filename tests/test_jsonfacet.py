"""Arbitrary-depth JSON facet trees (search/jsonfacet.py; reference
solr FacetModule.java:47 nested FacetRequest recursion)."""

from __future__ import annotations

import pytest


DOCS = [
    # (doc_id, lang, source, n)
    (0, "en", "a", 10), (1, "en", "a", 20), (2, "en", "b", 30),
    (3, "en", "b", 40), (4, "en", "c", 50),
    (5, "de", "a", 60), (6, "de", "a", 70), (7, "de", "b", 80),
    (8, "fr", "c", 90),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        DOCS, "doc_id long, lang string, source string, n long"
    )


def _rows(df):
    return {
        (r.facet, r.bucket_path): r for r in df.collect()
    }


def test_three_level_tree_stats_every_level(docs):
    from lucene_solr_spark.search.jsonfacet import json_facet

    req = {
        "type": "terms", "field": "lang", "limit": 2,
        "facet": {
            "sum_n": "sum(n)",
            "srcs": {
                "type": "terms", "field": "source", "limit": 1,
                "facet": {
                    "avg_n": "avg(n)",
                    "big": {"type": "query", "q": "n >= 30",
                            "facet": {"max_n": "max(n)"}},
                },
            },
        },
    }
    got = _rows(json_facet(docs, req))
    # top-2 langs by count: en(5), de(3); fr dropped by limit
    assert got[("facet", "en")].asDict()["count"] == 5
    assert got[("facet", "en")].sum_n == 150.0
    assert got[("facet", "de")].asDict()["count"] == 3
    assert ("facet", "fr") not in got
    # per-lang top-1 source: en->a (2 docs, tie b also 2 -> index asc
    # picks a), de->a
    assert got[("facet.srcs", "en|a")].avg_n == 15.0
    assert ("facet.srcs", "en|b") not in got    # limit=1 per parent
    assert got[("facet.srcs", "de|a")].avg_n == 65.0
    # level-3 query bucket only under surviving level-2 buckets;
    # en|a has no n>=30 docs -> no bucket (count 0 rows never emit)
    assert ("facet.srcs.big", "en|a|big") not in got
    assert got[("facet.srcs.big", "de|a|big")].max_n == 70.0
    # stats union: level-1 rows carry null for child stats
    assert got[("facet", "en")].avg_n is None
    assert got[("facet", "en")].max_n is None


def test_range_facet_buckets(docs):
    from lucene_solr_spark.search.jsonfacet import json_facet

    req = {"type": "range", "field": "n", "start": 0, "end": 90,
           "gap": 30, "facet": {"mn": "min(n)"}}
    got = _rows(json_facet(docs, req))
    # [0,30): 10,20 ; [30,60): 30,40,50 ; [60,90): 60,70,80 ; 90 excluded
    assert got[("facet", "0")].asDict()["count"] == 2
    assert got[("facet", "30")].asDict()["count"] == 3
    assert got[("facet", "60")].asDict()["count"] == 3
    assert got[("facet", "0")].mn == 10.0
    assert len(got) == 3


def test_sort_index_and_unique(docs):
    from lucene_solr_spark.search.jsonfacet import json_facet

    req = {"type": "terms", "field": "source", "limit": 2,
           "sort": "index", "facet": {"u": "unique(lang)"}}
    got = _rows(json_facet(docs, req))
    assert set(got) == {("facet", "a"), ("facet", "b")}  # index order
    assert got[("facet", "a")].u == 2.0  # en, de


def test_multiple_roots(docs):
    from lucene_solr_spark.search.jsonfacet import json_facet

    out = json_facet(
        docs,
        by_lang={"type": "terms", "field": "lang", "limit": 10},
        big={"type": "query", "q": "n > 50"},
    )
    got = _rows(out)
    assert got[("big", "big")].asDict()["count"] == 4
    assert got[("by_lang", "fr")].asDict()["count"] == 1


def test_limit_pushdown_semijoin_in_plan(docs):
    """The child level must read only surviving parent buckets — a
    left-semi join appears between the levels."""
    from lucene_solr_spark.search.jsonfacet import json_facet

    req = {"type": "terms", "field": "lang", "limit": 1,
           "facet": {"srcs": {"type": "terms", "field": "source"}}}
    out = json_facet(docs, req)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    got = _rows(out)
    # only en survives limit=1; child buckets only under en
    assert all(bp.startswith("en") or f == "facet"
               for (f, bp) in got if f == "facet.srcs")


def test_errors(docs):
    from lucene_solr_spark.search.jsonfacet import json_facet

    with pytest.raises(ValueError, match="needs a field"):
        json_facet(docs, {"type": "terms"})
    with pytest.raises(ValueError, match="needs q"):
        json_facet(docs, {"type": "query"})
    with pytest.raises(ValueError, match="unsupported facet type"):
        json_facet(docs, {"type": "heat"})
    with pytest.raises(ValueError, match="unparseable stat"):
        json_facet(docs, {"type": "terms", "field": "lang",
                          "facet": {"x": "median(n)"}})
    with pytest.raises(ValueError, match="no facet request"):
        json_facet(docs)


def test_mincount_prefix_missing_allbuckets(spark):
    from lucene_solr_spark.search.jsonfacet import json_facet

    rows = [
        (0, "en", 10), (1, "en", 20), (2, "es", 30),
        (3, None, 40), (4, "enx", 50), (5, None, 60),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, n long")

    # mincount drops singleton buckets
    got = _rows(json_facet(docs, {"type": "terms", "field": "lang",
                                  "mincount": 2}))
    assert set(got) == {("facet", "en")}

    # prefix filters bucket VALUES before sort/limit
    got2 = _rows(json_facet(docs, {"type": "terms", "field": "lang",
                                   "prefix": "en"}))
    assert set(got2) == {("facet", "en"), ("facet", "enx")}

    # missing -> one __missing__ bucket with the null-field docs;
    # nulls never form a regular bucket
    got3 = _rows(json_facet(docs, {"type": "terms", "field": "lang",
                                   "missing": True,
                                   "facet": {"s": "sum(n)"}}))
    assert got3[("facet", "__missing__")].asDict()["count"] == 2
    assert got3[("facet", "__missing__")].s == 100.0
    assert all(bp != "" for (_f, bp) in got3)

    # allBuckets -> pre-limit rollup over every value bucket (nulls
    # excluded), even when limit cuts the bucket list
    got4 = _rows(json_facet(docs, {"type": "terms", "field": "lang",
                                   "limit": 1, "allBuckets": True,
                                   "facet": {"s": "sum(n)"}}))
    assert set(got4) == {("facet", "en"), ("facet", "__all__")}
    assert got4[("facet", "__all__")].asDict()["count"] == 4
    assert got4[("facet", "__all__")].s == 110.0


def test_negative_limit_is_unlimited(docs):
    from lucene_solr_spark.search.jsonfacet import json_facet

    got = _rows(json_facet(docs, {"type": "terms", "field": "source",
                                  "limit": -1}))
    assert set(got) == {("facet", "a"), ("facet", "b"), ("facet", "c")}
    assert got[("facet", "a")].asDict()["count"] == 4


def test_reserved_stat_names_rejected(docs):
    from lucene_solr_spark.search.jsonfacet import json_facet

    for alias in ("count", "facet", "bucket_path"):
        with pytest.raises(ValueError, match="reserved"):
            json_facet(docs, {"type": "terms", "field": "lang",
                              "facet": {alias: "sum(n)"}})


def test_range_facet_emits_no_empty_buckets(docs):
    """Documented deviation: a [start, start+gap) slot with no docs
    yields no bucket (the reference lists it with count 0)."""
    from lucene_solr_spark.search.jsonfacet import json_facet

    req = {"type": "range", "field": "n", "start": 0, "end": 200,
           "gap": 50}
    got = _rows(json_facet(docs, req))
    assert set(got) == {("facet", "0"), ("facet", "50")}
