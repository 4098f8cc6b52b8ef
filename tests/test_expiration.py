"""Doc expiration (index/expiration.py —
DocExpirationUpdateProcessorFactory analog: TTL -> _expire_at_,
recurring delete of expired docs as tombstones)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

NOW = datetime(2026, 8, 21, 12, 0, 0)


def test_compute_expiration_ttl_math(spark):
    from lucene_solr_spark.index.expiration import compute_expiration

    docs = spark.createDataFrame(
        [(1, "+1DAY"), (2, "+2HOURS/HOUR"), (3, None)],
        "doc_id long, _ttl_ string",
    )
    got = {
        r.doc_id: r["_expire_at_"]
        for r in compute_expiration(docs, NOW).collect()
    }
    assert got[1] == datetime(2026, 8, 22, 12, 0, 0)
    assert got[2] == datetime(2026, 8, 21, 14, 0, 0)  # rounded to hour
    assert got[3] is None


def test_compute_expiration_default_ttl(spark):
    from lucene_solr_spark.index.expiration import compute_expiration

    docs = spark.createDataFrame(
        [(1, "+1DAY"), (2, None)], "doc_id long, _ttl_ string"
    )
    got = {
        r.doc_id: r["_expire_at_"]
        for r in compute_expiration(docs, NOW,
                                    default_ttl="+30MINUTES").collect()
    }
    assert got[2] == datetime(2026, 8, 21, 12, 30, 0)

    no_ttl = spark.createDataFrame([(9,)], "doc_id long")
    out = compute_expiration(no_ttl, NOW, default_ttl="+1DAY").collect()
    assert out[0]["_expire_at_"] == datetime(2026, 8, 22, 12, 0, 0)
    out2 = compute_expiration(no_ttl, NOW).collect()
    assert out2[0]["_expire_at_"] is None


def test_malformed_ttl_raises(spark):
    from lucene_solr_spark.index.expiration import compute_expiration

    docs = spark.createDataFrame(
        [(1, "+1PARSEC")], "doc_id long, _ttl_ string"
    )
    with pytest.raises(ValueError):
        compute_expiration(docs, NOW)


def test_delete_expired_tombstones(spark, tmp_path):
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.index.expiration import (
        compute_expiration,
        delete_expired,
    )
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    ix = str(tmp_path / "exix")
    docs = spark.createDataFrame(
        [
            (1, "table scan", "+1DAY"),
            (2, "table merge", "-1DAY"),   # already expired at NOW
            (3, "table sort", None),
        ],
        "doc_id long, text string, _ttl_ string",
    )
    stored = compute_expiration(docs, NOW)
    build_index(spark, stored.select("doc_id", "text"), ix,
                IndexConfig(n_shards=2, segs_per_shard=1))
    n = delete_expired(spark, ix, stored, NOW)
    assert n == 1
    s = IndexSearcher.open(spark, ix)
    keys = {r.key for r in
            s.search_with_keys(TermQuery("table"), k=10).collect()}
    assert keys == {1, 3}
    # idempotent second sweep: doc 2 still matches the filter but is
    # already tombstoned -> anti-joined away, ZERO newly expired and
    # the tombstone table does not grow
    import os
    tomb_dir = os.path.join(ix, "tombstones")
    before = spark.read.parquet(tomb_dir).count()
    assert delete_expired(spark, ix, stored, NOW) == 0
    assert spark.read.parquet(tomb_dir).count() == before
    s2 = IndexSearcher.open(spark, ix)
    keys2 = {r.key for r in
             s2.search_with_keys(TermQuery("table"), k=10).collect()}
    assert keys2 == {1, 3}


def test_delete_expired_after_update(spark, tmp_path):
    """An updated doc (tombstoned at an older watermark, live version
    re-added above it) is still tombstoned when it later expires."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.index.deletes import update_documents
    from lucene_solr_spark.index.expiration import (
        compute_expiration,
        delete_expired,
    )
    from lucene_solr_spark.search.query import TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    ix = str(tmp_path / "exupd")
    build_index(
        spark,
        spark.createDataFrame(
            [(1, "table scan"), (2, "table merge")], "doc_id long, text string"
        ),
        ix,
        IndexConfig(n_shards=2, segs_per_shard=1),
    )
    update_documents(
        spark, ix,
        spark.createDataFrame([(2, "table sort")], "doc_id long, text string"),
        batch_id=1,
    )
    stored = compute_expiration(
        spark.createDataFrame(
            [(1, "table scan", "+1DAY"), (2, "table sort", "-1DAY")],
            "doc_id long, text string, _ttl_ string",
        ),
        NOW,
    )
    assert delete_expired(spark, ix, stored, NOW) == 1
    s = IndexSearcher.open(spark, ix)
    keys = {r.key for r in
            s.search_with_keys(TermQuery("table"), k=10).collect()}
    assert keys == {1}
    assert s.search(TermQuery("sort"), k=10).count() == 0
    assert delete_expired(spark, ix, stored, NOW) == 0
