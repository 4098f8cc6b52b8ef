"""FOR bit-packed codec tests (codecs/lucene50/ForUtil.java analog):
round-trip properties + full-index duel vs the VByte codec (search
output must be bitwise identical — the codec changes bytes, never
semantics)."""

from __future__ import annotations

import numpy as np
import pytest

from lucene_solr_spark.index.codec import (
    decode_blocks,
    decode_posting_list,
    encode_posting_lists,
    for_decode_block,
    for_decode_blocks,
    for_decode_stream,
    for_encode_block,
    for_encode_blocks,
)
from tests.conftest import SF_SMALL


def test_for_block_roundtrip_random():
    rng = np.random.RandomState(7)
    for _ in range(100):
        n = rng.randint(1, 129)
        mag = int(rng.choice([1, 3, 8, 17, 33, 48]))
        v = rng.randint(0, 2**mag, size=n).astype(np.uint64)
        assert np.array_equal(for_decode_block(for_encode_block(v)), v)


def test_for_stream_roundtrip():
    rng = np.random.RandomState(11)
    vals = rng.randint(1, 2**24, size=5000).astype(np.uint64)
    starts = np.arange(0, len(vals), 113)
    stream, offs = for_encode_blocks(vals, starts, len(vals))
    assert np.array_equal(for_decode_stream(stream, len(vals)), vals)
    assert offs[0] == 0 and (np.diff(offs) > 0).all()


def test_for_decode_blocks_matches_per_block_decode():
    rng = np.random.RandomState(5)
    counts = rng.randint(1, 257, size=40)
    starts = np.cumsum(counts) - counts
    n = int(counts.sum())
    vals = (rng.randint(0, 2**20, size=n) >> rng.randint(0, 20, size=n))
    vals = vals.astype(np.uint64)
    stream, offs = for_encode_blocks(vals, starts, len(vals))
    buf = np.frombuffer(stream, np.uint8)
    pick = offs[::3]
    got, counts = for_decode_blocks(buf, pick)
    want = [for_decode_block(stream[o:]) for o in pick]
    assert np.array_equal(counts, [len(w) for w in want])
    assert np.array_equal(got, np.concatenate(want))


@pytest.mark.parametrize("codec", ["vbyte", "for"])
def test_posting_lists_roundtrip(codec):
    rng = np.random.RandomState(3)
    tl = rng.randint(1, 300, size=30).astype(np.int64)
    docs = [np.sort(rng.choice(50_000, size=L, replace=False)) for L in tl]
    doc_ids = np.concatenate(docs).astype(np.int64)
    tfs = rng.randint(1, 9, size=int(tl.sum())).astype(np.int64)
    norms = rng.randint(1, 255, size=int(tl.sum())).astype(np.int64)
    enc = encode_posting_lists(tl, doc_ids, tfs, norms, codec=codec)
    w = 0
    for i in range(len(tl)):
        d, t = decode_posting_list(
            enc["doc_enc"][i], enc["tf_enc"][i], int(tl[i]), codec=codec
        )
        assert np.array_equal(d, doc_ids[w : w + tl[i]])
        assert np.array_equal(t, tfs[w : w + tl[i]])
        bl = np.asarray(enc["block_last"][i], np.int64)
        bids = np.unique(rng.randint(0, len(bl), size=min(2, len(bl))))
        dd, _tt = decode_blocks(
            enc["doc_enc"][i], enc["tf_enc"][i], bids, bl,
            np.asarray(enc["block_doc_off"][i], np.int64),
            np.asarray(enc["block_tf_off"][i], np.int64),
            int(tl[i]), codec=codec,
        )
        assert np.isin(dd, doc_ids[w : w + tl[i]]).all()
        w += int(tl[i])


def test_for_index_duel_vs_vbyte(spark, tmp_path):
    """Same corpus, both codecs: every query class returns bitwise-
    identical (doc_id, score) — incl. pruned paths, phrases, deletes,
    and compaction; CheckIndex passes on the FOR index."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.index.check import check_index
    from lucene_solr_spark.index.compact import compact
    from lucene_solr_spark.index.deletes import delete_by_keys
    from lucene_solr_spark.search.query import (
        BooleanAnd,
        BooleanOr,
        PhraseQuery,
        TermQuery,
    )
    from lucene_solr_spark.search.searcher import IndexSearcher

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    ixs = {}
    for codec in ("vbyte", "for"):
        out = str(tmp_path / codec)
        build_index(
            spark, src, out,
            IndexConfig(n_shards=2, segs_per_shard=2, codec=codec,
                        index_positions=True),
        )
        ixs[codec] = out
    check_index(spark, ixs["for"], sample_terms=40)

    queries = [
        TermQuery("table"),
        BooleanAnd(("scan", "table")),
        BooleanOr(("customer", "spark", "vector")),
        PhraseQuery(("table", "scan")),
    ]
    sv = IndexSearcher(spark, ixs["vbyte"])
    sf_ = IndexSearcher(spark, ixs["for"])
    for q in queries:
        for k, prune in ((20, True), (None, False)):
            a = [(r.doc_id, r.score)
                 for r in sv.search(q, k=k, prune=prune).collect()]
            b = [(r.doc_id, r.score)
                 for r in sf_.search(q, k=k, prune=prune).collect()]
            assert a == b and len(a) > 0, (q, k, prune)

    # deletes + compaction on the FOR index
    delete_by_keys(spark, ixs["for"], [0, 1, 2])
    delete_by_keys(spark, ixs["vbyte"], [0, 1, 2])
    cfor, cvb = str(tmp_path / "cfor"), str(tmp_path / "cvb")
    compact(spark, ixs["for"], cfor)
    compact(spark, ixs["vbyte"], cvb)
    s1, s2 = IndexSearcher(spark, cfor), IndexSearcher(spark, cvb)
    for q in queries:
        a = [(r.doc_id, r.score) for r in s1.search(q, k=None).collect()]
        b = [(r.doc_id, r.score) for r in s2.search(q, k=None).collect()]
        assert a == b and len(a) > 0, q
