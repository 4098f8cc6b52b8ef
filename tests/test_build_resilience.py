"""Build resilience: hot-term salted merge, checkpoint resume,
idempotent re-runs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _results(spark, ix):
    from lucene_solr_spark.search.query import BooleanAnd, BooleanOr, TermQuery
    from lucene_solr_spark.search.searcher import IndexSearcher

    s = IndexSearcher(spark, ix)
    out = []
    for q in [
        TermQuery("table"),
        BooleanAnd(("scan", "table")),
        BooleanOr(("customer", "spark", "vector")),
    ]:
        out.append([(r.doc_id, r.score) for r in s.search(q, k=25).collect()])
    return out


def test_hot_term_salted_merge_identical(spark, tmp_path):
    """Forcing the skew path (every term 'hot' -> doc-range parts,
    salted two-level reduce) must not change any result."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index
    from lucene_solr_spark.index.check import check_index

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plain = str(tmp_path / "plain")
    salted = str(tmp_path / "salted")
    build_index(spark, src, plain,
                IndexConfig(n_shards=2, segs_per_shard=4), resume=False)
    build_index(
        spark, src, salted,
        IndexConfig(n_shards=2, segs_per_shard=4,
                    hot_seg_df=1, hot_segs_per_part=2),  # everything is hot
        resume=False,
    )
    # the salted index really does split postings into parts
    parts = (
        spark.read.parquet(f"{salted}/postings")
        .agg(F.max("part")).first()[0]
    )
    assert parts >= 1
    assert _results(spark, plain) == _results(spark, salted)
    check_index(spark, salted, sample_terms=40)


def test_resume_skips_built_segments_and_is_idempotent(spark, tmp_path):
    """Second build with resume=True must skip all segments (checkpoint
    hits) and produce an identical index — the tlog-replay /
    idempotent-snapshot contract."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    ix = str(tmp_path / "ix")
    cfg = IndexConfig(n_shards=2, segs_per_shard=4)
    m1 = build_index(spark, src, ix, cfg, resume=True)
    r1 = _results(spark, ix)
    # re-run over the same output dir: all segments checkpointed
    m2 = build_index(spark, src, ix, cfg, resume=True)
    assert m2["max_doc"] == m1["max_doc"]
    assert m2["seg_bases"] == m1["seg_bases"]
    assert _results(spark, ix) == r1


def test_resume_completes_partial_build(spark, tmp_path):
    """Simulated mid-build failure: keep only a subset of segment
    checkpoints, resume, and require a complete correct index."""
    from lucene_solr_spark.index.builder import IndexConfig, build_index

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    full = str(tmp_path / "full")
    partial = str(tmp_path / "partial")
    cfg = IndexConfig(n_shards=2, segs_per_shard=4)
    build_index(spark, src, full, cfg, resume=False)
    want = _results(spark, full)

    # simulate a crash after 4 of 8 segments: run the full build, then
    # delete half the checkpoint rows + their segment rows and resume
    build_index(spark, src, partial, cfg, resume=False)
    ck = spark.read.parquet(f"{partial}/checkpoints")
    kept = ck.where(F.col("g") < 4)
    kept.write.mode("overwrite").parquet(f"{partial}/checkpoints_tmp")
    import shutil

    shutil.rmtree(f"{partial}/checkpoints")
    shutil.move(f"{partial}/checkpoints_tmp", f"{partial}/checkpoints")
    # segments parquet must match the surviving checkpoints for the
    # resume contract: drop posting rows of the "lost" segments too
    segs = spark.read.parquet(f"{partial}/segments").where(F.col("g") < 4)
    segs.write.mode("overwrite").parquet(f"{partial}/segments_tmp")
    shutil.rmtree(f"{partial}/segments")
    shutil.move(f"{partial}/segments_tmp", f"{partial}/segments")

    build_index(spark, src, partial, cfg, resume=True)
    assert _results(spark, partial) == want


# ---- merge kernel: ordered concat of segment runs, both codecs ----

_SEG_BASES = {0: 0, 1: 4_900, 2: 10_000, 3: 30_000}

# (term, part, g, local docIDs, pos_enc, pay_enc); global docIDs of one
# (term, part) ascend with g
_SEG_RUNS = [
    # 1-byte head rebased to a 3-byte varint (30005 - 2)
    ("alpha", 0, 0, [1, 2], b"\x01\x02", None),
    ("alpha", 0, 3, [5, 6], None, None),
    # 2-byte head (local 200) rebased to a 1-byte delta (5100 - 5000)
    ("beta", 0, 0, [0, 5_000], None, None),
    ("beta", 0, 1, [200, 250], None, None),
    # multi-block rows, three runs
    ("gamma", 0, 0, list(range(0, 4_000, 13)), b"\x03", b"\x00\x00\x80\x3f"),
    ("gamma", 0, 1, list(range(200, 1_100, 3)), b"\x04\x05", None),
    ("gamma", 0, 2, list(range(7, 500, 2)), None, b"\x00\x00\x00\x40"),
    # a hot term split into doc-range parts: each part's head is absolute
    ("delta", 0, 0, [10, 20, 30], None, None),
    ("delta", 0, 1, [300, 301], None, None),
    ("delta", 1, 2, list(range(1, 400, 2)), None, None),
    ("delta", 1, 3, [0, 9], None, None),
    ("eps", 0, 2, [42], b"\x07", b"\x00\x00\x20\x41"),
]


def _seg_table(codec):
    import pyarrow as pa

    from lucene_solr_spark.index.codec import encode_posting_lists

    rows = []
    for term, part, g, docs, pos, pay in _SEG_RUNS:
        docs = np.array(docs, np.int64)
        tfs = (docs % 5 + 1).astype(np.int64)
        enc = encode_posting_lists(
            [len(docs)], docs, tfs, (docs % 7).astype(np.int64), codec=codec
        )
        rows.append({
            "shard": 0, "bucket": 0, "term": term, "part": part, "g": g,
            "df": len(docs), "cf": int(tfs.sum()),
            "doc_enc": enc["doc_enc"][0], "tf_enc": enc["tf_enc"][0],
            **{k: enc[k][0].tolist() for k in (
                "block_last", "block_doc_off", "block_tf_off",
                "block_max_tf", "block_max_norm")},
            "pos_enc": pos, "pay_enc": pay,
        })
    # interleave the terms' rows within the group
    order = np.random.default_rng(7).permutation(len(rows))
    i32, i64 = pa.int32(), pa.int64()
    schema = pa.schema([
        ("shard", i32), ("bucket", i32), ("term", pa.string()),
        ("part", i32), ("g", i64), ("df", i64), ("cf", i64),
        ("doc_enc", pa.binary()), ("tf_enc", pa.binary()),
        ("block_last", pa.list_(i64)), ("block_doc_off", pa.list_(i32)),
        ("block_tf_off", pa.list_(i32)), ("block_max_tf", pa.list_(i32)),
        ("block_max_norm", pa.list_(i32)),
        ("pos_enc", pa.binary()), ("pay_enc", pa.binary()),
    ])
    return pa.Table.from_pylist([rows[i] for i in order], schema=schema)


def _run_merge(tbl, codec):
    from lucene_solr_spark.index.arrow_builder import make_arrow_merger

    return make_arrow_merger(_SEG_BASES, codec)(tbl).to_pylist()


@pytest.mark.parametrize("codec", ["vbyte", "for"])
def test_merge_kernel_concatenates_segment_runs(codec):
    """Merging a (shard, bucket) group rebases every segment run to
    global docIDs and concatenates it: full decode and every skip
    block of each merged row agree with the source runs."""
    from lucene_solr_spark.index.codec import decode_blocks, decode_posting_list

    tbl = _seg_table(codec)
    assert _run_merge(tbl.slice(0, 0), codec) == []
    out = _run_merge(tbl, codec)
    want = {}
    for term, part, g, docs, pos, pay in _SEG_RUNS:
        local = np.array(docs, np.int64)
        want.setdefault((term, part), []).append(
            (local + _SEG_BASES[g], local % 5 + 1, pos, pay)
        )
    assert sorted((r["term"], r["part"]) for r in out) == sorted(want)
    for r in out:
        runs = want[(r["term"], r["part"])]
        docs = np.concatenate([d for d, _, _, _ in runs])
        tfs = np.concatenate([t for _, t, _, _ in runs])
        assert r["shard"] == 0
        assert r["df"] == len(docs) and r["cf"] == int(tfs.sum())
        got_docs, got_tfs = decode_posting_list(
            r["doc_enc"], r["tf_enc"], r["df"], codec
        )
        assert np.array_equal(got_docs, docs)
        assert np.array_equal(got_tfs, tfs)
        blast = np.array(r["block_last"], np.int64)
        for b in range(len(blast)):
            bd, _ = decode_blocks(
                r["doc_enc"], r["tf_enc"], [b], blast,
                np.array(r["block_doc_off"]), np.array(r["block_tf_off"]),
                r["df"], codec,
            )
            assert bd[-1] == blast[b]
        all_d, all_t = decode_blocks(
            r["doc_enc"], r["tf_enc"], range(len(blast)), blast,
            np.array(r["block_doc_off"]), np.array(r["block_tf_off"]),
            r["df"], codec,
        )
        assert np.array_equal(all_d, docs) and np.array_equal(all_t, tfs)
        pos = [p for _, _, p, _ in runs if p is not None]
        pay = [p for _, _, _, p in runs if p is not None]
        assert r["pos_enc"] == (b"".join(pos) if pos else None)
        assert r["pay_enc"] == (b"".join(pay) if pay else None)
