"""Distributed inverted-index construction (segment build + merge).

Mirrors the reference's indexing lifecycle (SURVEY.md §3.4) Spark-first:

- DWPT / flush  (index/DocumentsWriterPerThread.java, DefaultIndexingChain.java:277)
    -> one `applyInArrow` group per SEGMENT (index/arrow_builder.py;
       multi-field builds use the `applyInPandas` builder below):
       tokenize JVM-side, build sorted (term, doc) postings with numpy,
       encode 128-entry delta blocks + per-block max metadata in ONE
       vectorized pass.
- SegmentMerger docBase remap  (index/SegmentMerger.java:74-130, MergeState.java:129-142)
    -> segments are doc-disjoint ascending runs, so the shard-level merge
       is an ordered CONCATENATION, one columnar `applyInArrow` pass per
       (shard, bucket) group: only each run's head (first varint, or
       first FOR block) is rewritten; no decode/re-encode of posting
       bodies.
- TieredMergePolicy skew handling  (index/TieredMergePolicy.java:45-48)
    -> hot terms (large per-segment df) are split into doc-range PARTS so
       no single reducer or row ever holds an unbounded posting list;
       query-side scoring is distributive over doc-disjoint parts.
- Shard routing  (solr HashBasedRouter.java:31-34)
    -> deterministic sharding: 'range_int' (dense integer keys; internal
       docID == key, so an external SQL oracle can replicate tie-breaks)
       or 'hash' (xxhash64(key) pmod shards, Solr-style).
- Two-phase commit / tlog  (index/IndexWriter.java:196,1053-1066, solr UpdateLog.java)
    -> per-segment checkpoint rows with lineage fingerprints; a re-run
       skips segments already built (idempotent appends). In production
       the final writes are Iceberg snapshot appends; the sandbox uses
       parquet directories behind the same writer seam.

Doc-ID contract (determinism across cluster sizes): global doc_id =
seg_base(g) + rank-of-key-within-segment, where segments g are a
deterministic function of the key and seg bases are the cumulative doc
counts in g order — the MergeState.docBase concatenation rule.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lucene_solr_spark.analysis.analyzers import ANALYZERS

import sys as _sys
import time as _time


class _PhaseTimer:
    """Prints per-phase wall times to stderr when LSS_TIMING=1."""

    def __init__(self):
        self.enabled = os.environ.get("LSS_TIMING") == "1"
        self.t = _time.perf_counter()

    def mark(self, name: str) -> None:
        if self.enabled:
            now = _time.perf_counter()
            print(f"[build-phase] {name}: {now - self.t:.2f}s", file=_sys.stderr)
            self.t = now

from lucene_solr_spark.functions.smallfloat import encode_norm
from lucene_solr_spark.index.codec import encode_posting_lists


# Term = (field, bytes) (index/Term.java:36). Internally a non-default
# field's term is stored as "<field>\x1d<token>" — the dictionary then
# sorts by (field, term), exactly Lucene's per-field BlockTree ordering,
# and every (term)-keyed stage (merge, stats, pushdown) works unchanged.
FIELD_SEP = "\x1d"


@dataclass
class IndexConfig:
    n_shards: int = 4
    segs_per_shard: int = 4
    analyzer: str = "standard"
    id_col: str = "doc_id"
    text_col: str = "text"
    # additional analyzed fields (source columns), each with its own
    # postings (field-prefixed terms), doc lengths, norms and
    # collection stats (FieldInfos analog, index/FieldInfos.java).
    # Positions are indexed for the default field only. Multi-field
    # builds run the pandas segment engine.
    extra_fields: tuple = ()
    sharding: str = "range_int"  # 'range_int' | 'hash'
    # write the .pos analog (per-doc delta position streams) — needed
    # for PhraseQuery; off by default (DOCS_AND_FREQS IndexOptions)
    index_positions: bool = False
    # segment-build engine: 'arrow' tokenizes JVM-side and inverts via
    # pyarrow dictionary_encode (no per-token Python objects — the
    # scale path); 'pandas' is the reference implementation. Outputs
    # are identical (tested).
    engine: str = "arrow"
    # merge-time skew handling: a segment-level posting with df above this
    # marks the term hot; hot terms merge into doc-range parts of at most
    # `hot_segs_per_part` segments each (salted two-level reduce).
    hot_seg_df: int = 50_000
    hot_segs_per_part: int = 4
    merge_buckets: int = 32  # merge reducers per shard-set (term-hash buckets)
    # posting-block body codec: 'vbyte' (VInt) or 'for' (bit-packed
    # frames, ForUtil.java:36-47 analog — the PForDelta-family variant
    # the north star names). Pluggable behind one seam (index/codec.py).
    codec: str = "vbyte"
    # write the .pay analog (per-position float payload streams,
    # raw <f4 aligned 1:1 with pos_enc — FieldInfo.IndexOptions
    # ..._AND_PAYLOADS). Requires index_positions and an analyzer
    # whose token structs carry a `pay` field (delimited_payload).
    # Arrow engine only; incompatible with index-time synonyms.
    index_payloads: bool = False
    # index-time synonym map {term: (syn, ...)} applied to the DEFAULT
    # field after the analyzer chain (SynonymFilter analog with
    # includeOrig=true — see analysis/synonyms.py for the mirrored
    # semantics: injected tokens share the position, count toward
    # sum_dl/avgdl but are discounted from the norm byte like every
    # posIncr-0 overlap). Incompatible with the stemming analyzers.
    synonyms: dict | None = None


SEGMENT_SCHEMA = StructType(
    [
        StructField("g", LongType()),  # global segment index; shard = g // segs_per_shard
        StructField("kind", StringType()),  # 'p' = posting row, 'm' = segment meta row
        StructField("term", StringType()),
        StructField("df", LongType()),
        StructField("cf", LongType()),
        StructField("doc_enc", BinaryType()),
        StructField("tf_enc", BinaryType()),
        StructField("block_last", ArrayType(LongType())),
        StructField("block_doc_off", ArrayType(IntegerType())),
        StructField("block_tf_off", ArrayType(IntegerType())),
        StructField("block_max_tf", ArrayType(IntegerType())),
        StructField("block_max_norm", ArrayType(IntegerType())),
        StructField("pos_enc", BinaryType()),  # .pos analog (optional)
        StructField("pay_enc", BinaryType()),  # .pay analog (optional)
        # meta-row payloads (one 'm' row per segment AND FIELD)
        StructField("field", StringType()),  # meta rows: which field
        StructField("sum_dl", LongType()),  # Σ doc_len of this field
        StructField("keys_enc", BinaryType()),  # int64 LE keys, sorted
        StructField("doc_lens_enc", BinaryType()),  # int32 LE
        StructField("norms_enc", BinaryType()),  # uint8
        StructField("n_docs", LongType()),
        StructField("fingerprint", StringType()),
    ]
)

POSTINGS_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("term", StringType()),
        StructField("part", IntegerType()),
        StructField("df", LongType()),
        StructField("cf", LongType()),
        StructField("doc_enc", BinaryType()),
        StructField("tf_enc", BinaryType()),
        StructField("block_last", ArrayType(LongType())),
        StructField("block_doc_off", ArrayType(IntegerType())),
        StructField("block_tf_off", ArrayType(IntegerType())),
        StructField("block_max_tf", ArrayType(IntegerType())),
        StructField("block_max_norm", ArrayType(IntegerType())),
        StructField("pos_enc", BinaryType()),
        StructField("pay_enc", BinaryType()),
    ]
)


def _make_segment_builder(
    analyzer_name: str,
    segs_per_shard: int,
    key_kind: str = "l",
    index_positions: bool = False,
    fields: tuple = (("text", "text"),),
    codec: str = "vbyte",
    synonyms: dict | None = None,
):
    """Returns the applyInPandas function building ONE segment's rows.

    key_kind 'l' = int64 keys (dense ids), 's' = utf-8 string keys
    (e.g. urls — the Solr uniqueKey analog). String keys sort by
    codepoint, which equals utf-8 bytewise order (Lucene's term/key
    comparison contract, index/Term.java:49-57).

    index_positions additionally emits the .pos analog for the DEFAULT
    field: per (term, doc) position lists with Lucene position-
    increment semantics (stopped / overlong tokens advance positions
    but are not emitted — FilteringTokenFilter.java:49-62).

    `fields` is an ordered [(field_name, frame_col)]; fields[0] is the
    default field (unprefixed terms); later fields get field-prefixed
    terms (FIELD_SEP) and their own doc lengths / norms meta rows —
    the FieldInfos / per-field invert of DefaultIndexingChain
    (index/DefaultIndexingChain.java:461-499)."""
    tokenize = ANALYZERS[analyzer_name]
    if index_positions:
        from lucene_solr_spark.analysis.analyzers import ANALYZERS_POS
        from lucene_solr_spark.index.codec import encode_position_lists

        tokenize_pos = ANALYZERS_POS[analyzer_name]

    def invert(series: pd.Series, with_pos: bool, expand: dict | None = None):
        """-> (doc_lens, norms, parts|None) where parts =
        (uniques, dfs, cfs, enc, pos_encs). `expand` = synonym map for
        this field (analysis/synonyms.py — injected tokens share the
        position; they count toward doc_len/sum_dl but NOT toward the
        norm byte: discountOverlaps, BM25Similarity.java:141)."""
        from lucene_solr_spark.analysis.analyzers import NORM_LEN_FNS

        n_docs = len(series)
        pre_lens = None
        if with_pos:
            tp_lists = tokenize_pos(series)
            if expand:
                from lucene_solr_spark.analysis.synonyms import (
                    expand_token_pos_lists,
                )

                pre_lens = tp_lists.str.len().to_numpy(np.int64)
                tp_lists = expand_token_pos_lists(tp_lists, expand)
            doc_lens = tp_lists.str.len().to_numpy(np.int64)
        else:
            token_lists = tokenize(series)
            if expand:
                from lucene_solr_spark.analysis.synonyms import (
                    expand_token_lists,
                )

                pre_lens = token_lists.str.len().to_numpy(np.int64)
                token_lists = expand_token_lists(token_lists, expand)
            doc_lens = token_lists.str.len().to_numpy(np.int64)
        if analyzer_name in NORM_LEN_FNS:
            norm_lens = (
                NORM_LEN_FNS[analyzer_name](series).to_numpy(np.int64)
            )
        elif pre_lens is not None:
            norm_lens = pre_lens
        else:
            norm_lens = doc_lens
        norms = encode_norm(norm_lens)
        total = int(doc_lens.sum())
        if not total:
            return doc_lens, norms, None
        if with_pos:
            flat = np.empty(total, dtype=object)
            flat_pos = np.empty(total, np.int64)
            w = 0
            for lst in tp_lists:
                for t, p in lst:
                    flat[w] = t
                    flat_pos[w] = p
                    w += 1
            codes, uniques = pd.factorize(flat, sort=True)
            doc_ord = np.repeat(np.arange(n_docs, dtype=np.int64), doc_lens)
            order = np.lexsort((flat_pos, doc_ord, codes))
            c_s = codes.astype(np.int64)[order]
            d_s = doc_ord[order]
            p_s = flat_pos[order]
            newrun = np.empty(total, bool)
            newrun[0] = True
            newrun[1:] = (c_s[1:] != c_s[:-1]) | (d_s[1:] != d_s[:-1])
            run_id = np.cumsum(newrun) - 1
            tfs = np.bincount(run_id).astype(np.int64)
            doc_local = d_s[newrun]
            term_of_run = c_s[newrun]
            dfs = np.bincount(term_of_run, minlength=len(uniques)).astype(np.int64)
            cfs = np.add.reduceat(tfs, np.cumsum(dfs) - dfs).astype(np.int64)
            enc = encode_posting_lists(
                dfs, doc_local, tfs, norms[doc_local], codec=codec
            )
            pos_per_term = np.bincount(c_s, minlength=len(uniques)).astype(np.int64)
            pos_encs = encode_position_lists(p_s, tfs, pos_per_term)
        else:
            flat = np.empty(total, dtype=object)
            pos = 0
            for lst in token_lists:
                ln = len(lst)
                flat[pos : pos + ln] = lst
                pos += ln
            codes, uniques = pd.factorize(flat, sort=True)
            doc_ord = np.repeat(np.arange(n_docs, dtype=np.int64), doc_lens)
            # (term, doc) counts, sorted by (term, doc) for free via np.unique
            pair = codes.astype(np.int64) * n_docs + doc_ord
            upair, tfs = np.unique(pair, return_counts=True)
            term_id = upair // n_docs
            doc_local = upair % n_docs
            dfs = np.bincount(term_id, minlength=len(uniques)).astype(np.int64)
            cfs = np.add.reduceat(tfs, np.cumsum(dfs) - dfs).astype(np.int64)
            enc = encode_posting_lists(
                dfs, doc_local, tfs, norms[doc_local], codec=codec
            )
            pos_encs = None
        return doc_lens, norms, (uniques, dfs, cfs, enc, pos_encs)

    def build_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=[f.name for f in SEGMENT_SCHEMA.fields])
        g = int(pdf["g"].iloc[0])
        pdf = pdf.sort_values("key", kind="mergesort").reset_index(drop=True)
        if key_kind == "s":
            key_list = pdf["key"].astype(str).tolist()
            assert all("\n" not in k for k in key_list), "string keys must not contain newlines"
            keys_b = "\n".join(key_list).encode("utf-8")
        else:
            keys = pdf["key"].to_numpy(np.int64)
            keys_b = keys.astype("<i8").tobytes()
        n_docs = len(pdf)

        frames: list[pd.DataFrame] = []
        for fi, (fname, fcol) in enumerate(fields):
            with_pos = index_positions and fi == 0
            doc_lens, norms, parts = invert(
                pdf[fcol], with_pos, synonyms if fi == 0 else None
            )
            if parts is not None:
                uniques, dfs, cfs, enc, pos_encs = parts
                term_out = uniques.astype(str)
                if fi > 0:
                    term_out = np.array(
                        [f"{fname}{FIELD_SEP}{t}" for t in term_out],
                        dtype=object,
                    )
                frames.append(
                    pd.DataFrame(
                        {
                            "g": g,
                            "kind": "p",
                            "term": term_out,
                            "df": dfs,
                            "cf": cfs,
                            "doc_enc": enc["doc_enc"],
                            "tf_enc": enc["tf_enc"],
                            "block_last": enc["block_last"],
                            "block_doc_off": enc["block_doc_off"],
                            "block_tf_off": enc["block_tf_off"],
                            "block_max_tf": enc["block_max_tf"],
                            "block_max_norm": enc["block_max_norm"],
                            "pos_enc": pos_encs if pos_encs is not None else None,
                            "pay_enc": None,  # pandas engine: no payloads
                        }
                    )
                )
            frames.append(
                pd.DataFrame(
                    {
                        "g": [g],
                        "kind": ["m"],
                        "field": [fname],
                        "sum_dl": [int(doc_lens.sum())],
                        "keys_enc": [keys_b if fi == 0 else None],
                        "doc_lens_enc": [doc_lens.astype("<i4").tobytes()],
                        "norms_enc": [norms.astype(np.uint8).tobytes()],
                        "n_docs": [n_docs],
                        "fingerprint": [
                            hashlib.sha256(keys_b).hexdigest()[:16]
                            if fi == 0
                            else None
                        ],
                    }
                )
            )
        out = pd.concat(frames, ignore_index=True)
        for f in SEGMENT_SCHEMA.fields:
            if f.name not in out.columns:
                out[f.name] = None
            else:
                # pd.concat fills missing cells with NaN; Arrow needs None
                col = out[f.name]
                if col.isna().any():
                    out[f.name] = col.astype(object).where(col.notna(), None)
        return out[[f.name for f in SEGMENT_SCHEMA.fields]]

    return build_segment


NORMS_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("field", StringType()),
        StructField("base", LongType()),
        StructField("n_docs", LongType()),
        StructField("norms", BinaryType()),
    ]
)


def build_index(
    spark: SparkSession,
    src: DataFrame,
    out_dir: str,
    config: IndexConfig | None = None,
    resume: bool = True,
) -> dict:
    """Build the full index at `out_dir`. Returns the manifest dict."""
    from lucene_solr_spark.session import ensure_on_workers

    cfg = config or IndexConfig()
    if cfg.synonyms:
        from lucene_solr_spark.analysis.analyzers import DICT_STEMMERS

        if cfg.analyzer in DICT_STEMMERS:
            raise ValueError(
                "synonyms are incompatible with stemming analyzers: the "
                "arrow engine stems AFTER expansion and the pandas engine "
                "before it — configure one or the other"
            )
    if cfg.index_payloads:
        if not cfg.index_positions:
            raise ValueError("index_payloads requires index_positions")
        if cfg.engine != "arrow" or cfg.extra_fields or cfg.synonyms:
            raise ValueError(
                "index_payloads is an arrow-engine, single-field, "
                "no-synonyms path (the .pay stream mirrors pos_enc)"
            )
        if cfg.analyzer != "delimited_payload":
            raise ValueError(
                "index_payloads needs a payload-bearing analyzer chain "
                "(delimited_payload)"
            )
    ensure_on_workers(spark)
    os.makedirs(out_dir, exist_ok=True)
    _pt = _PhaseTimer()
    G = cfg.n_shards * cfg.segs_per_shard

    key_type = dict((f.name, f.dataType.simpleString()) for f in src.schema.fields)[
        cfg.id_col
    ]
    key_kind = "s" if key_type == "string" else "l"
    sel = [
        F.col(cfg.id_col).cast("string" if key_kind == "s" else "long").alias("key"),
        F.col(cfg.text_col).cast("string").alias("text"),
    ]
    for i, xf in enumerate(cfg.extra_fields):
        sel.append(F.col(xf).cast("string").alias(f"xf{i}"))
    keyed = src.select(*sel)

    if key_kind == "s" and cfg.sharding == "range_int":
        raise ValueError("range_int sharding requires integer keys; use sharding='hash'")

    if cfg.sharding == "range_int":
        lo, hi, n_total = keyed.agg(
            F.min("key"), F.max("key"), F.count(F.lit(1))
        ).first()
        span = int(hi) - int(lo) + 1
        g_col = ((F.col("key") - F.lit(int(lo))) * G / F.lit(span)).cast("long")
        g_col = F.least(g_col, F.lit(G - 1))
    elif cfg.sharding == "hash":
        n_total = keyed.count()
    # (count folded into prep)
        h = F.xxhash64(F.col("key"))
        g_col = (
            F.pmod(h, F.lit(cfg.n_shards)) * cfg.segs_per_shard
            + F.pmod(F.xxhash64(F.col("key"), F.lit(1)), F.lit(cfg.segs_per_shard))
        ).cast("long")
    else:
        raise ValueError(f"unknown sharding {cfg.sharding}")

    with_g = keyed.withColumn("g", g_col)

    # ---- resumable segment build (tlog/commit analog) ----
    ckpt_path = os.path.join(out_dir, "checkpoints")
    seg_path = os.path.join(out_dir, "segments")
    done: set[int] = set()
    if resume and os.path.isdir(ckpt_path):
        done = {
            r.g for r in spark.read.parquet(ckpt_path).select("g").distinct().collect()
        }
    todo = with_g
    if done:
        todo = with_g.where(~F.col("g").isin([int(x) for x in done]))

    fields = ((cfg.text_col, "text"),) + tuple(
        (xf, f"xf{i}") for i, xf in enumerate(cfg.extra_fields)
    )
    if cfg.engine == "arrow" and not cfg.extra_fields:
        from lucene_solr_spark.analysis.jvm import JVM_ANALYZERS, JVM_ANALYZERS_POS
        from lucene_solr_spark.index.arrow_builder import make_arrow_segment_builder

        tok_col = (
            JVM_ANALYZERS_POS[cfg.analyzer]
            if cfg.index_positions
            else JVM_ANALYZERS[cfg.analyzer]
        )
        from lucene_solr_spark.analysis.analyzers import DICT_STEMMERS

        toks_expr = tok_col(F.col("text"))
        # discountOverlaps (BM25Similarity.java:141): overlap-emitting
        # chains / synonym expansion ship a norm-length column =
        # tokens minus same-position overlaps (for synonyms that is
        # the pre-expansion size — includeOrig keeps every original)
        from lucene_solr_spark.analysis.jvm import JVM_NORM_LEN

        nlen_expr = None
        if cfg.analyzer in JVM_NORM_LEN:
            nlen_expr = JVM_NORM_LEN[cfg.analyzer](F.col("text"))
        if cfg.synonyms:
            from lucene_solr_spark.analysis.synonyms import (
                expand_tokens_col,
                expand_tokens_pos_col,
            )

            if nlen_expr is None:
                nlen_expr = F.size(toks_expr)
            toks_expr = (
                expand_tokens_pos_col(toks_expr, cfg.synonyms)
                if cfg.index_positions
                else expand_tokens_col(toks_expr, cfg.synonyms)
            )
        todo_tok = todo.withColumn("toks", toks_expr)
        if nlen_expr is not None:
            todo_tok = todo_tok.withColumn(
                "nlen", nlen_expr.cast("long")
            )
        todo_tok = todo_tok.drop("text")
        seg_rows = todo_tok.groupBy("g").applyInArrow(
            make_arrow_segment_builder(
                key_kind, cfg.index_positions, field_name=cfg.text_col,
                codec=cfg.codec, stem=DICT_STEMMERS.get(cfg.analyzer),
                with_payloads=cfg.index_payloads,
            ),
            SEGMENT_SCHEMA,
        )
    else:
        # multi-field builds run the pandas engine (per-field invert)
        seg_rows = todo.groupBy("g").applyInPandas(
            _make_segment_builder(
                cfg.analyzer, cfg.segs_per_shard, key_kind,
                cfg.index_positions, fields, cfg.codec,
                synonyms=cfg.synonyms,
            ),
            SEGMENT_SCHEMA,
        )
    mode = "append" if done else "overwrite"
    seg_rows.write.mode(mode).parquet(seg_path)
    _pt.mark("seg_build_write")

    segments = spark.read.parquet(seg_path)

    # checkpoint/lineage table: one row per segment with metrics
    # (meta rows exist per (g, field); the default field's row carries
    # keys/fingerprint)
    meta = segments.where(
        (F.col("kind") == "m") & (F.col("field") == cfg.text_col)
    ).select("g", "n_docs", "fingerprint")
    post_metrics = (
        segments.where(F.col("kind") == "p")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("df").alias("n_postings"),
            F.sum("cf").alias("sum_cf"),
            F.sum(F.length("doc_enc") + F.length("tf_enc")).alias("bytes"),
        )
    )
    ckpt = meta.join(post_metrics, "g", "left").fillna(
        0, subset=["n_terms", "n_postings", "sum_cf", "bytes"]
    )
    ckpt.write.mode("overwrite").parquet(ckpt_path)
    ckpt_rows = spark.read.parquet(ckpt_path).select("g", "n_docs").collect()
    # per-field collection stats (CollectionStatistics.sumTotalTermFreq
    # per field): Σ doc_len from the per-(segment, field) meta rows
    field_stats = {
        r["field"]: int(r["sttf"])
        for r in segments.where(F.col("kind") == "m")
        .groupBy("field")
        .agg(F.sum("sum_dl").alias("sttf"))
        .collect()
    }
    sttf = field_stats.get(cfg.text_col, 0)
    _pt.mark("checkpoint")

    # ---- doc bases (MergeState.docBase concatenation rule) ----
    seg_meta = sorted((int(r.g), int(r.n_docs)) for r in ckpt_rows)
    bases: dict[int, int] = {}
    acc = 0
    for g, nd in seg_meta:
        bases[g] = acc
        acc += nd
    max_doc = acc
    bases_b = spark.sparkContext.broadcast(bases)

    # ---- doc_map: explode segment meta rows (vectorized) ----
    def explode_meta(iterator):
        for pdf in iterator:
            for row in pdf.itertuples(index=False):
                g = int(row.g)
                if key_kind == "s":
                    raw = bytes(row.keys_enc)
                    keys = raw.decode("utf-8").split("\n") if raw else []
                else:
                    keys = np.frombuffer(row.keys_enc, "<i8")
                dls = np.frombuffer(row.doc_lens_enc, "<i4")
                nrm = np.frombuffer(row.norms_enc, np.uint8)
                base = bases_b.value[g]
                yield pd.DataFrame(
                    {
                        "doc_id": base + np.arange(len(keys), dtype=np.int64),
                        "key": keys,
                        "shard": np.int32(g // cfg.segs_per_shard),
                        "g": np.int64(g),
                        "doc_len": dls.astype(np.int64),
                        "norm": nrm.astype(np.int32),
                    }
                )

    key_sql_type = "string" if key_kind == "s" else "long"
    doc_map_schema = (
        f"doc_id long, key {key_sql_type}, shard int, g long, doc_len long, norm int"
    )
    meta_rows = segments.where(
        (F.col("kind") == "m") & (F.col("field") == cfg.text_col)
    ).select("g", "keys_enc", "doc_lens_enc", "norms_enc")
    doc_map = meta_rows.mapInPandas(explode_meta, doc_map_schema)
    doc_map.write.mode("overwrite").parquet(os.path.join(out_dir, "doc_map"))
    _pt.mark("doc_map")

    # ---- per-(shard, field) norm blobs (Lucene53NormsFormat analog) ----
    def build_norms(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("g")
        blob = b"".join(bytes(x) for x in pdf["norms_enc"])
        base = bases_b.value[int(pdf["g"].iloc[0])]
        return pd.DataFrame(
            {
                "shard": [int(pdf["g"].iloc[0]) // cfg.segs_per_shard],
                "field": [pdf["field"].iloc[0]],
                "base": [base],
                "n_docs": [len(blob)],
                "norms": [blob],
            }
        )

    norms_df = (
        segments.where(F.col("kind") == "m")
        .select("g", "field", "norms_enc")
        .withColumn("shard", (F.col("g") / cfg.segs_per_shard).cast("int"))
        .groupBy("shard", "field")
        .applyInPandas(build_norms, NORMS_SCHEMA)
    )
    norms_df.write.mode("overwrite").parquet(os.path.join(out_dir, "norms"))
    _pt.mark("norms")

    # ---- merge: ordered concat per (shard, term, part), salted for skew ----
    posting_rows = segments.where(F.col("kind") == "p")
    part_col = F.when(
        F.col("df") > cfg.hot_seg_df,
        (F.pmod(F.col("g"), F.lit(cfg.segs_per_shard)) / cfg.hot_segs_per_part).cast("int"),
    ).otherwise(F.lit(0))
    bucketed = posting_rows.withColumn("part", part_col).withColumn(
        "bucket",
        F.pmod(F.xxhash64("term", "part"), F.lit(cfg.merge_buckets)).cast("int"),
    ).withColumn("shard", (F.col("g") / cfg.segs_per_shard).cast("int"))

    from lucene_solr_spark.index.arrow_builder import make_arrow_merger

    merged = bucketed.select(
        "shard", "bucket", "term", "part", "g", "df", "cf", "doc_enc",
        "tf_enc", "block_last", "block_doc_off", "block_tf_off",
        "block_max_tf", "block_max_norm", "pos_enc", "pay_enc",
    ).groupBy("shard", "bucket").applyInArrow(
        make_arrow_merger(bases, cfg.codec), POSTINGS_SCHEMA
    )
    # Range-partition by (shard, term): write parallelism is decoupled
    # from shard count (a shard's terms span several contiguous-range
    # files) while keeping term-sorted files so parquet min/max pruning
    # still short-circuits term lookups (the FST .tip analog).
    # repartitionByRange samples `merged` in a separate job, so the
    # merge kernel runs twice. That is deliberate: the columnar kernel
    # is cheap, while caching `merged` would pin the merge stage at
    # spark.sql.shuffle.partitions Python tasks (AQE does not coalesce
    # a cached plan's partitions) — a fixed per-task cost that exceeds
    # the second run.
    n_write = max(cfg.n_shards, spark.sparkContext.defaultParallelism)
    (
        merged.repartitionByRange(n_write, "shard", "term")
        .sortWithinPartitions("shard", "term", "part")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(os.path.join(out_dir, "postings"))
    )
    _pt.mark("merge_write")

    # ---- global term stats (df/cf across shards) ----
    postings_final = spark.read.parquet(os.path.join(out_dir, "postings"))
    term_stats = postings_final.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )
    term_stats.coalesce(max(1, cfg.merge_buckets // 8)).sortWithinPartitions(
        "term"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "term_stats"))
    # reversed dictionary (ReversedWildcardFilterFactory analog,
    # solr/core/.../analysis/ReversedWildcardFilterFactory.java): the
    # same vocabulary keyed by reverse(term) and SORTED on it, so a
    # leading-wildcard expansion (*foo -> rterm startswith 'oof')
    # becomes a min/max-pruned parquet seek instead of a full
    # dictionary regex scan. Vocabulary-sized — negligible next to
    # postings.
    spark.read.parquet(os.path.join(out_dir, "term_stats")).select(
        F.reverse(F.col("term")).alias("rterm"), "term", "df"
    ).coalesce(max(1, cfg.merge_buckets // 8)).sortWithinPartitions(
        "rterm"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "term_stats_rev"))
    _pt.mark("term_stats")

    # ---- collection stats + manifest ----
    shard_bases = {}
    for g, nd in seg_meta:
        shard = g // cfg.segs_per_shard
        shard_bases.setdefault(shard, bases[g])
    cfg_dict = asdict(cfg)
    cfg_dict["extra_fields"] = list(cfg.extra_fields)
    manifest = {
        "version": 1,
        "config": cfg_dict,
        "key_kind": key_kind,
        "max_doc": int(max_doc),
        "sum_total_term_freq": int(sttf or 0),
        "field_stats": {k: int(v) for k, v in field_stats.items()},
        "fields": [cfg.text_col] + list(cfg.extra_fields),
        "n_input_rows": int(n_total),
        "seg_bases": {str(k): v for k, v in bases.items()},
        "shard_bases": {str(k): v for k, v in shard_bases.items()},
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest
