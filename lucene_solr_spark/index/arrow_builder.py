"""Arrow-native segment construction (the zero-Python-object path).

The pandas segment builder materializes every token as a Python string
(millions of small allocations per segment); on virtualized hosts the
resulting page-fault traffic serializes in the kernel and caps
scaling. This builder keeps the whole invert pipeline in native
memory:

- tokenization happens JVM-side (analysis/jvm.py) — the group input
  arrives as Arrow list<string> (or list<struct<term,pos>>) columns
- term ids come from pyarrow `dictionary_encode` (C++ hash table)
- ordering/counting is numpy over int arrays
- only the ~|dict| unique terms are ever materialized as Python
  strings (for the output term column)

Output is byte-identical to the pandas builder (tests pin equality of
the resulting search responses and postings invariants).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from lucene_solr_spark.functions.smallfloat import encode_norm
from lucene_solr_spark.index.codec import (
    encode_position_lists,
    encode_posting_lists,
)

_LIST_I32 = pa.list_(pa.int32())
_LIST_I64 = pa.list_(pa.int64())


def _arrow_schema():
    return pa.schema(
        [
            ("g", pa.int64()),
            ("kind", pa.string()),
            ("term", pa.string()),
            ("df", pa.int64()),
            ("cf", pa.int64()),
            ("doc_enc", pa.binary()),
            ("tf_enc", pa.binary()),
            ("block_last", _LIST_I64),
            ("block_doc_off", _LIST_I32),
            ("block_tf_off", _LIST_I32),
            ("block_max_tf", _LIST_I32),
            ("block_max_norm", _LIST_I32),
            ("pos_enc", pa.binary()),
            ("pay_enc", pa.binary()),
            ("field", pa.string()),
            ("sum_dl", pa.int64()),
            ("keys_enc", pa.binary()),
            ("doc_lens_enc", pa.binary()),
            ("norms_enc", pa.binary()),
            ("n_docs", pa.int64()),
            ("fingerprint", pa.string()),
        ]
    )


def _list_array(parts: list[np.ndarray], dtype) -> pa.Array:
    if parts:
        offsets = np.zeros(len(parts) + 1, np.int32)
        np.cumsum([len(p) for p in parts], out=offsets[1:])
        values = np.concatenate(parts) if offsets[-1] else np.array([], dtype)
        return pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(values.astype(dtype))
        )
    return pa.array([], pa.list_(pa.from_numpy_dtype(dtype)))


def make_arrow_segment_builder(
    key_kind: str, index_positions: bool, field_name: str = "text",
    codec: str = "vbyte", stem=None, with_payloads: bool = False,
):
    """Returns the applyInArrow function building ONE segment's rows.

    Single-field fast path; multi-field builds use the pandas engine
    (builder._make_segment_builder with `fields`).

    `stem`: optional per-term stemmer (analyzers.DICT_STEMMERS — the
    PorterStemFilter seam). Applied to the pyarrow DICTIONARY only
    (|vocab| python calls per segment batch, never per token); terms
    whose stems collide merge into one posting via a code remap, and
    positions / doc lengths are untouched (stemming drops nothing)."""

    def build_segment(tbl: pa.Table) -> pa.Table:
        # One Spark task = one core slot: cap Arrow's internal thread
        # pool (it defaults to ALL host cores) so concurrent tasks
        # don't oversubscribe the machine. On a cluster this is the
        # correct per-slot budget; locally it also makes the N-core
        # level actually USE N cores — without it a local[2] run
        # silently multithreads inside pyarrow and any measured
        # scaling efficiency vs local[8] is fiction.
        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
        schema = _arrow_schema()
        if tbl.num_rows == 0:
            return schema.empty_table()
        tbl = tbl.sort_by("key")  # Arrow string sort = bytewise = codepoint order
        g = int(tbl.column("g")[0].as_py())
        n_docs = tbl.num_rows

        keys_col = tbl.column("key")
        if key_kind == "s":
            key_list = keys_col.to_pylist()
            keys_b = "\n".join(key_list).encode("utf-8")
        else:
            keys_b = (
                keys_col.combine_chunks().to_numpy().astype("<i8").tobytes()
            )

        toks = tbl.column("toks").combine_chunks()
        offsets = toks.offsets.to_numpy()
        doc_lens = np.diff(offsets).astype(np.int64)
        # discountOverlaps (BM25Similarity.java:141 — default true):
        # chains that emit same-position tokens (synonyms, shingles,
        # edge grams) ship an `nlen` column = tokens minus overlaps;
        # the norm byte encodes THAT length, while doc_lens (all
        # emitted tokens) keeps feeding sum_dl / avgdl
        # (sumTotalTermFreq counts every posting).
        if "nlen" in tbl.schema.names:
            norm_lens = (
                tbl.column("nlen").combine_chunks().to_numpy()
                .astype(np.int64)
            )
        else:
            norm_lens = doc_lens
        norms = encode_norm(norm_lens)
        total = int(doc_lens.sum())

        pos_encs = None
        pay_encs = None
        if total:
            if index_positions:
                vals = toks.values  # StructArray(term, pos[, pay])
                terms_flat = vals.field("term")
                flat_pos = vals.field("pos").to_numpy().astype(np.int64)
                if with_payloads:
                    # nulls (no payload at that position) -> NaN
                    flat_pay = (
                        vals.field("pay")
                        .to_numpy(zero_copy_only=False)
                        .astype(np.float32)
                    )
            else:
                terms_flat = toks.values
            denc = pc.dictionary_encode(terms_flat)
            if isinstance(denc, pa.ChunkedArray):
                denc = denc.combine_chunks()
            codes_raw = denc.indices.to_numpy().astype(np.int64)
            dictionary = denc.dictionary
            if stem is not None:
                # stem the dictionary; colliding stems merge via the
                # inverse map (np.unique sorts by codepoint = utf-8
                # byte order, the Term comparison contract)
                stems = np.array(
                    [stem(t) for t in dictionary.to_pylist()], object
                )
                uniq, inv = np.unique(stems, return_inverse=True)
                uniques = uniq.tolist()
                codes = inv.astype(np.int64)[codes_raw]
            else:
                # byte-order ranks for the dictionary -> sorted term ids
                sort_idx = (
                    pc.array_sort_indices(dictionary).to_numpy().astype(np.int64)
                )
                rank = np.empty(len(dictionary), np.int64)
                rank[sort_idx] = np.arange(len(dictionary), dtype=np.int64)
                codes = rank[codes_raw]
                uniques = dictionary.take(pa.array(sort_idx)).to_pylist()
            n_terms = len(uniques)

            doc_ord = np.repeat(np.arange(n_docs, dtype=np.int64), doc_lens)
            if index_positions:
                order = np.lexsort((flat_pos, doc_ord, codes))
                c_s = codes[order]
                d_s = doc_ord[order]
                p_s = flat_pos[order]
                newrun = np.empty(total, bool)
                newrun[0] = True
                newrun[1:] = (c_s[1:] != c_s[:-1]) | (d_s[1:] != d_s[:-1])
                run_id = np.cumsum(newrun) - 1
                tfs = np.bincount(run_id).astype(np.int64)
                doc_local = d_s[newrun]
                term_of_run = c_s[newrun]
                dfs = np.bincount(term_of_run, minlength=n_terms).astype(np.int64)
                pos_per_term = np.bincount(c_s, minlength=n_terms).astype(np.int64)
                pos_encs = encode_position_lists(p_s, tfs, pos_per_term)
                if with_payloads:
                    # .pay analog: raw <f4 stream aligned 1:1 with the
                    # position stream (same (term, doc, pos) order);
                    # per-doc runs are delimited by the SAME tf counts,
                    # so merge is plain byte concat like pos_enc
                    pay_s = flat_pay[order]
                    bounds = np.cumsum(pos_per_term)[:-1]
                    pay_encs = [
                        chunk.astype("<f4").tobytes()
                        for chunk in np.split(pay_s, bounds)
                    ]
            else:
                pair = codes * n_docs + doc_ord
                upair, tfs = np.unique(pair, return_counts=True)
                tfs = tfs.astype(np.int64)
                doc_local = upair % n_docs
                dfs = np.bincount(upair // n_docs, minlength=n_terms).astype(
                    np.int64
                )
            cfs = np.add.reduceat(tfs, np.cumsum(dfs) - dfs).astype(np.int64)
            enc = encode_posting_lists(
                dfs, doc_local, tfs, norms[doc_local], codec=codec
            )

        fingerprint = hashlib.sha256(keys_b).hexdigest()[:16]
        n_post = n_terms if total else 0
        n_rows = n_post + 1

        def col(vals, typ):
            return pa.array(vals, typ)

        none_post = [None] * n_post
        arrays = [
            col([g] * n_rows, pa.int64()),
            col(["p"] * n_post + ["m"], pa.string()),
            col((uniques if total else []) + [None], pa.string()),
            col((list(dfs) if total else []) + [None], pa.int64()),
            col((list(cfs) if total else []) + [None], pa.int64()),
            col((enc["doc_enc"] if total else []) + [None], pa.binary()),
            col((enc["tf_enc"] if total else []) + [None], pa.binary()),
        ]
        for k, typ, dt in (
            ("block_last", _LIST_I64, np.int64),
            ("block_doc_off", _LIST_I32, np.int32),
            ("block_tf_off", _LIST_I32, np.int32),
            ("block_max_tf", _LIST_I32, np.int32),
            ("block_max_norm", _LIST_I32, np.int32),
        ):
            if total:
                la = _list_array([np.asarray(x) for x in enc[k]], dt)
                arrays.append(pa.concat_arrays([la, pa.nulls(1, typ)]))
            else:
                arrays.append(pa.nulls(1, typ))
        arrays.append(
            col((pos_encs if pos_encs is not None else none_post) + [None], pa.binary())
        )
        arrays.append(
            col((pay_encs if pay_encs is not None else none_post) + [None], pa.binary())
        )
        arrays.append(col(none_post + [field_name], pa.string()))
        arrays.append(col(none_post + [int(doc_lens.sum())], pa.int64()))
        arrays.append(col(none_post + [keys_b], pa.binary()))
        arrays.append(
            col(none_post + [doc_lens.astype("<i4").tobytes()], pa.binary())
        )
        arrays.append(
            col(none_post + [norms.astype(np.uint8).tobytes()], pa.binary())
        )
        arrays.append(col(none_post + [n_docs], pa.int64()))
        arrays.append(col(none_post + [fingerprint], pa.string()))
        return pa.Table.from_arrays(arrays, schema=schema)

    return build_segment


def _binary_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (data buffer as uint8, start offset per row, length per row);
    null rows get length 0."""
    offs = np.frombuffer(
        arr.buffers()[1], np.int32, len(arr) + 1, arr.offset * 4
    ).astype(np.int64)
    data_buf = arr.buffers()[2]
    data = (
        np.frombuffer(data_buf, np.uint8) if data_buf is not None
        else np.empty(0, np.uint8)
    )
    lens = np.diff(offs)
    if arr.null_count:
        lens[~arr.is_valid().to_numpy(zero_copy_only=False)] = 0
    return data, offs[:-1], lens


def _gather(src: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate the byte ranges src[starts[i] : starts[i] + lens[i]]."""
    total = int(lens.sum())
    dst = np.cumsum(lens) - lens
    return src[np.repeat(starts - dst, lens) + np.arange(total)]


def _binary_array(
    data: np.ndarray, row_lens: np.ndarray, bounds: np.ndarray,
    valid: np.ndarray | None = None,
) -> pa.Array:
    """Binary array whose value i is data[row range bounds[i]:bounds[i+1]]
    (`data` holds the rows' bytes back to back)."""
    offs = np.zeros(len(row_lens) + 1, np.int64)
    np.cumsum(row_lens, out=offs[1:])
    validity = None
    if valid is not None and not valid.all():
        validity = pa.py_buffer(np.packbits(valid, bitorder="little"))
    return pa.Array.from_buffers(
        pa.binary(), len(bounds) - 1,
        [validity, pa.py_buffer(offs[bounds].astype(np.int32)),
         pa.py_buffer(data)],
    )


def make_arrow_merger(seg_bases: dict[int, int], codec: str = "vbyte"):
    """Returns the applyInArrow function merging ONE (shard, bucket)
    group of segment posting rows into shard posting rows.

    Segments are doc-disjoint ascending runs, so merging a (term, part)
    is an ordered concatenation of its segment rows (sorted by g): only
    each row's head is rewritten — its first doc delta becomes
    `first global docID - previous row's last global docID` (absolute
    for the run's first row), via codec.rebase_heads — and every byte
    stream and block list is concatenated with offsets shifted. One
    columnar pass per group: no per-term Python."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from lucene_solr_spark.index.builder import POSTINGS_SCHEMA
    from lucene_solr_spark.index.codec import rebase_heads

    schema = to_arrow_schema(POSTINGS_SCHEMA)
    base_of_g = np.zeros(max(seg_bases, default=-1) + 1, np.int64)
    for g, base in seg_bases.items():
        base_of_g[g] = base

    def merge(tbl: pa.Table) -> pa.Table:
        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
        if tbl.num_rows == 0:
            return schema.empty_table()
        tbl = tbl.sort_by(
            [("term", "ascending"), ("part", "ascending"), ("g", "ascending")]
        ).combine_chunks()
        n = tbl.num_rows

        def col(name):
            return tbl.column(name).chunk(0)

        def flat(name):
            """A list column's values, concatenated (a copy)."""
            return col(name).flatten().to_numpy().astype(np.int64)

        terms, parts = col("term"), col("part")
        new_run = np.ones(n, bool)
        if n > 1:
            new_run[1:] = (
                pc.not_equal(terms[1:], terms[:-1]).to_numpy(zero_copy_only=False)
                | pc.not_equal(parts[1:], parts[:-1]).to_numpy(zero_copy_only=False)
            )
        run_starts = np.flatnonzero(new_run)
        bounds = np.append(run_starts, n)
        run_of_row = np.cumsum(new_run) - 1
        base = base_of_g[col("g").to_numpy()]
        blast = flat("block_last")
        nblk = pc.list_value_length(col("block_last")).to_numpy().astype(np.int64)
        blk_first = np.cumsum(nblk) - nblk
        blast += np.repeat(base, nblk)
        # each row's first delta is relative to the previous row's last
        # global docID within the run, absolute at the run's head
        prev_last = np.zeros(n, np.int64)
        prev_last[1:] = blast[blk_first[1:] - 1]
        prev_last[new_run] = 0

        doc_data, doc_starts, doc_lens = _binary_parts(col("doc_enc"))
        heads, head_lens, old_head_lens = rebase_heads(
            doc_data, doc_starts, base - prev_last, codec
        )
        head_starts = len(doc_data) + np.cumsum(head_lens) - head_lens
        new_doc_lens = doc_lens - old_head_lens + head_lens
        doc_bytes = _gather(
            np.concatenate([doc_data, heads]),
            np.column_stack([head_starts, doc_starts + old_head_lens]).ravel(),
            np.column_stack([head_lens, doc_lens - old_head_lens]).ravel(),
        )

        def concat_col(name):
            """Byte-concat each run's rows (null if all are null)
            -> (array, byte length per row)."""
            arr = col(name)
            data, starts, lens = _binary_parts(arr)
            valid = None
            if arr.null_count:
                valid = np.logical_or.reduceat(
                    arr.is_valid().to_numpy(zero_copy_only=False), run_starts
                )
            out = _binary_array(_gather(data, starts, lens), lens, bounds, valid)
            return out, lens

        tf_enc, tf_lens = concat_col("tf_enc")

        def run_acc(lens):
            """Byte offset of each row within its run's output."""
            acc = np.cumsum(lens) - lens
            return acc - acc[run_starts][run_of_row]

        bdoff = flat("block_doc_off")
        shift = np.repeat(head_lens - old_head_lens, nblk)
        shift[blk_first] = 0
        bdoff += np.repeat(run_acc(new_doc_lens), nblk) + shift
        btoff = flat("block_tf_off")
        btoff += np.repeat(run_acc(tf_lens), nblk)
        blk_bounds = np.append(blk_first, len(blast))[bounds]

        def list_col(values, dtype):
            return pa.ListArray.from_arrays(
                pa.array(blk_bounds.astype(np.int32)), pa.array(values.astype(dtype))
            )

        arrays = [
            col("shard").take(run_starts).cast(pa.int32()),
            terms.take(run_starts),
            parts.take(run_starts).cast(pa.int32()),
            pa.array(np.add.reduceat(col("df").to_numpy(), run_starts)),
            pa.array(np.add.reduceat(col("cf").to_numpy(), run_starts)),
            _binary_array(doc_bytes, new_doc_lens, bounds),
            tf_enc,
            list_col(blast, np.int64),
            list_col(bdoff, np.int32),
            list_col(btoff, np.int32),
            list_col(flat("block_max_tf"), np.int32),
            list_col(flat("block_max_norm"), np.int32),
            concat_col("pos_enc")[0],
            concat_col("pay_enc")[0],
        ]
        return pa.Table.from_arrays(arrays, schema=schema)

    return merge
