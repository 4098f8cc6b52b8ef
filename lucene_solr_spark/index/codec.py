"""Posting-list block codec: docID-delta VByte in 128-entry blocks.

Logical reproduction of the reference's postings encoding
(codecs/lucene50/Lucene50PostingsFormat.java:50-56,190-263): doc deltas
(first absolute), fixed blocks of BLOCK_SIZE=128 (:398), VByte bytes
(low 7 bits first, continuation high bit — store/DataOutput.writeVInt
semantics), one skip entry per block carrying the block's last docID
(Lucene50SkipWriter.java:39-44). Per-block max-score metadata
(max_tf, max_norm_byte) extends the skip entry with block-max impacts
(Ding & Suel, SIGIR 2011 — post-6.0 addition required by the north rule,
SURVEY.md §4.5).

Everything is numpy-vectorized across ALL terms of a segment at once:
one encode pass for every posting of every term (no per-term Python
loop in the hot path).
"""

from __future__ import annotations

import numpy as np

from lucene_solr_spark import BLOCK_SIZE


def vbyte_encode(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode uint64 values -> (bytes: uint8 array, nbytes per value).

    Low 7-bit group first; high bit set on all but the final group
    (store/DataOutput.writeVInt semantics).
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return np.empty(0, np.uint8), np.empty(0, np.int64)
    nb = np.ones(n, np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nb += tmp > 0
        tmp >>= np.uint64(7)
    total = int(nb.sum())
    starts = np.cumsum(nb) - nb
    idx = np.repeat(np.arange(n), nb)
    ordinal = (np.arange(total) - np.repeat(starts, nb)).astype(np.uint64)
    chunks = (v[idx] >> (np.uint64(7) * ordinal)) & np.uint64(0x7F)
    cont = ordinal < (nb[idx] - 1).astype(np.uint64)
    out = (chunks | (cont.astype(np.uint64) << np.uint64(7))).astype(np.uint8)
    return out, nb


def vbyte_decode(buf: np.ndarray | bytes, n_values: int | None = None) -> np.ndarray:
    """Decode a VByte stream -> uint64 values (vectorized, <=10 passes)."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if len(b) == 0:
        return np.empty(0, np.uint64)
    ends = (b & 0x80) == 0
    value_id = np.zeros(len(b), np.int64)
    np.cumsum(ends[:-1], out=value_id[1:])
    nvals = int(ends.sum())
    pos = np.arange(len(b))
    starts_mask = np.empty(len(b), bool)
    starts_mask[0] = True
    starts_mask[1:] = ends[:-1]
    start_pos = np.maximum.accumulate(np.where(starts_mask, pos, 0))
    ordinal = (pos - start_pos).astype(np.uint64)
    chunks = (b & np.uint8(0x7F)).astype(np.uint64)
    vals = np.zeros(nvals, np.uint64)
    for j in range(int(ordinal.max()) + 1):
        sel = ordinal == j
        vals[value_id[sel]] |= chunks[sel] << np.uint64(7 * j)
    if n_values is not None and nvals != n_values:
        raise ValueError(f"decoded {nvals} values, expected {n_values}")
    return vals


# ----------------------------------------------------------------------
# FOR (Frame-of-Reference) bit-packed blocks — the PForDelta-family
# codec variant (codecs/lucene50/ForUtil.java:36-47: per-block bit
# width = bits of the block's max value). Self-describing block format:
#   [width: 1 byte][count-1: 1 byte][big-endian packed bits, byte-padded]
# Unlike Lucene's fixed 128-int frames, blocks may be irregular (merge
# concatenates segment runs), so the count rides in the header.
# ----------------------------------------------------------------------


def _bit_widths(mx: np.ndarray) -> np.ndarray:
    """bit_length per value (>=1), exact for values < 2^62."""
    mx = np.asarray(mx, np.uint64)
    w = np.ones(len(mx), np.int64)
    nz = mx > 0
    if nz.any():
        w[nz] = np.floor(np.log2(mx[nz].astype(np.float64))).astype(np.int64) + 1
        # float-rounding correction at power-of-two edges
        over = nz & (mx >> np.minimum(w, 63).astype(np.uint64) > 0)
        w[over] += 1
        under = nz & (mx >> np.maximum(w - 1, 0).astype(np.uint64) == 0)
        w[under] -= 1
    return np.maximum(w, 1)


def for_encode_block(values: np.ndarray) -> bytes:
    """Encode one block (1..128 uint64 values)."""
    v = np.asarray(values, np.uint64)
    n = len(v)
    assert 1 <= n <= 256
    w = int(_bit_widths(np.array([int(v.max())], np.uint64))[0])
    shifts = np.arange(w - 1, -1, -1, dtype=np.uint64)
    bits = ((v[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    packed = np.packbits(bits.reshape(-1))
    return bytes([w, n - 1]) + packed.tobytes()


def for_decode_block(buf: bytes) -> np.ndarray:
    """Decode one self-describing FOR block -> uint64 values."""
    w = buf[0]
    n = buf[1] + 1
    bits = np.unpackbits(np.frombuffer(buf, np.uint8, offset=2))[: n * w]
    pw = np.uint64(1) << np.arange(w - 1, -1, -1, dtype=np.uint64)
    return (bits.reshape(n, w).astype(np.uint64) * pw).sum(axis=1)


def for_block_len(buf: bytes, off: int = 0) -> int:
    """Byte length of the block starting at `off` (header walk)."""
    w = buf[off]
    n = buf[off + 1] + 1
    return 2 + (n * w + 7) // 8


def for_encode_blocks(
    values: np.ndarray, block_starts: np.ndarray, n_total: int
) -> tuple[bytes, np.ndarray]:
    """Encode MANY blocks in one vectorized pass (grouped by width).

    `block_starts` are indices into `values` (ascending, first == 0);
    returns (stream, byte offset per block). No per-posting Python."""
    v = np.asarray(values, np.uint64)
    starts = np.asarray(block_starts, np.int64)
    nblk = len(starts)
    ends = np.empty(nblk, np.int64)
    ends[:-1] = starts[1:]
    ends[-1] = n_total
    counts = ends - starts
    assert counts.max(initial=0) <= 256, "FOR block count exceeds header"
    mx = np.maximum.reduceat(v, starts) if len(v) else np.zeros(0, np.uint64)
    widths = _bit_widths(mx)
    body_bytes = (counts * widths + 7) // 8
    blk_bytes = 2 + body_bytes
    offs = np.cumsum(blk_bytes) - blk_bytes
    out = np.zeros(int(blk_bytes.sum()), np.uint8)
    out[offs] = widths
    out[offs + 1] = (counts - 1).astype(np.uint8)
    for w in np.unique(widths):
        sel = np.flatnonzero(widths == w)
        cnts = counts[sel]
        total = int(cnts.sum())
        if total == 0:
            continue
        # gather this width-group's values
        gstarts = np.repeat(starts[sel], cnts)
        gj = np.arange(total) - np.repeat(np.cumsum(cnts) - cnts, cnts)
        vals = v[gstarts + gj]
        shifts = np.arange(w - 1, -1, -1, dtype=np.uint64)
        bits = ((vals[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
        # per-block byte-padded bit regions
        padbits = body_bytes[sel] * 8
        bit_off = np.cumsum(padbits) - padbits
        val_bit0 = bit_off[np.repeat(np.arange(len(sel)), cnts)] + gj * w
        dst = (val_bit0[:, None] + np.arange(w)).reshape(-1)
        gbits = np.zeros(int(padbits.sum()), np.uint8)
        gbits[dst] = bits.reshape(-1)
        gpacked = np.packbits(gbits)
        # scatter packed bytes into the output at each block's body
        body_off = np.cumsum(body_bytes[sel]) - body_bytes[sel]
        bdst = (
            np.repeat(offs[sel] + 2, body_bytes[sel])
            + np.arange(int(body_bytes[sel].sum()))
            - np.repeat(body_off, body_bytes[sel])
        )
        out[bdst] = gpacked
    return out.tobytes(), offs


def for_decode_blocks(
    buf: np.ndarray, offs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY blocks in one vectorized pass -> (values, counts).

    `buf` is a uint8 array, `offs` the byte offset of each block's
    header; values come back concatenated in block order."""
    offs = np.asarray(offs, np.int64)
    w = buf[offs].astype(np.int64)
    counts = buf[offs + 1].astype(np.int64) + 1
    body = (counts * w + 7) // 8
    body_start = np.cumsum(body) - body
    src = np.repeat(offs + 2 - body_start, body) + np.arange(int(body.sum()))
    bits = np.unpackbits(buf[src])
    blk = np.repeat(np.arange(len(offs)), counts)
    j = np.arange(int(counts.sum())) - np.repeat(np.cumsum(counts) - counts, counts)
    wv = w[blk]
    bit0 = body_start[blk] * 8 + j * wv
    vals = np.zeros(len(blk), np.uint64)
    for k in range(int(w.max(initial=0))):
        m = k < wv
        vals[m] = (vals[m] << np.uint64(1)) | bits[bit0[m] + k].astype(np.uint64)
    return vals, counts


def _vbyte_read_first(
    buf: np.ndarray, starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """First VByte value at each byte offset -> (values, nbytes)."""
    vals = np.zeros(len(starts), np.uint64)
    nbytes = np.zeros(len(starts), np.int64)
    live = np.arange(len(starts))
    shift = 0
    while len(live):
        byte = buf[starts[live] + nbytes[live]]
        vals[live] |= (byte & 0x7F).astype(np.uint64) << np.uint64(shift)
        nbytes[live] += 1
        live = live[(byte & 0x80) != 0]
        shift += 7
    return vals, nbytes


def rebase_heads(
    buf: np.ndarray, starts: np.ndarray, add: np.ndarray, codec: str = "vbyte"
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Add `add[i]` to the first doc delta of the stream at byte
    `starts[i]` of `buf` and re-encode that stream's head — its first
    varint (vbyte) or its first block, whose bit width may change (for).
    The rest of each stream is untouched.

    Returns (new heads concatenated as uint8, new head byte lengths,
    old head byte lengths)."""
    starts = np.asarray(starts, np.int64)
    add = np.asarray(add, np.int64)
    if codec == "for":
        vals, counts = for_decode_blocks(buf, starts)
        old_lens = 2 + (counts * buf[starts].astype(np.int64) + 7) // 8
        first = np.cumsum(counts) - counts
        vals[first] = (vals[first].astype(np.int64) + add).astype(np.uint64)
        stream, offs = for_encode_blocks(vals, first, len(vals))
        new_lens = np.diff(np.append(offs, len(stream)))
        return np.frombuffer(stream, np.uint8), new_lens, old_lens
    vals, old_lens = _vbyte_read_first(buf, starts)
    heads, new_lens = vbyte_encode((vals.astype(np.int64) + add).astype(np.uint64))
    return heads, new_lens, old_lens


def for_decode_stream(buf: bytes, n_values: int) -> np.ndarray:
    """Decode a concatenation of FOR blocks -> uint64 values."""
    vals = np.empty(n_values, np.uint64)
    off = 0
    w_ = 0
    while w_ < n_values:
        block = for_decode_block(buf[off:])
        vals[w_ : w_ + len(block)] = block
        w_ += len(block)
        off += for_block_len(buf, off)
    return vals


def encode_posting_lists(
    term_lengths: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    codec: str = "vbyte",
) -> dict[str, list]:
    """Encode postings for MANY terms in one vectorized pass.

    Inputs are parallel arrays sorted by (term, doc_id); `term_lengths[i]`
    is the df of term i (sum == len(doc_ids)). `norm_bytes[j]` is the norm
    byte of doc_ids[j]'s document. `codec` picks the block body format:
    'vbyte' (VInt-style) or 'for' (bit-packed frames, ForUtil analog).

    Returns dict of per-term lists (aligned with term_lengths):
      doc_enc: bytes        doc-delta blocks (first delta absolute)
      tf_enc: bytes         tf blocks
      block_last: list[int64 array]   last docID per 128-block (skip entry)
      block_doc_off / block_tf_off: list[int32 array]  byte offset of each
          block within doc_enc / tf_enc
      block_max_tf / block_max_norm: list[int32 array] block-max metadata
    """
    n = len(doc_ids)
    term_lengths = np.asarray(term_lengths, dtype=np.int64)
    assert int(term_lengths.sum()) == n
    term_starts = np.cumsum(term_lengths) - term_lengths

    # doc deltas with per-term reset (first value absolute)
    deltas = np.empty(n, np.int64)
    if n:
        deltas[0] = doc_ids[0]
        deltas[1:] = doc_ids[1:] - doc_ids[:-1]
        deltas[term_starts] = doc_ids[term_starts]

    # block starts: every 128th posting within each term
    local_idx = np.arange(n) - np.repeat(term_starts, term_lengths)
    block_start_mask = (local_idx % BLOCK_SIZE) == 0
    block_starts = np.flatnonzero(block_start_mask)  # global posting indices
    # block ends: next block start - 1 (or n-1)
    block_ends = np.empty(len(block_starts), np.int64)
    block_ends[:-1] = block_starts[1:] - 1
    if len(block_starts):
        block_ends[-1] = n - 1

    blk_last = doc_ids[block_ends].astype(np.int64)
    blk_max_tf = np.maximum.reduceat(np.asarray(tfs, np.int64), block_starts).astype(
        np.int32
    )
    blk_max_norm = np.maximum.reduceat(
        np.asarray(norm_bytes, np.int64), block_starts
    ).astype(np.int32)

    # number of blocks per term, for splitting the block arrays
    blocks_per_term = ((term_lengths + BLOCK_SIZE - 1) // BLOCK_SIZE).astype(np.int64)
    blk_split = np.cumsum(blocks_per_term)[:-1]

    if codec == "for":
        doc_enc_all, doc_offs = for_encode_blocks(
            deltas.astype(np.uint64), block_starts, n
        )
        tf_enc_all, tf_offs = for_encode_blocks(
            np.asarray(tfs, np.uint64), block_starts, n
        )
        blk_ptr = np.cumsum(blocks_per_term) - blocks_per_term
        t_doc_b0 = doc_offs[blk_ptr]
        t_tf_b0 = tf_offs[blk_ptr]
        t_doc_b1 = np.empty(len(term_lengths), np.int64)
        t_doc_b1[:-1] = t_doc_b0[1:]
        t_doc_b1[-1] = len(doc_enc_all)
        t_tf_b1 = np.empty(len(term_lengths), np.int64)
        t_tf_b1[:-1] = t_tf_b0[1:]
        t_tf_b1[-1] = len(tf_enc_all)
        blk_doc_off = (
            doc_offs - np.repeat(t_doc_b0, blocks_per_term)
        ).astype(np.int32)
        blk_tf_off = (
            tf_offs - np.repeat(t_tf_b0, blocks_per_term)
        ).astype(np.int32)
    else:
        doc_bytes, doc_nb = vbyte_encode(deltas.astype(np.uint64))
        tf_bytes, tf_nb = vbyte_encode(np.asarray(tfs, dtype=np.uint64))
        doc_byte_start = np.cumsum(doc_nb) - doc_nb
        tf_byte_start = np.cumsum(tf_nb) - tf_nb
        t_doc_b0 = doc_byte_start[term_starts]
        t_tf_b0 = tf_byte_start[term_starts]
        doc_enc_all = doc_bytes.tobytes()
        tf_enc_all = tf_bytes.tobytes()
        t_doc_b1 = np.empty(len(term_lengths), np.int64)
        t_doc_b1[:-1] = t_doc_b0[1:]
        t_doc_b1[-1] = len(doc_enc_all)
        t_tf_b1 = np.empty(len(term_lengths), np.int64)
        t_tf_b1[:-1] = t_tf_b0[1:]
        t_tf_b1[-1] = len(tf_enc_all)
        blk_doc_off = (
            doc_byte_start[block_starts] - np.repeat(t_doc_b0, blocks_per_term)
        ).astype(np.int32)
        blk_tf_off = (
            tf_byte_start[block_starts] - np.repeat(t_tf_b0, blocks_per_term)
        ).astype(np.int32)

    return {
        "doc_enc": [doc_enc_all[a:b] for a, b in zip(t_doc_b0, t_doc_b1)],
        "tf_enc": [tf_enc_all[a:b] for a, b in zip(t_tf_b0, t_tf_b1)],
        "block_last": np.split(blk_last, blk_split),
        "block_doc_off": np.split(blk_doc_off, blk_split),
        "block_tf_off": np.split(blk_tf_off, blk_split),
        "block_max_tf": np.split(blk_max_tf, blk_split),
        "block_max_norm": np.split(blk_max_norm, blk_split),
    }


def decode_posting_list(
    doc_enc: bytes, tf_enc: bytes, df: int, codec: str = "vbyte"
) -> tuple[np.ndarray, np.ndarray]:
    """Full decode of one term's postings -> (doc_ids int64, tfs int64)."""
    if codec == "for":
        deltas = for_decode_stream(doc_enc, df).astype(np.int64)
        tfs = for_decode_stream(tf_enc, df).astype(np.int64)
    else:
        deltas = vbyte_decode(doc_enc, df).astype(np.int64)
        tfs = vbyte_decode(tf_enc, df).astype(np.int64)
    return np.cumsum(deltas), tfs


def decode_blocks(
    doc_enc: bytes,
    tf_enc: bytes,
    block_ids: np.ndarray,
    block_last: np.ndarray,
    block_doc_off: np.ndarray,
    block_tf_off: np.ndarray,
    df: int,
    codec: str = "vbyte",
) -> tuple[np.ndarray, np.ndarray]:
    """Decode only the selected blocks (skip-list analog).

    The first delta of block b is relative to block_last[b-1] (the skip
    entry's last docID); block 0's first value is absolute.
    """
    n_blocks = len(block_last)
    doc_end = np.empty(n_blocks, np.int64)
    doc_end[:-1] = block_doc_off[1:]
    doc_end[-1] = len(doc_enc)
    tf_end = np.empty(n_blocks, np.int64)
    tf_end[:-1] = block_tf_off[1:]
    tf_end[-1] = len(tf_enc)

    dec = for_decode_block if codec == "for" else vbyte_decode
    docs_out, tfs_out = [], []
    for b in block_ids:
        deltas = dec(doc_enc[block_doc_off[b] : doc_end[b]]).astype(np.int64)
        base = 0 if b == 0 else int(block_last[b - 1])
        deltas[0] += base
        docs_out.append(np.cumsum(deltas))
        tfs_out.append(
            dec(tf_enc[block_tf_off[b] : tf_end[b]]).astype(np.int64)
        )
    if not docs_out:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(docs_out), np.concatenate(tfs_out)


def encode_position_lists(
    positions: np.ndarray,
    run_lengths: np.ndarray,
    pos_per_term: np.ndarray,
) -> list[bytes]:
    """Encode per-(term,doc) position runs -> per-term VByte streams.

    Reference: the .pos file (Lucene50PostingsFormat.java:267-318) —
    positions as per-doc deltas, first position absolute within each
    doc. `positions` is sorted by (term, doc, pos); `run_lengths` is tf
    per (term, doc) run; `pos_per_term[i]` = total positions of term i
    (sum of its runs). Decoding walks runs via the tf stream, so no
    extra offsets are stored.
    """
    n = len(positions)
    if n == 0:
        return [b""] * len(pos_per_term)
    run_lengths = np.asarray(run_lengths, np.int64)
    run_starts = np.cumsum(run_lengths) - run_lengths
    deltas = np.empty(n, np.int64)
    deltas[0] = positions[0]
    deltas[1:] = positions[1:] - positions[:-1]
    deltas[run_starts] = positions[run_starts]
    pbytes, pnb = vbyte_encode(deltas.astype(np.uint64))
    byte_start = np.cumsum(pnb) - pnb
    pos_per_term = np.asarray(pos_per_term, np.int64)
    t_start = np.cumsum(pos_per_term) - pos_per_term  # first position idx per term
    blob = pbytes.tobytes()
    out = []
    for i, (s, c) in enumerate(zip(t_start, pos_per_term)):
        if c == 0:
            out.append(b"")
            continue
        b0 = int(byte_start[s])
        b1 = int(byte_start[s + c - 1] + pnb[s + c - 1])
        out.append(blob[b0:b1])
    return out


def decode_position_lists(pos_enc: bytes, tfs: np.ndarray) -> np.ndarray:
    """Decode one term's position stream -> absolute positions array
    (len == sum(tfs)), per-doc delta reset per encode_position_lists."""
    tfs = np.asarray(tfs, np.int64)
    total = int(tfs.sum())
    if total == 0:
        return np.empty(0, np.int64)
    deltas = vbyte_decode(pos_enc, total).astype(np.int64)
    acc = np.cumsum(deltas)
    starts = np.cumsum(tfs) - tfs
    # subtract the running prefix before each doc to reset the cumsum
    prefix = acc[starts] - deltas[starts]
    return acc - np.repeat(prefix, tfs)
