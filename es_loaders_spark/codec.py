"""Posting-block codec: delta + varint compression with block-max metadata.

The reference gets this for free from Lucene (every ES index the loaders
create — mira/elasticsearch.py:181-186 — stores postings as docID-sorted,
delta-compressed blocks with skip data / block-max impact metadata). We
rebuild it natively, numpy-vectorized end-to-end so it runs inside Arrow
UDF boundaries with no per-row Python (input_hint UDF policy).

Layout per (term[, salt]) row:

    blocks: list of Block(min_doc, max_doc, n, max_tf, min_dl, docs_payload, tfs_payload)

- ``docs_payload``: delta(docIDs) — first delta vs min_doc, so each block
  decodes independently (skip-friendly) — in the marker-dispatched FOR
  bit-packed format (see "block payload format" below; Lucene-ForUtil
  analogue, the SURVEY §7 "varint/PForDelta" upgrade: measured 0.66× the
  varint bytes and ~3× faster decode on dense-term deltas).
- ``tfs_payload``: (tf - 1) in the same format (tf ≥ 1; unit-tf blocks
  collapse to a 4-byte b=0 payload).
- ``max_tf`` / ``min_dl``: per-block impact metadata (Lucene-style).
  The BM25 tf-norm tf·(k1+1)/(tf + k1·(1−b + b·dl/avgdl)) is monotone
  increasing in tf and decreasing in dl, so
  ``tf_norm(max_tf, min_dl, avgdl) ≥ tf_norm(tf_i, dl_i, avgdl)`` for every
  posting in the block — a sound score bound computed AT QUERY TIME with
  the current corpus avgdl (block-max WAND pruning, wand.py). Storing raw
  (max_tf, min_dl) instead of a baked bound keeps bounds valid when new
  document generations are appended and avgdl shifts (build.append_documents).
  Tightness caveat: on natural corpora (mixed dl within docID-ordered
  blocks) this bound is loose and skips little (BENCH.md measurement);
  the planned upgrade is Lucene-style impact skylines — the Pareto
  frontier of (tf, dl) pairs per block — tight for any avgdl and still
  append-stable.

BLOCK_SIZE = 128 postings, as in Lucene's postings format.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK_SIZE = 128

_THRESHOLDS = [1 << (7 * i) for i in range(1, 10)]


def varint_nbytes(v: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (vectorized, exact)."""
    nbytes = np.ones(v.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += (v >= np.uint64(t)).astype(np.int64)
    return nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128 encode a uint64 array, fully vectorized."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    nbytes = varint_nbytes(v)
    starts = np.zeros(v.size, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    out = np.zeros(int(starts[-1] + nbytes[-1]), dtype=np.uint8)
    for j in range(10):
        sel = nbytes > j
        if not sel.any():
            break
        byte = (v[sel] >> np.uint64(7 * j)).astype(np.uint64) & np.uint64(0x7F)
        cont = (nbytes[sel] > j + 1).astype(np.uint8) << 7
        out[starts[sel] + j] = byte.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(payload: bytes) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array, fully vectorized."""
    b = np.frombuffer(payload, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = (b & 0x80) == 0
    n = int(ends.sum())
    value_id = np.zeros(b.size, dtype=np.int64)
    value_id[1:] = np.cumsum(ends)[:-1]
    first_byte_pos = np.zeros(n, dtype=np.int64)
    end_positions = np.flatnonzero(ends)
    first_byte_pos[1:] = end_positions[:-1] + 1
    pos = np.arange(b.size, dtype=np.int64) - first_byte_pos[value_id]
    result = np.zeros(n, dtype=np.uint64)
    for j in range(10):
        sel = pos == j
        if not sel.any():
            break
        result[value_id[sel]] |= (b[sel] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * j)
    return result


# --- block payload format: FOR bit-packing with varint fallback -------------
#
# docs/tfs payloads are self-describing: first byte is the format marker.
#   0x00 → LEB128 varint stream (legacy / fallback for >53-bit values)
#   0x01 → frame-of-reference bit-packing, Lucene ForUtil analogue:
#          [n: 2B LE][b: 1B][packed: ceil(n*b/8) bytes, little bit order]
#          b = max bit width in the block. Within a docID-sorted block,
#          deltas are homogeneous, so plain FOR ≈ NewPFD there without
#          exception machinery; unit-tf blocks (tf-1 == 0 everywhere)
#          collapse to b=0 — a 4-byte payload. This is the
#          "varint/PForDelta" upgrade of SURVEY §7 step 4.
# Positional payloads use the SAME marker format; skyline payloads
# remain plain varint (tiny Pareto sets, no marker).

_FMT_VARINT = 0
_FMT_FOR = 1
_FOR_MAX_BITS = 53  # beyond this, float-log width math is unsafe → varint


def _bit_widths(v: np.ndarray) -> np.ndarray:
    """Bit width per uint64 value (0 for 0). Float log2 is exact enough
    here only because widths > _FOR_MAX_BITS are routed to varint."""
    v = np.asarray(v, dtype=np.uint64)
    w = np.zeros(v.shape, dtype=np.int64)
    nz = v > 0
    w[nz] = np.floor(np.log2(v[nz].astype(np.float64))).astype(np.int64) + 1
    return w


def payload_decode(payload: bytes) -> np.ndarray:
    """Decode a marker-dispatched docs/tfs payload → uint64 array."""
    if len(payload) == 0:
        return np.empty(0, dtype=np.uint64)
    marker = payload[0]
    if marker == _FMT_VARINT:
        return varint_decode(payload[1:])
    if marker != _FMT_FOR:
        raise ValueError(f"unknown payload format {marker}")
    n = int.from_bytes(payload[1:3], "little")
    b = payload[3]
    if b == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(
        np.frombuffer(payload, dtype=np.uint8, offset=4), bitorder="little"
    )[: n * b].reshape(n, b)
    # bits → bytes → uint64 via packbits view (numpy's uint64 broadcast
    # shifts are ~100× slower than these C paths)
    full = np.zeros((n, 64), dtype=np.uint8)
    full[:, :b] = bits
    return np.packbits(full, axis=1, bitorder="little").view("<u8").ravel()


def _scatter_index(offsets: np.ndarray, idxs: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Flat target indices for writing payloads ``idxs`` (in order) into an
    output laid out by ``offsets`` — the gather/scatter companion of
    decode_payloads_flat."""
    c = counts[idxs]
    total = int(c.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    local = np.zeros(idxs.size, dtype=np.int64)
    np.cumsum(c[:-1], out=local[1:])
    return np.repeat(offsets[idxs] - local, c) + np.arange(total, dtype=np.int64)


def decode_payloads_flat(payloads) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY marker-dispatched payloads in ONE vectorized pass.

    The decode mirror of :func:`pack_payloads`: varint payloads
    concatenate into a single :func:`varint_decode` call (LEB128 values
    are self-delimiting, so stream concatenation is safe); FOR payloads
    group by bit width and unpack as padded (k, n_max, b) tensors. The
    only per-payload Python is header/byte-slice bookkeeping (O(1) each,
    C memcpy bodies) — no per-value or per-block decode loops. This is
    what removes the per-block ``iterrows()`` from the merge / delete /
    phrase / compact kernels (VERDICT r02 #3).

    Returns ``(values uint64 flat in payload order, offsets int64 len+1)``.
    """
    k = len(payloads)
    offsets = np.zeros(k + 1, dtype=np.int64)
    if k == 0:
        return np.empty(0, dtype=np.uint64), offsets
    pls = [bytes(p) if p else b"" for p in payloads]
    markers = np.fromiter(
        (p[0] if p else 0xFF for p in pls), dtype=np.uint8, count=k
    )  # 0xFF = empty payload sentinel (decodes to zero values)
    is_v = markers == _FMT_VARINT
    is_f = markers == _FMT_FOR
    bad = ~(is_v | is_f | (markers == 0xFF))
    if bad.any():
        raise ValueError(f"unknown payload format {int(markers[bad][0])}")
    counts = np.zeros(k, dtype=np.int64)

    f_idx = np.flatnonzero(is_f)
    ns = np.fromiter(
        (int.from_bytes(pls[i][1:3], "little") for i in f_idx.tolist()),
        dtype=np.int64, count=f_idx.size,
    )
    bs = np.fromiter((pls[i][3] for i in f_idx.tolist()), dtype=np.int64, count=f_idx.size)
    counts[f_idx] = ns

    v_idx = np.flatnonzero(is_v)
    vvals = None
    if v_idx.size:
        bodies = [pls[i][1:] for i in v_idx.tolist()]
        buf = np.frombuffer(b"".join(bodies), dtype=np.uint8)
        boff = np.zeros(v_idx.size + 1, dtype=np.int64)
        np.cumsum(
            np.fromiter((len(x) for x in bodies), dtype=np.int64, count=len(bodies)),
            out=boff[1:],
        )
        cum = np.zeros(buf.size + 1, dtype=np.int64)
        np.cumsum((buf & 0x80) == 0, out=cum[1:])
        counts[v_idx] = cum[boff[1:]] - cum[boff[:-1]]
        vvals = varint_decode(buf.tobytes())

    np.cumsum(counts, out=offsets[1:])
    out = np.zeros(int(offsets[-1]), dtype=np.uint64)
    if vvals is not None:
        out[_scatter_index(offsets, v_idx, counts)] = vvals
    for b in np.unique(bs).tolist():
        if b == 0:
            continue  # b=0 blocks are all-zero; `out` is pre-zeroed
        sel = bs == b
        idxs = f_idx[sel]
        ns_g = ns[sel]
        n_max = int(ns_g.max())
        if n_max == 0:
            continue
        maxbytes = int((ns_g.max() * b + 7) // 8)
        mat = np.zeros((idxs.size, maxbytes), dtype=np.uint8)
        for r, i in enumerate(idxs.tolist()):
            body = pls[i][4:]
            mat[r, : len(body)] = np.frombuffer(body, dtype=np.uint8)
        bits = np.unpackbits(mat, axis=1, bitorder="little")[
            :, : n_max * b
        ].reshape(idxs.size, n_max, b)
        full = np.zeros((idxs.size, n_max, 64), dtype=np.uint8)
        full[:, :, :b] = bits
        vals = (
            np.packbits(full.reshape(-1, 64), axis=1, bitorder="little")
            .view("<u8")
            .reshape(idxs.size, n_max)
        )
        valid = np.arange(n_max)[None, :] < ns_g[:, None]
        out[_scatter_index(offsets, idxs, counts)] = vals[valid]
    return out, offsets


def decode_doc_ids_flat_batch(
    min_docs: np.ndarray, docs_payloads
) -> tuple[np.ndarray, np.ndarray]:
    """The doc-id half of :func:`decode_blocks_flat_batch`: ``(doc_ids
    int64 flat, offsets len+1)``, for callers that need no tfs."""
    deltas, off = decode_payloads_flat(docs_payloads)
    deltas = deltas.astype(np.int64)
    if deltas.size == 0:
        return deltas, off
    counts = np.diff(off)
    cs = np.cumsum(deltas)
    safe_starts = np.minimum(off[:-1], cs.size - 1)
    min_docs = np.asarray(min_docs, dtype=np.int64)
    return cs - np.repeat(cs[safe_starts], counts) + np.repeat(min_docs, counts), off


def decode_blocks_flat_batch(
    min_docs: np.ndarray,
    docs_payloads,
    tfs_payloads,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY blocks' (docs, tfs) in one vectorized pass.

    Returns ``(doc_ids int64 flat, tfs int64 flat, offsets len+1)`` —
    block i's postings are the slice ``[offsets[i], offsets[i+1])``.
    Byte-identical to per-block :func:`decode_block` calls.
    """
    doc_ids, off = decode_doc_ids_flat_batch(min_docs, docs_payloads)
    if doc_ids.size == 0:
        return doc_ids, doc_ids.copy(), off
    tfs_raw, toff = decode_payloads_flat(tfs_payloads)
    if not np.array_equal(toff, off):
        raise ValueError("docs/tfs payload counts disagree within a block batch")
    return doc_ids, tfs_raw.astype(np.int64) + 1, off


def decode_positions_flat_batch(
    pos_payloads, tfs_flat: np.ndarray
) -> np.ndarray:
    """Decode MANY blocks' positional payloads in one vectorized pass.

    ``tfs_flat`` is the batch's decoded tfs (decode_blocks_flat_batch
    order); returns flat positions aligned token-for-token with the
    postings (posting j's positions = the next tfs_flat[j] entries).
    Every posting run starts with an absolute position (block boundaries
    included), so one global segmented cumsum reconstructs all blocks.
    """
    deltas, _ = decode_payloads_flat(pos_payloads)
    deltas = deltas.astype(np.int64)
    tfs_flat = np.asarray(tfs_flat, dtype=np.int64)
    if deltas.size == 0:
        return deltas
    if int(tfs_flat.sum()) != deltas.size:
        raise ValueError("positional payload length disagrees with tfs")
    run_starts = np.zeros(tfs_flat.size, dtype=np.int64)
    np.cumsum(tfs_flat[:-1], out=run_starts[1:])
    cs = np.cumsum(deltas)
    return cs - np.repeat(cs[run_starts], tfs_flat) + np.repeat(
        deltas[run_starts], tfs_flat
    )


def pack_payloads(
    values: np.ndarray,
    block_starts: np.ndarray,
    block_ends: np.ndarray,
) -> list[bytes]:
    """Encode many blocks' values (uint64) → marker-dispatched payloads.

    Vectorized ACROSS blocks: blocks are grouped by their max bit width
    and each group bit-packs as one (k, n_max, b) tensor + one packbits
    call — no per-block Python beyond the final byte slicing.
    """
    nb = block_starts.size
    out: list[bytes | None] = [None] * nb
    if nb == 0:
        return []
    values = np.asarray(values, dtype=np.uint64)
    widths = _bit_widths(values)
    sizes = (block_ends - block_starts).astype(np.int64)
    bmax = np.maximum.reduceat(widths, block_starts)
    # varint route: any huge value (> 53 bits), a block whose value count
    # overflows the 2-byte n header (positional blocks can exceed 65535
    # tokens when one doc repeats a term heavily), or a SMALL block —
    # below ~16 values FOR's 4-byte header erases its win, and the long
    # tail of df≪128 single-block terms is the bulk of all blocks, so
    # they ride ONE global varint pass with per-block byte slicing
    # (the cheap path; bit-packing pays off on the big dense blocks)
    fallback = (bmax > _FOR_MAX_BITS) | (sizes > 0xFFFF) | (sizes < 16)
    if fallback.any():
        vbytes = varint_encode(values)  # one global pass
        voff = np.zeros(values.size + 1, dtype=np.int64)
        np.cumsum(varint_nbytes(values), out=voff[1:])
        hdr = bytes([_FMT_VARINT])
        fb_idx = np.flatnonzero(fallback)
        # .tolist() once: python-int loop bodies, no numpy-scalar overhead
        for i, s_, e_ in zip(
            fb_idx.tolist(),
            voff[block_starts[fb_idx]].tolist(),
            voff[block_ends[fb_idx]].tolist(),
        ):
            out[i] = hdr + vbytes[s_:e_]
    # group by (bit width, power-of-2 size class): padding to the GROUP
    # max size alone explodes memory when block sizes are heterogeneous
    # (most terms have df ≪ 128 → single tiny blocks); size classes cap
    # padding waste at 2×
    size_class = np.zeros(nb, dtype=np.int64)
    live = ~fallback
    size_class[live] = 1 << np.ceil(
        np.log2(np.maximum(sizes[live], 1))
    ).astype(np.int64)
    group_key = bmax * (1 << 20) + size_class  # (b, class) composite
    for gk in np.unique(group_key[live]):
        blocks = np.flatnonzero(live & (group_key == gk))
        b = int(bmax[blocks[0]])
        n_max = int(sizes[blocks].max())
        if b == 0:
            for i, n in zip(blocks.tolist(), sizes[blocks].tolist()):
                out[i] = bytes([_FMT_FOR]) + n.to_bytes(2, "little") + b"\x00"
            continue
        # gather into (k, n_max) padded matrix
        col = np.arange(n_max)[None, :]
        idx = np.minimum(block_starts[blocks][:, None] + col, values.size - 1)
        vals = np.where(col < sizes[blocks][:, None], values[idx], 0)
        # bit extraction via little-endian byte views + unpackbits — all
        # C paths (numpy uint64 broadcast shifts are ~100× slower)
        k = len(blocks)
        nbv = (b + 7) // 8
        byte_view = np.ascontiguousarray(
            vals.astype("<u8").view(np.uint8).reshape(k, n_max, 8)[:, :, :nbv]
        )
        allbits = np.unpackbits(
            byte_view.reshape(k, n_max * nbv), axis=1, bitorder="little"
        ).reshape(k, n_max, nbv * 8)[:, :, :b]
        packed = np.packbits(
            np.ascontiguousarray(allbits).reshape(k, n_max * b),
            axis=1,
            bitorder="little",
        )
        hdr_fmt = bytes([_FMT_FOR])
        b_byte = bytes([b])
        pk = packed.tobytes()
        row_len = packed.shape[1]
        for row, (i, n) in enumerate(zip(blocks.tolist(), sizes[blocks].tolist())):
            nbytes = (n * b + 7) // 8
            off = row * row_len
            out[i] = (
                hdr_fmt + n.to_bytes(2, "little") + b_byte + pk[off : off + nbytes]
            )
    return out  # type: ignore[return-value]


@dataclass
class Block:
    min_doc: int
    max_doc: int
    n: int
    max_tf: int   # max term frequency in the block
    min_dl: int   # min doc length among the block's postings
    docs_payload: bytes
    tfs_payload: bytes
    sky_tfs_payload: bytes = b""  # varint (tf desc) of the (tf, dl) skyline
    sky_dls_payload: bytes = b""  # varint (dl asc), aligned with sky_tfs
    # positional payload (Lucene .prx analogue): per posting, its tf
    # positions delta-encoded (first absolute, then gaps), concatenated in
    # posting order; posting boundaries recovered from the decoded tfs.
    pos_payload: bytes = b""


def tf_norm(tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float = 1.2, b: float = 0.75) -> np.ndarray:
    """Lucene BM25 term-frequency normalization (vectorized, float64)."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> list[Block]:
    """Encode one term's docID-sorted postings into compressed blocks.

    ``dls`` are the document lengths aligned with doc_ids (needed only for
    the per-block min_dl impact metadata; they are not stored per posting).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    assert doc_ids.size == tfs.size
    if doc_ids.size == 0:
        return []
    if not np.all(doc_ids[1:] > doc_ids[:-1]):
        raise ValueError("doc_ids must be strictly increasing")
    dls = np.asarray(dls, dtype=np.int64)
    blocks: list[Block] = []
    for start in range(0, doc_ids.size, block_size):
        d = doc_ids[start : start + block_size]
        t = tfs[start : start + block_size]
        l = dls[start : start + block_size]
        deltas = np.empty(d.size, dtype=np.uint64)
        deltas[0] = 0  # first doc stored as min_doc
        deltas[1:] = np.diff(d).astype(np.uint64)
        st, sd = _block_skyline(t, l)
        one = np.asarray([0], dtype=np.int64)
        blocks.append(
            Block(
                min_doc=int(d[0]),
                max_doc=int(d[-1]),
                n=int(d.size),
                max_tf=int(t.max()),
                min_dl=int(l.min()),
                docs_payload=pack_payloads(deltas, one, one + d.size)[0],
                tfs_payload=pack_payloads((t - 1).astype(np.uint64), one, one + d.size)[0],
                sky_tfs_payload=varint_encode(st.astype(np.uint64)),
                sky_dls_payload=varint_encode(sd.astype(np.uint64)),
            )
        )
    return blocks


def skyline_payloads_flat(
    tfs: np.ndarray,
    dls: np.ndarray,
    block_starts: np.ndarray,
    block_ends: np.ndarray,
) -> tuple[list[bytes], list[bytes]]:
    """Per-block skyline payloads for MANY blocks in one vectorized pass.

    Byte-identical to calling ``varint_encode(_block_skyline(...))`` per
    block, but the sort + Pareto scan run as padded (n_blocks × B)
    matrix ops (row-wise lexsort, one axis-1 cummin) and the varint
    encode is ONE global pass sliced by offsets — eliminating the
    per-block Python loop that dominated index-build profiles.
    """
    nb = block_starts.size
    if nb == 0:
        return [], []
    sizes = block_ends - block_starts
    width = int(sizes.max())
    col = np.arange(width)[None, :]
    valid = col < sizes[:, None]
    idx = np.minimum(block_starts[:, None] + col, tfs.size - 1)
    t2 = np.where(valid, tfs[idx], -1)  # padding sorts after all real tfs
    d2 = np.where(valid, dls[idx], np.iinfo(np.int64).max)
    order = np.lexsort((d2, -t2))  # row-wise: tf desc, dl asc
    rows = np.arange(nb)[:, None]
    ts, ds, vs = t2[rows, order], d2[rows, order], valid[rows, order]
    cm = np.minimum.accumulate(ds, axis=1)
    keep = np.empty_like(vs)
    keep[:, 0] = True
    keep[:, 1:] = ds[:, 1:] < cm[:, :-1]
    keep &= vs
    flat_t = ts[keep].astype(np.uint64)  # row-major flatten = per-block runs
    flat_d = ds[keep].astype(np.uint64)
    counts = keep.sum(axis=1)
    run_off = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(counts, out=run_off[1:])
    t_bytes, d_bytes = varint_encode(flat_t), varint_encode(flat_d)
    t_off = np.zeros(flat_t.size + 1, dtype=np.int64)
    np.cumsum(varint_nbytes(flat_t), out=t_off[1:])
    d_off = np.zeros(flat_d.size + 1, dtype=np.int64)
    np.cumsum(varint_nbytes(flat_d), out=d_off[1:])
    sky_t = [t_bytes[t_off[run_off[i]] : t_off[run_off[i + 1]]] for i in range(nb)]
    sky_d = [d_bytes[d_off[run_off[i]] : d_off[run_off[i + 1]]] for i in range(nb)]
    return sky_t, sky_d


def _block_skyline(tfs: np.ndarray, dls: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Pareto frontier of (tf, dl) within one block: for every posting
    there is a skyline pair with tf_sky ≥ tf and dl_sky ≤ dl, so
    max over skyline of tf_norm(tf_sky, dl_sky, avgdl) dominates every
    posting's tf_norm for ANY avgdl (tight, append-stable bound)."""
    order = np.lexsort((dls, -tfs))  # tf desc, dl asc
    t, d = tfs[order], dls[order]
    cummin = np.minimum.accumulate(d)
    keep = np.empty(d.size, dtype=bool)
    keep[0] = True
    keep[1:] = d[1:] < cummin[:-1]
    return t[keep], d[keep]


def encode_blocks_flat(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    seg_starts: np.ndarray,
    block_size: int = BLOCK_SIZE,
    positions: np.ndarray | None = None,
) -> dict:
    """Encode MANY terms' postings in one vectorized pass → flat block rows.

    Inputs are the concatenation of all terms' docID-sorted postings;
    ``seg_starts`` (len = n_terms + 1) delimits each term's segment.
    Equivalent to :func:`encode_postings` per term but with two varint
    passes total instead of two per term — the index-build hot path
    (build.py) at 64k terms/shard is ~10× faster this way.

    ``positions`` (optional, token-level, ``sum(tfs)`` entries): the
    ascending in-document token positions of each posting's occurrences,
    concatenated in posting order. Encoded per block as delta+varint with
    an absolute reset at every posting boundary (Lucene .prx layout) —
    one extra global varint pass, same vectorization.

    Returns columnar arrays: term_idx, block_id, min_doc, max_doc, n,
    max_tf, min_dl (all numpy) and docs/tfs/pos payloads (lists of bytes).
    """
    n = doc_ids.size
    if n == 0:
        return {
            "term_idx": np.empty(0, dtype=np.int64),
            "block_id": np.empty(0, dtype=np.int32),
            "min_doc": np.empty(0, dtype=np.int64),
            "max_doc": np.empty(0, dtype=np.int64),
            "n": np.empty(0, dtype=np.int32),
            "max_tf": np.empty(0, dtype=np.int64),
            "min_dl": np.empty(0, dtype=np.int64),
            "docs_payload": [],
            "tfs_payload": [],
            "sky_tfs_payload": [],
            "sky_dls_payload": [],
            "pos_payload": [],
        }
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)

    # global block segmentation: per-posting block index within its term
    pos_in_term = np.arange(n, dtype=np.int64) - np.repeat(
        seg_starts[:-1], np.diff(seg_starts)
    )
    is_block_start = (pos_in_term % block_size) == 0
    block_starts = np.flatnonzero(is_block_start)
    block_ends = np.empty_like(block_starts)
    block_ends[:-1] = block_starts[1:]
    block_ends[-1] = n
    blocks_per_term = np.ceil(np.diff(seg_starts) / block_size).astype(np.int64)
    block_term = np.repeat(np.arange(seg_starts.size - 1), blocks_per_term)
    block_id = (pos_in_term[block_starts] // block_size).astype(np.int32)

    # deltas: doc - prev_doc, zeroed at block starts (first doc == min_doc)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = 0
    deltas[1:] = (doc_ids[1:] - doc_ids[:-1]).astype(np.uint64)
    deltas[block_starts] = 0

    # FOR bit-packing, vectorized across blocks (marker-dispatched format)
    docs_payloads = pack_payloads(deltas, block_starts, block_ends)
    tfs_payloads = pack_payloads((tfs - 1).astype(np.uint64), block_starts, block_ends)

    # per-block impact metadata: max tf / min dl plus the (tf, dl)
    # skyline — the tight query-time bound (see _block_skyline); computed
    # for all blocks in one vectorized pass (skyline_payloads_flat)
    dls = np.asarray(dls, dtype=np.int64)
    max_tf = np.maximum.reduceat(tfs, block_starts)
    min_dl = np.minimum.reduceat(dls, block_starts)
    sky_t_payloads, sky_d_payloads = skyline_payloads_flat(
        tfs, dls, block_starts, block_ends
    )

    # positional payload: delta within a posting's occurrence run,
    # absolute at run starts; one global varint pass, block slices via
    # token-level byte offsets
    if positions is not None:
        positions = np.asarray(positions, dtype=np.int64)
        tok_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(tfs, out=tok_off[1:])
        assert positions.size == tok_off[-1], "positions must have sum(tfs) entries"
        pos_delta = np.empty(positions.size, dtype=np.uint64)
        if positions.size:
            pos_delta[0] = positions[0]
            pos_delta[1:] = (positions[1:] - positions[:-1]).astype(np.uint64)
            pos_delta[tok_off[:-1]] = positions[tok_off[:-1]].astype(np.uint64)
        # token-range boundaries per block, FOR-packed like docs/tfs
        pos_payloads = pack_payloads(
            pos_delta, tok_off[block_starts], tok_off[block_ends]
        )
    else:
        pos_payloads = [b""] * block_starts.size

    return {
        "term_idx": block_term,
        "block_id": block_id,
        "min_doc": doc_ids[block_starts],
        "max_doc": doc_ids[block_ends - 1],
        "n": (block_ends - block_starts).astype(np.int32),
        "max_tf": max_tf.astype(np.int64),
        "min_dl": min_dl,
        "docs_payload": docs_payloads,
        "tfs_payload": tfs_payloads,
        "sky_tfs_payload": sky_t_payloads,
        "sky_dls_payload": sky_d_payloads,
        "pos_payload": pos_payloads,
    }


def decode_block_positions(block: Block | dict, tfs: np.ndarray) -> np.ndarray:
    """Decode a block's positional payload → flat int64 positions.

    ``tfs`` are the block's decoded term frequencies (decode_block);
    posting j's positions are the slice ``[cum_tf[j], cum_tf[j+1])``.
    """
    payload = bytes(
        block.pos_payload if isinstance(block, Block) else (block.get("pos_payload") or b"")
    )
    deltas = payload_decode(payload).astype(np.int64)
    if deltas.size == 0:
        return deltas
    tfs = np.asarray(tfs, dtype=np.int64)
    starts = np.zeros(tfs.size, dtype=np.int64)
    np.cumsum(tfs[:-1], out=starts[1:])
    # cumsum with an absolute reset at each run start:
    # pos[i] = deltas[start_of_run] + (cs[i] - cs[start_of_run])
    cs = np.cumsum(deltas)
    return cs - np.repeat(cs[starts], tfs) + np.repeat(deltas[starts], tfs)


def decode_block(block: Block | dict) -> tuple[np.ndarray, np.ndarray]:
    """Decode one block → (doc_ids int64, tfs int64). Accepts Row/dict too."""
    if not isinstance(block, Block):
        block = Block(
            min_doc=block["min_doc"],
            max_doc=block["max_doc"],
            n=block["n"],
            max_tf=int(block["max_tf"]),
            min_dl=int(block["min_dl"]),
            docs_payload=bytes(block["docs_payload"]),
            tfs_payload=bytes(block["tfs_payload"]),
        )
    deltas = payload_decode(block.docs_payload).astype(np.int64)
    doc_ids = np.cumsum(deltas) + block.min_doc
    tfs = payload_decode(block.tfs_payload).astype(np.int64) + 1
    return doc_ids, tfs


def decode_postings(blocks) -> tuple[np.ndarray, np.ndarray]:
    """Decode a block list → full (doc_ids, tfs)."""
    if not blocks:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    parts = [decode_block(b) for b in blocks]
    return (
        np.concatenate([p[0] for p in parts]),
        np.concatenate([p[1] for p in parts]),
    )
