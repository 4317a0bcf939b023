"""Posting-list block codec: delta-gap + LEB128 varint, pure numpy.

The reference compresses its bulk payloads with gzip
(out_elasticsearch.rb:1086-1092); the engine's analogue at index level is
this posting-block codec (north_star: "delta-gap + varint (PForDelta-style)
compressed blocks with per-block max-score metadata").

Both encode and decode are vectorized: the only Python-level loops are over
the ≤10 varint byte positions (constant), never over elements. Encode/decode
operate on uint64 numpy arrays and run inside applyInPandas groups, so a
1000-executor build pays C-speed per partition.

Posting rows. Every postings table — the build's phase-1 partials, the
index's posting blocks, a shard kernel's input — is a set of rows, each
holding one run of one term's postings (one posting per (term, doc)),
doc ids strictly increasing within the run:

    n_docs     the row's posting count — it segments every other column
    docs_enc   doc ids: first absolute, then gaps (delta_encode)
    tfs_enc    term frequency per posting (varint)
    dls_enc    doc length per posting (varint) — inline, so scoring needs
               no doc-side table
    pos_enc    positional indexes only: each posting's tf token positions,
               ascending, delta-encoded within the posting (first absolute),
               postings concatenated in doc order
    max_tfn    blocks only: the block's maximum of the BM25 tf-factor
               wand._tfn(tf, dl) — the idf-independent bound block-max
               WAND multiplies by the query-time idf

A partial row is a whole (shard, term, salt) run; an index block row holds
at most the build's ``block_size`` postings and adds ``block_id``,
``first_doc`` and ``last_doc``. ``encode_postings`` is the one writer of
the ``*_enc`` columns — the build's phase-1 partials and phase-2 blocks
(index_build) call it, for tf-only and positional indexes alike — and
``decode_postings`` the one reader: the build's phase 2 decodes its
partials with it, an unwarmed index's shard kernels decode their rows
with it (wand._postings) on every query, and a warmed index decodes
every block with it once, at ``warm()`` (search._ResidentPostings), after
which kernels gather from the decoded columns and decode nothing.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

BLOCK_SIZE = 128  # postings per block (classic block-max granularity)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array. Vectorized: builds the (n, 10) byte
    matrix via shifts, masks continuation bits, flattens valid bytes."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    mat, nbytes = _varint_bytes_matrix(v)
    return mat[np.arange(mat.shape[1])[None, :] < nbytes[:, None]].tobytes()


def varint_decode(buf: bytes | bytearray | memoryview, count: int | None = None) -> np.ndarray:
    """Decode LEB128 buffer back to uint64 array. Vectorized via reduceat
    over value boundaries. A buffer that ends inside a value, or (with
    ``count``) holds any other number of values, is truncated or corrupt:
    ValueError names the expected and decoded counts."""
    b = np.frombuffer(buf, dtype=np.uint8)
    is_last = (b & 0x80) == 0
    ends = np.nonzero(is_last)[0]
    truncated = b.size > 0 and not is_last[-1]
    if truncated or (count is not None and ends.size != count):
        raise ValueError(f"decoded {ends.size} values, expected {count}"
                         + ("; the buffer ends inside a value" if truncated else ""))
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    # index of the value each byte belongs to
    starts = np.concatenate([[0], ends[:-1] + 1])
    val_idx = np.cumsum(np.concatenate([[0], is_last[:-1].astype(np.int64)]))
    pos_in_val = np.arange(b.size) - starts[val_idx]
    contrib = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos_in_val.astype(np.uint64))
    return np.bitwise_or.reduceat(contrib, starts)


def _varint_bytes_matrix(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(byte matrix (n, max_b) with continuation bits set, per-value byte
    counts). Shared by whole-array and segmented encoders."""
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp >>= np.uint64(1)
    nbytes = np.maximum((nbits + 6) // 7, 1)
    max_b = int(nbytes.max())
    out = np.zeros((v.size, max_b), dtype=np.uint8)
    rem = v.copy()
    for i in range(max_b):
        out[:, i] = (rem & np.uint64(0x7F)).astype(np.uint8)
        rem >>= np.uint64(7)
    cols = np.arange(max_b)
    out[cols[None, :] < (nbytes[:, None] - 1)] |= 0x80
    return out, nbytes


def varint_encode_segments(values: np.ndarray, seg_starts: np.ndarray) -> list[bytes]:
    """Encode a concatenation of segments in ONE vectorized pass, returning
    one bytes object per segment. This is what makes per-term posting
    encoding cheap: one numpy pass per applyInPandas group instead of one
    python call per term."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return []
    mat, nbytes = _varint_bytes_matrix(v)
    valid = np.arange(mat.shape[1])[None, :] < nbytes[:, None]
    flat = mat[valid].tobytes()
    ends = np.cumsum(nbytes)
    offsets = np.concatenate([[0], ends])
    seg_bounds = np.append(seg_starts, v.size)
    return [
        flat[offsets[seg_bounds[i]] : offsets[seg_bounds[i + 1]]]
        for i in range(len(seg_starts))
    ]


def delta_gaps_segments(values: np.ndarray, seg_starts: np.ndarray) -> np.ndarray:
    """Per-segment delta gaps (first element of each segment absolute)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    gaps = v.copy()
    gaps[1:] -= v[:-1]
    gaps[seg_starts] = v[seg_starts]
    return gaps


def delta_encode_segments(values: np.ndarray, seg_starts: np.ndarray) -> list[bytes]:
    return varint_encode_segments(delta_gaps_segments(values, seg_starts), seg_starts)


def delta_encode(sorted_ids: np.ndarray) -> bytes:
    """Delta-gap + varint encode a strictly-increasing uint64 id array:
    first value absolute, rest as gaps."""
    ids = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if ids.size == 0:
        return b""
    gaps = np.empty_like(ids)
    gaps[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    return varint_encode(gaps)


def delta_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    gaps = varint_decode(buf, count)
    return np.cumsum(gaps, dtype=np.uint64)


def segmented_cumsum(gaps: np.ndarray, seg_starts: np.ndarray, seg_lens: np.ndarray) -> np.ndarray:
    """Reconstruct absolute ids from per-segment delta gaps in one pass:
    global cumsum minus the carried-over prefix at each segment start."""
    acc = np.cumsum(gaps, dtype=np.uint64)
    carry = acc[seg_starts] - gaps[seg_starts]
    return acc - np.repeat(carry, seg_lens)


def segment_index(seg_starts_src: np.ndarray, seg_lens: np.ndarray) -> np.ndarray:
    """Source positions of variable-length segments (segment k starts at
    seg_starts_src[k] and holds seg_lens[k] values) laid end to end, in
    the given order — fully vectorized (repeat + intra-offset)."""
    seg_lens = np.asarray(seg_lens, dtype=np.int64)
    total = int(seg_lens.sum())
    out_starts = np.cumsum(seg_lens) - seg_lens
    intra = np.arange(total, dtype=np.int64) - np.repeat(out_starts, seg_lens)
    return np.repeat(np.asarray(seg_starts_src, dtype=np.int64), seg_lens) + intra


def gather_segments(values: np.ndarray, seg_starts_src: np.ndarray,
                    seg_lens: np.ndarray) -> np.ndarray:
    """Reorder variable-length segments: emit values of segment k (source
    start seg_starts_src[k], length seg_lens[k]) consecutively, for k in
    the given order."""
    return values[segment_index(seg_starts_src, seg_lens)]


def encode_postings(ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                    seg_starts: np.ndarray, positions: np.ndarray | None = None) -> dict:
    """Encode postings — doc ids increasing within each segment, and with
    ``positions`` each posting's tfs[i] positions, ascending, concatenated
    in posting order — as one row per segment: the ``*_enc`` columns of
    the header's layout, one object array of bytes per column."""
    cols = {
        "docs_enc": delta_encode_segments(ids, seg_starts),
        "tfs_enc": varint_encode_segments(tfs, seg_starts),
        "dls_enc": varint_encode_segments(dls, seg_starts),
    }
    if positions is not None:
        entry_starts = np.cumsum(tfs) - tfs
        cols["pos_enc"] = varint_encode_segments(delta_gaps_segments(positions, entry_starts),
                                                 entry_starts[seg_starts])
    return {c: np.array(v, dtype=object) for c, v in cols.items()}


class Postings(NamedTuple):
    """Decoded posting rows, one entry per posting in row order."""

    ids: np.ndarray  # doc ids, int64
    tfs: np.ndarray  # term frequencies, int64
    dls: np.ndarray  # doc lengths, int64
    n: np.ndarray  # postings per row (n_docs), int64
    positions: np.ndarray | None  # int64, tfs[i] per posting, concatenated


def decode_postings(rows, sel: np.ndarray | None = None,
                    positions: bool = False) -> Postings:
    """Decode posting rows — a pandas frame, or a mapping of the row
    columns to sequences — in one segmented pass per column: the rows'
    buffers are joined, varint-decoded at once, and doc ids (and, with
    ``positions``, token positions) rebuilt from their per-segment gaps.
    ``sel`` picks rows by position, in the given order (numpy columns
    only)."""
    n = np.asarray(rows["n_docs"], dtype=np.int64)
    cols = ("docs_enc", "tfs_enc", "dls_enc") + (("pos_enc",) if positions else ())
    if sel is None:
        bufs = [b"".join(rows[c]) for c in cols]
    else:
        n = n[sel]
        bufs = [b"".join(rows[c][sel]) for c in cols]
    total = int(n.sum())
    gaps = varint_decode(bufs[0], total)
    ids = (segmented_cumsum(gaps, np.cumsum(n) - n, n) if total else gaps).view(np.int64)
    tfs = varint_decode(bufs[1], total).view(np.int64)
    dls = varint_decode(bufs[2], total).view(np.int64)
    pos = None
    if positions:
        pos_gaps = varint_decode(bufs[3], int(tfs.sum()))
        pos = (segmented_cumsum(pos_gaps, np.cumsum(tfs) - tfs, tfs)
               if total else pos_gaps).view(np.int64)
    return Postings(ids, tfs, dls, n, pos)
