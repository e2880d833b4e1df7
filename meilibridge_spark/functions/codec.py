"""Delta-gap + varint block codec for posting lists (SURVEY.md §2C).

Vectorized numpy implementation — runs inside grouped-map pandas UDFs
(posting build) and mapInPandas (query decode); no per-row Python.

Layout per posting block (<= block_size entries, docIDs strictly
increasing):
  first_doc  int64   absolute docID of first entry
  docs_bin   bytes   varint(doc_id[i] - doc_id[i-1]) for i >= 1 (n-1 gaps)
  tfs_bin    bytes   varint(tf[i]) for all i
  dls_bin    bytes   varint(dl[i]) for all i  (doc length inline: makes
                     scoring join-free and keeps block-max bounds valid
                     under incremental avgdl drift)
  max_tf / min_dl    block-max metadata: upper-bounds the BM25 impact
                     tf/(tf + k1*(1-b+b*dl/avgdl)) for any avgdl, used by
                     block-max WAND pruning.
"""

from __future__ import annotations

import numpy as np

_THRESHOLDS = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)


def encode_varints(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints, vectorized."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b""
    if v.size and values.min() < 0:  # pragma: no cover - guarded upstream
        raise ValueError("varint values must be non-negative")
    # bytes needed per value: 1 + count of thresholds <= v
    nbytes = 1 + (v[:, None] >= _THRESHOLDS[None, :]).sum(axis=1)
    out = np.empty((n, 10), dtype=np.uint8)
    tmp = v.copy()
    for i in range(10):
        out[:, i] = (tmp & np.uint64(0x7F)).astype(np.uint8) | 0x80
        tmp >>= np.uint64(7)
    out[np.arange(n), nbytes - 1] &= 0x7F  # clear continuation on last byte
    mask = np.arange(10)[None, :] < nbytes[:, None]
    return out[mask].tobytes()


def _leb128(b: np.ndarray) -> np.ndarray:
    """LEB128 values of a uint8 buffer -> uint64 array: the codec's one
    varint decoder. A value ends at each byte without the continuation
    bit; byte i of a value holds bits 7i..7i+6, so after the first byte
    only the still-open (multi-byte) values are touched."""
    ends = np.flatnonzero(b < 0x80)
    if not ends.size:
        return np.empty(0, dtype=np.uint64)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    vals = (b[starts] & 0x7F).astype(np.uint64)
    open_ = np.flatnonzero(ends > starts)
    for i in range(1, 10):
        if not open_.size:
            break
        pos = starts[open_] + i
        vals[open_] |= (b[pos] & 0x7F).astype(np.uint64) << np.uint64(7 * i)
        open_ = open_[ends[open_] > pos]
    return vals


def decode_varints(buf: bytes) -> np.ndarray:
    """Inverse of encode_varints -> uint64 array."""
    return _leb128(np.frombuffer(buf, dtype=np.uint8))


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int,
    shard_range: "int | None" = None,
) -> "list[dict]":
    """Split a docID-sorted posting run into compressed blocks.

    With ``shard_range`` set, block segmentation restarts at every
    doc_id multiple of shard_range and block_id = shard_index *
    (shard_range // block_size) + local index. This makes the block
    layout a CANONICAL function of posting content alone — independent
    of whether a term was encoded in one task or one task per shard —
    so the parallel sharded build, a fresh rebuild, and the incremental
    merger all produce byte-identical rows (SURVEY §7 hard part (d)).

    Returns a list of dicts matching the postings table schema fields
    (block_id, n, first_doc, last_doc, max_tf, min_dl, sum_tf,
    docs_bin, tfs_bin, dls_bin).
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    n = doc_ids.size
    if n and not (np.diff(doc_ids) > 0).all():
        raise ValueError("doc_ids must be strictly increasing")
    blocks: list[dict] = []
    if n == 0:
        return blocks

    def _emit(lo: int, hi: int, id_base: int) -> None:
        for local, s in enumerate(range(lo, hi, block_size)):
            e = min(s + block_size, hi)
            d = doc_ids[s:e]
            gaps = np.diff(d).astype(np.uint64)
            blocks.append(
                {
                    "block_id": id_base + local,
                    "n": int(e - s),
                    "first_doc": int(d[0]),
                    "last_doc": int(d[-1]),
                    "max_tf": int(tfs[s:e].max()),
                    "min_dl": int(dls[s:e].min()),
                    "sum_tf": int(tfs[s:e].sum()),
                    "docs_bin": encode_varints(gaps),
                    "tfs_bin": encode_varints(tfs[s:e]),
                    "dls_bin": encode_varints(dls[s:e]),
                }
            )

    if shard_range is None:
        _emit(0, n, 0)
        return blocks
    per_shard = -(-shard_range // block_size)  # blocks per full shard
    shards = doc_ids // shard_range
    starts = np.unique(shards, return_index=True)[1]
    bounds = np.append(starts, n)
    for i in range(starts.size):
        lo = int(bounds[i])
        _emit(lo, int(bounds[i + 1]), int(shards[lo]) * per_shard)
    return blocks


def decode_blocks(
    first_docs, docs_bins, tfs_bins, dls_bins
) -> "tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]":
    """Decode many blocks in one pass -> (doc_ids int64, tfs int64,
    dls int64, n_per_block int64), the blocks' entries concatenated in
    input order (equal to concatenating each block's decode_block).

    Varints are self-delimiting, so each field's buffers are joined and
    decoded by ONE LEB128 pass; a block's entry count is the number of
    values ending inside its tfs_bin. doc_ids are one cumsum over
    [first_doc, gaps...] per block, re-based at every block start (exact
    int64 arithmetic: equal to the per-block first_doc + cumsum(gaps)).
    One call per shard or fetch instead of three per block: in the
    scorers the per-call cost, not the bytes, dominated decode."""
    first = np.asarray(first_docs, dtype=np.int64)
    nb = first.size
    tb = np.frombuffer(b"".join(tfs_bins), dtype=np.uint8)
    tfs = _leb128(tb).astype(np.int64)
    dls = _leb128(np.frombuffer(b"".join(dls_bins), dtype=np.uint8)).astype(
        np.int64
    )
    gaps = _leb128(np.frombuffer(b"".join(docs_bins), dtype=np.uint8))
    # values ending inside each block's tfs bytes
    closed = np.zeros(tb.size + 1, dtype=np.int64)
    np.cumsum(tb < 0x80, out=closed[1:])
    byte_off = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(
        np.fromiter(map(len, tfs_bins), dtype=np.int64, count=nb),
        out=byte_off[1:],
    )
    n_per_block = np.diff(closed[byte_off])
    total = tfs.size
    if (
        (nb and n_per_block.min() < 1)
        or dls.size != total
        or gaps.size != total - nb
    ):
        raise ValueError("malformed posting blocks: field lengths disagree")
    starts = np.cumsum(n_per_block) - n_per_block
    x = np.empty(total, dtype=np.int64)
    is_start = np.zeros(total, dtype=bool)
    is_start[starts] = True
    x[starts] = first
    x[~is_start] = gaps.astype(np.int64)
    run = np.cumsum(x)
    doc_ids = run - np.repeat(run[starts] - first, n_per_block)
    return doc_ids, tfs, dls, n_per_block


def decode_block(
    first_doc: int, docs_bin: bytes, tfs_bin: bytes, dls_bin: bytes
) -> "tuple[np.ndarray, np.ndarray, np.ndarray]":
    """-> (doc_ids int64, tfs int64, dls int64) for one block."""
    return decode_blocks([first_doc], [docs_bin], [tfs_bin], [dls_bin])[:3]
