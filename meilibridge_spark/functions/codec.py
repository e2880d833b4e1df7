"""Delta-gap + varint block codec for posting lists (SURVEY.md §2C).

Vectorized numpy implementation, batched on both sides: the posting
build encodes a whole Arrow batch of posting runs per encode_blocks_many
call, and the query scorers decode a shard's or a fetch's blocks per
decode_blocks call; no per-entry Python loop.

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


def _leb128_encode(values: np.ndarray) -> "tuple[np.ndarray, np.ndarray]":
    """LEB128 bytes of an array of non-negative ints, vectorized ->
    (uint8 buffer, bytes per value): the codec's one varint encoder."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    if values.min() < 0:  # pragma: no cover - guarded upstream
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
    return out[mask], nbytes


def encode_varints(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints, vectorized."""
    return _leb128_encode(values)[0].tobytes()


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


#: encode_blocks_many's per-block output columns, in postings-table order
BLOCK_FIELDS = (
    "block_id", "n", "first_doc", "last_doc", "max_tf", "min_dl", "sum_tf",
    "docs_bin", "tfs_bin", "dls_bin",
)


def _split_bytes(buf: np.ndarray, nbytes: np.ndarray, counts: np.ndarray):
    """Cut an encoded varint buffer into consecutive pieces of
    ``counts`` values each -> list of bytes."""
    ends = np.zeros(nbytes.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=ends[1:])
    cut = ends[np.concatenate(([0], np.cumsum(counts)))].tolist()
    raw = buf.tobytes()
    return [raw[lo:hi] for lo, hi in zip(cut[:-1], cut[1:])]


def encode_blocks_many(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    run_id: np.ndarray,
    block_size: int,
    shard_range: "int | None" = None,
) -> "dict[str, np.ndarray | list]":
    """Encode many posting runs into compressed blocks in one pass.

    ``run_id`` names each entry's run (a term's postings); entries may
    arrive in any order and are put in (run, doc_id) order by one
    lexsort. A run holding a doc_id twice raises ValueError. Blocks
    start at every run change, at every doc_id multiple of
    ``shard_range`` and every ``block_size`` entries after either, so
    block_id = shard_index * ceil(shard_range / block_size) + local
    index (plain local index without ``shard_range``). That makes the
    block layout a CANONICAL function of posting content alone —
    independent of whether a term was encoded in one task, one task
    per shard or one Arrow batch with many other terms — so the build,
    a fresh rebuild and the incremental merger all produce
    byte-identical rows (SURVEY §7 hard part (d)).

    ``max_tf`` / ``min_dl`` / ``sum_tf`` are segment reductions, and
    each binary field is ONE varint encode split per block by byte
    offsets: the per-call cost, not the bytes, dominated a per-block
    encoder.

    Returns columns: ``run`` (each block's run_id) plus BLOCK_FIELDS,
    blocks in (run, doc_id) order — ints as int64 arrays, the three
    ``*_bin`` fields as lists of bytes.
    """
    run = np.asarray(run_id)
    order = np.lexsort((doc_ids, run))
    run = run[order]
    d = np.asarray(doc_ids, dtype=np.int64)[order]
    t = np.asarray(tfs, dtype=np.int64)[order]
    l = np.asarray(dls, dtype=np.int64)[order]
    n = d.size
    same_run = run[1:] == run[:-1]
    if (same_run & (d[1:] <= d[:-1])).any():
        raise ValueError("doc_ids must be strictly increasing")
    shard = d // shard_range if shard_range else np.zeros(n, dtype=np.int64)
    seg = np.ones(n, dtype=bool)  # (run, shard) segment starts
    seg[1:] = ~same_run | (shard[1:] != shard[:-1])
    seg_at = np.flatnonzero(seg)
    pos = np.arange(n) - np.repeat(seg_at, np.diff(np.append(seg_at, n)))
    is_start = pos % block_size == 0
    starts = np.flatnonzero(is_start)
    counts = np.diff(np.append(starts, n))
    per_shard = -(-shard_range // block_size) if shard_range else 0
    gaps = (d[1:] - d[:-1])[~is_start[1:]]
    return {
        "run": run[starts],
        "block_id": shard[starts] * per_shard + pos[starts] // block_size,
        "n": counts,
        "first_doc": d[starts],
        "last_doc": d[starts + counts - 1],
        "max_tf": np.maximum.reduceat(t, starts) if n else t,
        "min_dl": np.minimum.reduceat(l, starts) if n else l,
        "sum_tf": np.add.reduceat(t, starts) if n else t,
        "docs_bin": _split_bytes(*_leb128_encode(gaps), counts - 1),
        "tfs_bin": _split_bytes(*_leb128_encode(t), counts),
        "dls_bin": _split_bytes(*_leb128_encode(l), counts),
    }


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int,
    shard_range: "int | None" = None,
) -> "list[dict]":
    """Split one docID-sorted posting run into compressed blocks: the
    one-run case of encode_blocks_many, as a list of dicts with the
    BLOCK_FIELDS keys. Raises ValueError unless doc_ids strictly
    increase."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    if not (np.diff(doc_ids) > 0).all():
        raise ValueError("doc_ids must be strictly increasing")
    cols = encode_blocks_many(
        doc_ids, tfs, dls, np.zeros(doc_ids.size, dtype=np.int64),
        block_size, shard_range,
    )
    fields = [
        v.tolist() if isinstance(v, np.ndarray) else v
        for v in (cols[f] for f in BLOCK_FIELDS)
    ]
    return [dict(zip(BLOCK_FIELDS, blk)) for blk in zip(*fields)]


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
