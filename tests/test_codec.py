"""Varint/delta codec round-trip — property-style over random posting
lists (SURVEY.md §5 item 1)."""

import numpy as np
import pytest

from meilibridge_spark.functions.codec import (
    decode_block,
    decode_blocks,
    decode_varints,
    encode_blocks,
    encode_varints,
)


def test_varint_known_values():
    vals = np.array([0, 1, 127, 128, 300, 16383, 16384, 2**32, 2**63 - 1], dtype=np.uint64)
    buf = encode_varints(vals)
    assert encode_varints(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert encode_varints(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert encode_varints(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    np.testing.assert_array_equal(decode_varints(buf), vals)


def test_varint_empty():
    assert encode_varints(np.array([], dtype=np.uint64)) == b""
    assert decode_varints(b"").size == 0


@pytest.mark.parametrize("seed", range(5))
def test_varint_roundtrip_random(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 5000))
    # mixed magnitudes to exercise all byte widths
    vals = (rng.integers(0, 2**62, size=n).astype(np.uint64)) >> rng.integers(
        0, 60, size=n
    ).astype(np.uint64)
    buf = encode_varints(vals)
    np.testing.assert_array_equal(decode_varints(buf), vals)


@pytest.mark.parametrize("seed,block_size", [(0, 128), (1, 128), (2, 8), (3, 2)])
def test_block_roundtrip_random(seed, block_size):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 2000))
    doc_ids = np.cumsum(rng.integers(1, 1000, size=n)).astype(np.int64)
    tfs = rng.integers(1, 50, size=n).astype(np.int64)
    dls = rng.integers(1, 200, size=n).astype(np.int64)
    blocks = encode_blocks(doc_ids, tfs, dls, block_size)
    assert sum(b["n"] for b in blocks) == n
    got_d, got_t, got_l = [], [], []
    for b in blocks:
        d, t, dl = decode_block(b["first_doc"], b["docs_bin"], b["tfs_bin"], b["dls_bin"])
        assert d.size == b["n"] == t.size == dl.size
        assert d[0] == b["first_doc"] and d[-1] == b["last_doc"]
        assert t.max() == b["max_tf"] and dl.min() == b["min_dl"]
        assert t.sum() == b["sum_tf"]
        got_d.append(d)
        got_t.append(t)
        got_l.append(dl)
    np.testing.assert_array_equal(np.concatenate(got_d), doc_ids)
    np.testing.assert_array_equal(np.concatenate(got_t), tfs)
    np.testing.assert_array_equal(np.concatenate(got_l), dls)


def test_blocks_reject_unsorted():
    with pytest.raises(ValueError):
        encode_blocks(
            np.array([3, 2], dtype=np.int64),
            np.array([1, 1], dtype=np.int64),
            np.array([1, 1], dtype=np.int64),
            128,
        )


def test_encoding_is_content_deterministic():
    # byte-identity under re-encode: the resume test relies on this
    doc_ids = np.array([5, 9, 1000, 100000], dtype=np.int64)
    tfs = np.array([1, 2, 3, 4], dtype=np.int64)
    dls = np.array([10, 20, 30, 40], dtype=np.int64)
    a = encode_blocks(doc_ids, tfs, dls, 2)
    b = encode_blocks(doc_ids.copy(), tfs.copy(), dls.copy(), 2)
    assert a == b


def _leb128_ref(buf: bytes) -> "list[int]":
    """Byte-at-a-time LEB128 reference decoder."""
    out, cur, shift = [], 0, 0
    for byte in buf:
        cur |= (byte & 0x7F) << shift
        shift += 7
        if byte < 0x80:
            out.append(cur)
            cur, shift = 0, 0
    return out


def test_varint_ten_byte_values():
    vals = np.array([2**63, 2**64 - 1, 2**56, 2**63 - 1, 0], dtype=np.uint64)
    buf = encode_varints(vals)
    assert len(buf) == 10 + 10 + 9 + 9 + 1
    np.testing.assert_array_equal(decode_varints(buf), vals)
    assert [int(v) for v in decode_varints(buf)] == _leb128_ref(buf)


def _random_blocks(rng, n_blocks):
    """Hand-built blocks mixing single-entry blocks (empty docs_bin),
    9-byte doc gaps and 9/10-byte tf/dl varints (>= 2**63 wraps to a
    negative int64 in both decoders alike)."""
    firsts, docs, tfs, dls, want = [], [], [], [], []
    doc = int(rng.integers(0, 1000))
    for _ in range(n_blocks):
        wide = rng.random() < 0.3
        n = int(rng.choice([1, 1, 2, 5] if wide else [1, 2, 5, 128]))
        gap_hi = 2**57 if wide else 1000
        gaps = rng.integers(1, gap_hi, size=n - 1).astype(np.uint64)
        tf = rng.integers(0, 2**62, size=n).astype(np.uint64) >> rng.integers(
            0, 62, size=n
        ).astype(np.uint64)
        if wide:
            tf[0] = np.uint64(2**63) + np.uint64(rng.integers(0, 2**62))
        dl = rng.integers(1, 300, size=n).astype(np.uint64)
        if wide:
            dl[-1] = np.uint64(2**64 - 1)
        if doc + int(gaps.sum()) >= 2**62:  # keep doc ids inside int64
            doc = 0
        firsts.append(doc)
        docs.append(encode_varints(gaps))
        tfs.append(encode_varints(tf))
        dls.append(encode_varints(dl))
        ids = doc + np.concatenate(([0], np.cumsum(gaps.astype(np.int64))))
        want.append((ids, tf.astype(np.int64), dl.astype(np.int64), n))
        doc = int(ids[-1]) + 1
    return firsts, docs, tfs, dls, want


@pytest.mark.parametrize("seed", range(6))
def test_decode_blocks_equals_per_block_decode(seed):
    rng = np.random.default_rng(seed)
    firsts, docs, tfs, dls, want = _random_blocks(
        rng, int(rng.integers(1, 60))
    )
    assert any(d == b"" for d in docs)  # single-entry blocks present
    d, t, l, n = decode_blocks(firsts, docs, tfs, dls)
    per = [decode_block(*blk) for blk in zip(firsts, docs, tfs, dls)]
    assert np.array_equal(d, np.concatenate([p[0] for p in per]))
    assert np.array_equal(t, np.concatenate([p[1] for p in per]))
    assert np.array_equal(l, np.concatenate([p[2] for p in per]))
    assert np.array_equal(n, [p[0].size for p in per])
    # and both equal what was encoded
    assert np.array_equal(d, np.concatenate([w[0] for w in want]))
    assert np.array_equal(t, np.concatenate([w[1] for w in want]))
    assert np.array_equal(l, np.concatenate([w[2] for w in want]))
    assert np.array_equal(n, [w[3] for w in want])
    assert d.dtype == t.dtype == l.dtype == n.dtype == np.int64


@pytest.mark.parametrize("seed,block_size", [(0, 128), (1, 1), (2, 7)])
def test_decode_blocks_roundtrip_encoded(seed, block_size):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 3000))
    doc_ids = np.cumsum(rng.integers(1, 5000, size=n)).astype(np.int64)
    tfs = rng.integers(1, 50, size=n).astype(np.int64)
    dls = rng.integers(1, 400, size=n).astype(np.int64)
    blocks = encode_blocks(doc_ids, tfs, dls, block_size, shard_range=4096)
    d, t, l, per = decode_blocks(
        [b["first_doc"] for b in blocks],
        [b["docs_bin"] for b in blocks],
        [b["tfs_bin"] for b in blocks],
        [b["dls_bin"] for b in blocks],
    )
    assert np.array_equal(d, doc_ids)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)
    assert np.array_equal(per, [b["n"] for b in blocks])


def test_decode_blocks_empty_list():
    d, t, l, n = decode_blocks([], [], [], [])
    for a in (d, t, l, n):
        assert a.size == 0 and a.dtype == np.int64


def test_decode_blocks_rejects_mismatched_fields():
    one = encode_varints(np.array([1], dtype=np.uint64))
    two = encode_varints(np.array([1, 2], dtype=np.uint64))
    with pytest.raises(ValueError, match="malformed"):
        decode_blocks([0], [b""], [two], [two])  # 2 entries, no gap
    with pytest.raises(ValueError, match="malformed"):
        decode_blocks([0], [b""], [one], [two])


def test_shard_decoders_match_per_block_reference():
    """The batch scorer's shard decoders (one decode_blocks call per
    shard, then a stable per-term split) equal decoding each block on
    its own, bit for bit — also when the terms' blocks arrive
    interleaved."""
    from collections import namedtuple

    from meilibridge_spark.operators.search import (
        _decode_shard_attr_masks,
        _decode_shard_attrs,
        _decode_shard_terms,
    )

    Row = namedtuple("Row", "term first_doc docs_bin tfs_bin dls_bin")
    rng = np.random.default_rng(5)
    base, width = 8192, 4096
    rows = []
    for term in ("a", "b", "c", "d"):
        n = int(rng.integers(1, 400))
        ids = base + np.sort(rng.choice(width, size=n, replace=False))
        masks = rng.integers(1, 16, size=n)  # attr bitmasks, never 0
        dls = rng.integers(1, 90, size=n)
        for blk in encode_blocks(ids, masks, dls, 16):
            rows.append(Row(term, blk["first_doc"], blk["docs_bin"],
                            blk["tfs_bin"], blk["dls_bin"]))
    rng.shuffle(rows)
    idf = {"a": 0.7, "b": 1.3, "c": 2.9, "d": 0.01}
    mask = rng.random(width) < 0.5
    k1, b, avgdl = 1.2, 0.75, 37.5

    ref_terms, ref_attrs, ref_on, ref_raw = {}, {}, {}, {}
    for r in rows:
        d, t, dl = decode_block(r.first_doc, r.docs_bin, r.tfs_bin, r.dls_bin)
        imp = t * (k1 + 1.0) / (t + k1 * (1.0 - b + b * dl / avgdl))
        imp *= idf[r.term]
        o = d - base
        keep = mask[o]
        ref_terms.setdefault(r.term, []).append((o[keep], imp[keep]))
        ref_raw.setdefault(r.term, []).append((o, t))
        ref_attrs.setdefault(r.term, []).append(
            (o, np.log2(t & -t).astype(np.int32)))
        on = t & 0b0110
        ref_on.setdefault(r.term, []).append(
            (o[on != 0], np.log2(on[on != 0] & -on[on != 0]).astype(np.int32)))

    def same(got, ref, drop_empty=False):
        ref = {
            term: tuple(np.concatenate(col) for col in zip(*parts))
            for term, parts in ref.items()
        }
        if drop_empty:  # attributesToSearchOn: a term left empty drops
            ref = {term: v for term, v in ref.items() if v[0].size}
        assert set(got) == set(ref)
        for term, arrays in ref.items():
            for g, w in zip(got[term], arrays):
                assert g.dtype == w.dtype and np.array_equal(g, w), term

    same(_decode_shard_terms(rows, base, avgdl, k1, b, mask=mask, idf_map=idf),
         ref_terms)
    same(_decode_shard_attrs(rows, base), ref_attrs)
    same(_decode_shard_attrs(rows, base, 0b0110), ref_on, drop_empty=True)
    same(_decode_shard_attr_masks(rows, base), ref_raw)
