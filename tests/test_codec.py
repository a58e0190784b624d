"""Varint/delta codec — roundtrip + golden bytes + property tests."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tlgs_spark.indexer.codec import (
    decode_postings,
    decode_varints,
    encode_postings,
    encode_varints,
)


def test_golden_bytes():
    # LEB128 spec values
    assert encode_varints(np.array([0], dtype=np.uint64)) == b"\x00"
    assert encode_varints(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert encode_varints(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert encode_varints(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert encode_varints(np.array([16384], dtype=np.uint64)) == b"\x80\x80\x01"


def test_empty():
    assert encode_varints(np.zeros(0, dtype=np.uint64)) == b""
    assert decode_varints(b"").size == 0
    d, t = decode_postings(b"")
    assert d.size == 0 and t.size == 0


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=300)
)
@settings(max_examples=50, deadline=None)
def test_varint_roundtrip_property(vals):
    v = np.array(vals, dtype=np.uint64)
    out = decode_varints(encode_varints(v))
    assert out.tolist() == vals


@given(
    st.sets(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=200),
    st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=50, deadline=None)
def test_postings_roundtrip_property(doc_set, base):
    docs = np.array(sorted(doc_set), dtype=np.int64) + base
    tfs = (docs % 97 + 1).astype(np.int64)
    buf = encode_postings(docs, tfs, base=base)
    d, t = decode_postings(buf, base=base)
    assert (d == docs).all()
    assert (t == tfs).all()


def test_delta_compression_wins():
    """Dense sorted ids in a shard must encode far smaller than raw."""
    docs = np.arange(100_000, 200_000, 2, dtype=np.int64)
    tfs = np.ones(docs.size, dtype=np.int64)
    buf = encode_postings(docs, tfs, base=100_000)
    assert len(buf) < docs.size * 3  # ~2 bytes/posting vs 16 raw
    d, _ = decode_postings(buf, base=100_000)
    assert (d == docs).all()


def test_unsorted_doc_ids_pay_wraparound_penalty():
    """Contract: doc_ids should be strictly increasing. A negative gap
    still round-trips (two's-complement wraparound) but costs a full
    10-byte varint — the build always sorts before encoding."""
    docs = np.array([5, 3], dtype=np.int64)
    tfs = np.array([1, 1], dtype=np.int64)
    buf = encode_postings(docs, tfs)
    d, _ = decode_postings(buf)
    assert (d == docs).all()
    sorted_buf = encode_postings(np.array([3, 5]), tfs)
    assert len(buf) > 2 * len(sorted_buf)


@pytest.mark.parametrize("n", [1, 127, 128, 129, 1000])
def test_block_boundaries_sizes(n):
    docs = np.arange(n, dtype=np.int64)
    tfs = np.ones(n, dtype=np.int64)
    d, t = decode_postings(encode_postings(docs, tfs))
    assert d.size == n and (d == docs).all()
