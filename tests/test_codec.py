"""Varint/delta codec — round-trip property tests (the reference relies on
tantivy's own compression tests; ours must stand alone)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from cantine_spark.build.codec import (
    decode_deltas, decode_varint, encode_deltas, encode_varint,
)


def test_empty():
    assert encode_varint(np.array([], dtype=np.uint64)) == b""
    assert len(decode_varint(b"")) == 0


def test_known_values():
    # classic LEB128 vectors
    assert encode_varint(np.array([0], dtype=np.uint64)) == b"\x00"
    assert encode_varint(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert encode_varint(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert encode_varint(np.array([300], dtype=np.uint64)) == b"\xac\x02"


@given(arrays(np.uint64, st.integers(0, 500),
              elements=st.integers(0, 2**64 - 1)))
@settings(max_examples=200)
def test_varint_round_trip(a):
    assert np.array_equal(decode_varint(encode_varint(a)), a)


@given(st.lists(st.integers(0, 2**40), min_size=0, max_size=300, unique=True))
def test_delta_round_trip(ids):
    a = np.array(sorted(ids), dtype=np.uint64)
    assert np.array_equal(decode_deltas(encode_deltas(a)), a)


def test_compression_wins_on_dense_ids():
    ids = np.arange(10_000, dtype=np.uint64) * 3 + 1_000_000
    enc = encode_deltas(ids)
    assert len(enc) < len(ids) * 2  # gaps of 3 → ~1 byte each + header


def test_encode_sorted_rejects_misaligned_positions():
    """ADVICE r2: a posting whose positions blob is not exactly 4·tf bytes
    must fail at BUILD time, not corrupt phrase results at query time."""
    import pandas as pd
    import pytest

    from cantine_spark.build.segments import _encode_sorted

    good = pd.DataFrame({
        "field": ["content"] * 2, "term": ["x"] * 2, "shard": [0, 0],
        "doc_id": [1, 2], "tf": [2, 1], "dl": [5, 5],
        "positions": [np.array([0, 3], "<i4").tobytes(),
                      np.array([1], "<i4").tobytes()],
    })
    out = _encode_sorted(good, {"content": 5.0})
    assert len(out) == 1 and int(out["n_docs"].iat[0]) == 2

    bad = good.copy()
    bad.loc[1, "positions"] = b""  # position-less row in a positional table
    with pytest.raises(ValueError, match="positions blob misaligned"):
        _encode_sorted(bad, {"content": 5.0})


def test_encode_sorted_rejects_field_without_avgdl():
    """A field missing from the avgdl map must fail loudly, naming the
    field — not encode uninitialized max_tfnorm bounds."""
    import pandas as pd
    import pytest

    from cantine_spark.build.segments import _encode_sorted

    pdf = pd.DataFrame({
        "field": ["content", "path"], "term": ["x", "x"], "shard": [0, 0],
        "doc_id": [1, 2], "tf": [1, 1], "dl": [5, 3],
        "positions": [np.array([0], "<i4").tobytes(),
                      np.array([1], "<i4").tobytes()],
    })
    assert len(_encode_sorted(pdf, {"content": 5.0, "path": 3.0})) == 2
    with pytest.raises(ValueError, match=r"no avgdl for field\(s\) \['path'\]"):
        _encode_sorted(pdf, {"content": 5.0})
