"""Hypothesis property tests for the posting codec (varint / delta-gap /
segmented forms / position segment gather): roundtrip identity on
adversarial inputs — boundary bytes (7-bit group edges), empty segments,
64-bit extremes."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fluent_plugin_elasticsearch_spark.operators.codec import (
    delta_decode,
    delta_encode,
    delta_gaps_segments,
    gather_segments,
    segmented_cumsum,
    varint_decode,
    varint_encode,
    varint_encode_segments,
)

u64 = st.integers(min_value=0, max_value=2**64 - 1)
boundary = st.sampled_from(
    [0, 1, 127, 128, 16383, 16384, 2**21 - 1, 2**21, 2**63, 2**64 - 1]
)
values = st.lists(st.one_of(u64, boundary), max_size=200)


@settings(max_examples=200, deadline=None)
@given(values)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr), arr.size), arr)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(u64, boundary), min_size=1, max_size=200), st.data())
def test_truncated_buffer_raises(vals, data):
    """A block cut short — inside a value or at a value boundary — fails
    the decode with ValueError naming both counts, with or without
    ``python -O`` (no assert)."""
    arr = np.array(vals, dtype=np.uint64)
    enc = varint_encode(arr)
    cut = data.draw(st.integers(0, len(enc) - 1))
    with pytest.raises(ValueError, match=rf"decoded \d+ values, expected {arr.size}"):
        varint_decode(enc[:cut], arr.size)


def test_buffer_ending_inside_a_value_raises_without_count():
    enc = varint_encode(np.array([5, 300], dtype=np.uint64))
    with pytest.raises(ValueError, match="ends inside a value"):
        varint_decode(enc[:-1])


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(0, 2**63 - 1), min_size=1, max_size=100, unique=True))
def test_delta_roundtrip_sorted_ids(ids):
    arr = np.sort(np.array(ids, dtype=np.uint64))
    assert np.array_equal(delta_decode(delta_encode(arr), arr.size), arr)


@settings(max_examples=100, deadline=None)
@given(values, st.data())
def test_segmented_encode_matches_per_segment(vals, data):
    arr = np.array(vals, dtype=np.uint64)
    n = arr.size
    cuts = data.draw(st.lists(st.integers(0, max(n - 1, 0)), max_size=8))
    seg_starts = np.unique(np.array([0] + cuts, dtype=np.int64))
    seg_starts = seg_starts[seg_starts < max(n, 1)]
    encs = varint_encode_segments(arr, seg_starts)
    bounds = np.append(seg_starts, n)
    for i, enc in enumerate(encs):
        seg = arr[bounds[i]:bounds[i + 1]]
        assert enc == varint_encode(seg)
        assert np.array_equal(varint_decode(enc, seg.size), seg)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.lists(st.integers(0, 2**31), min_size=0, max_size=20), max_size=20))
def test_position_segments_roundtrip(seglists):
    """delta_gaps_segments + segmented_cumsum invert each other over
    sorted per-segment position lists, and gather_segments reorders
    variable-length segments exactly."""
    segs = [np.sort(np.array(s, dtype=np.uint64)) for s in seglists]
    flat = np.concatenate(segs) if segs else np.empty(0, np.uint64)
    lens = np.array([s.size for s in segs], dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64) if segs else np.empty(0, np.int64)
    if flat.size:
        gaps = delta_gaps_segments(flat, starts[lens > 0])
        back = segmented_cumsum(gaps, starts[lens > 0], lens[lens > 0])
        assert np.array_equal(back, flat)
    # reversed-order gather
    if len(segs) > 1:
        order = np.arange(len(segs))[::-1]
        got = gather_segments(flat, starts[order], lens[order])
        expected = np.concatenate([segs[i] for i in order])
        assert np.array_equal(got, expected)
