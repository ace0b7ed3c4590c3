"""tools/make_sf_tile.py refuses key sets that would collide or
overflow when tiled."""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tools.make_sf_tile import OFF, _check_headroom  # noqa: E402


def test_headroom_accepts_keys_that_fit():
    _check_headroom("t", "k", pa.array([0, OFF - 1], pa.int64()), 10)
    _check_headroom("t", "k", pa.array([None], pa.int64()), 10)


def test_headroom_rejects_key_at_offset():
    with pytest.raises(ValueError, match="tile offset"):
        _check_headroom("t", "k", pa.array([OFF], pa.int64()), 2)


def test_headroom_rejects_overflowing_last_tile():
    # int32 max is ~2.1e9: tile 214 of key 5 lands at 2_140_000_005, 215 past it
    _check_headroom("t", "k", pa.array([5], pa.int32()), 215)
    with pytest.raises(ValueError, match="past int32"):
        _check_headroom("t", "k", pa.array([5], pa.int32()), 216)
