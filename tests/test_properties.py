"""Property-based tests (hypothesis) over the pure-numpy geo kernels —
the reference's spec style (exhaustive truth tables over generated
inputs, spec/osm/*_spec.rb) applied to the index math the whole spatial
engine rests on. No SparkSession needed, so these run in milliseconds.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_spark.geo.hexgrid import (
    hex_cell_np,
    hex_disk,
    hex_to_center,
    pack,
    unpack,
)
from osm_spark.geo.s2 import _hilbert_pos, _hilbert_pos_lut, s2_cell_np, s2_parent_np

lats = st.floats(min_value=-84.9, max_value=84.9, allow_nan=False)
lons = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)


@settings(max_examples=200, deadline=None)
@given(
    q=st.integers(min_value=-(2**27), max_value=2**27 - 1),
    r=st.integers(min_value=-(2**27), max_value=2**27 - 1),
    res=st.integers(min_value=0, max_value=15),
)
def test_hex_pack_unpack_roundtrip(q, r, res):
    cell = pack(np.array([q]), np.array([r]), res)
    q2, r2, res2 = unpack(cell)
    assert (int(q2[0]), int(r2[0]), int(res2[0])) == (q, r, res)
    assert int(cell[0]) > 0  # ids stay positive (join-key friendly)


@settings(max_examples=200, deadline=None)
@given(lat=lats, lon=lons, res=st.integers(min_value=0, max_value=12))
def test_hex_center_reencodes_to_same_cell(lat, lon, res):
    cell = hex_cell_np(np.array([lat]), np.array([lon]), res)
    clat, clon = hex_to_center(cell)
    again = hex_cell_np(clat, clon, res)
    assert int(again[0]) == int(cell[0])


@settings(max_examples=50, deadline=None)
@given(lat=lats, lon=lons, k=st.integers(min_value=0, max_value=5))
def test_hex_disk_size_and_membership(lat, lon, k):
    cell = int(hex_cell_np(np.array([lat]), np.array([lon]), 9)[0])
    disk = hex_disk(cell, k)
    assert len(disk) == 3 * k * (k + 1) + 1
    assert len(set(disk.tolist())) == len(disk)
    assert cell in set(disk.tolist())


def test_hilbert_bijective_small_grid():
    level = 5
    n = 1 << level
    ii, jj = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    d = _hilbert_pos(ii.ravel(), jj.ravel(), level)
    assert sorted(d.tolist()) == list(range(n * n))


@settings(max_examples=100, deadline=None)
@given(lat=lats, lon=lons, level=st.integers(min_value=2, max_value=14))
def test_s2_parent_consistent_with_direct_coarse_encode(lat, lon, level):
    """Prefix-truncation parent == directly encoding at the coarser
    level (the hierarchy property every rollup/prejoin relies on)."""
    la, lo = np.array([lat]), np.array([lon])
    fine = s2_cell_np(la, lo, level)
    parent = s2_parent_np(fine, level, level - 1)
    direct = s2_cell_np(la, lo, level - 1)
    assert int(parent[0]) == int(direct[0])


@settings(max_examples=100, deadline=None)
@given(
    clat=st.floats(min_value=-60, max_value=60, allow_nan=False),
    clon=st.floats(min_value=-170, max_value=170, allow_nan=False),
    radius=st.floats(min_value=1e-4, max_value=0.5, allow_nan=False),
    nv=st.integers(min_value=3, max_value=12),
    shrink=st.floats(min_value=0.01, max_value=0.8, allow_nan=False),
)
def test_pip_regular_polygon_contains_scaled_interior(clat, clon, radius, nv, shrink):
    """A regular polygon covers its own vertices scaled toward the
    centroid and excludes them scaled outward — exercises every edge
    orientation the ray cast can see."""
    from osm_spark.geo.hexgrid import points_in_polygon_np

    ang = np.linspace(0, 2 * np.pi, nv, endpoint=False)
    vlat = clat + radius * np.sin(ang)
    vlon = clon + radius * np.cos(ang)
    inner_lat = clat + shrink * radius * np.sin(ang + 0.1)
    inner_lon = clon + shrink * radius * np.cos(ang + 0.1)
    outer_lat = clat + (2.0 + shrink) * radius * np.sin(ang + 0.1)
    outer_lon = clon + (2.0 + shrink) * radius * np.cos(ang + 0.1)
    assert points_in_polygon_np(inner_lon, inner_lat, vlon, vlat).all()
    assert not points_in_polygon_np(outer_lon, outer_lat, vlon, vlat).any()


def test_hilbert_table_walk_equals_loop():
    """The lookup-table walk ``s2_cell_cols`` runs equals the xy→d loop:
    exhaustively on every cell of levels 1–8, and on 10^5 random (i, j)
    per level from 9 to 30 (leading chunks of 1, 2, 3 and 0 bits)."""
    for level in range(1, 9):
        n = 1 << level
        ii, jj = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
        i, j = ii.ravel(), jj.ravel()
        assert np.array_equal(_hilbert_pos_lut(i, j, level), _hilbert_pos(i, j, level))
    rng = np.random.default_rng(13)
    for level in range(9, 31):
        i, j = rng.integers(0, 1 << level, size=(2, 100_000))
        assert np.array_equal(_hilbert_pos_lut(i, j, level), _hilbert_pos(i, j, level)), level
