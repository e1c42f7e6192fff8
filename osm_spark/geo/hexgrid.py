"""H3-style hierarchical hexagonal grid, pure numpy.

The ``h3`` library is unavailable in this container, so this is an
independent hexagonal index with H3's key properties — aperture-7 resolution
scaling (each res shrinks edge length by sqrt(7)), hexagonal cells, k-ring
neighborhoods, polygon covering ("polyfill") — built on textbook axial/cube
hex-coordinate math over the (lon, lat) plane. Resolution 9 matches H3 res-9
cell scale (~0.0016° ≈ 175 m edge at the equator), the engine default for
page-point indexing (BASELINE.json:6 "H3 res-9").

Cell id layout (64-bit signed long, positive):
    id = (res << 58) | ((q + 2^28) << 29) | (r + 2^28)
where (q, r) are axial hex coordinates. Valid for res ≤ 15.

Scale note: encode is O(rows) numpy inside a pandas UDF; covering is
O(candidate cells × polygon edges) per polygon and runs distributed, one
polygon per row, via mapInPandas in the covering job.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

DEFAULT_RES = 9
_OFF = np.int64(1) << 28
_SQRT3 = np.sqrt(3.0)

# Edge length in degrees at res 0; each res divides by sqrt(7) (aperture 7).
_BASE_EDGE_DEG = 10.0

# H3 res-9 average edge ≈ 0.00158°; ours: 10 * 7^-4.5 ≈ 0.00157°.
HEX_RES9_DEG = _BASE_EDGE_DEG * 7.0 ** (-4.5)


def edge_deg(res: int) -> float:
    """Hex edge length (degrees) at a resolution."""
    return _BASE_EDGE_DEG * 7.0 ** (-res / 2.0)


def _axial_round(qf: np.ndarray, rf: np.ndarray):
    """Cube-coordinate rounding (standard hex-grid algorithm)."""
    sf = -qf - rf
    q = np.round(qf)
    r = np.round(rf)
    s = np.round(sf)
    dq = np.abs(q - qf)
    dr = np.abs(r - rf)
    ds = np.abs(s - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    q = np.where(fix_q, -r - s, q)
    r = np.where(fix_r, -q - s, r)
    return q.astype(np.int64), r.astype(np.int64)


def latlon_to_axial(lat: np.ndarray, lon: np.ndarray, res: int = DEFAULT_RES):
    """(lat, lon) degrees → integer axial (q, r) at a resolution.

    Pointy-top hex layout on the equirectangular plane (x=lon, y=lat).
    """
    size = edge_deg(res)
    x = np.asarray(lon, dtype=np.float64)
    y = np.asarray(lat, dtype=np.float64)
    qf = (_SQRT3 / 3.0 * x - y / 3.0) / size
    rf = (2.0 / 3.0 * y) / size
    return _axial_round(qf, rf)


def pack(q: np.ndarray, r: np.ndarray, res: int) -> np.ndarray:
    return (
        (np.int64(res) << 58)
        | ((np.asarray(q, np.int64) + _OFF) << 29)
        | (np.asarray(r, np.int64) + _OFF)
    )


def unpack(cell: np.ndarray):
    c = np.asarray(cell, dtype=np.int64)
    res = (c >> 58).astype(np.int64)
    q = ((c >> 29) & ((np.int64(1) << 29) - 1)) - _OFF
    r = (c & ((np.int64(1) << 29) - 1)) - _OFF
    return q, r, res


def hex_cell_np(lat: np.ndarray, lon: np.ndarray, res: int = DEFAULT_RES) -> np.ndarray:
    q, r = latlon_to_axial(lat, lon, res)
    return pack(q, r, res)


def hex_to_center(cell: np.ndarray):
    """Cell id → (lat, lon) center degrees."""
    q, r, res = unpack(cell)
    # All cells in one call may be mixed-res; vectorize edge length.
    size = _BASE_EDGE_DEG * 7.0 ** (-res.astype(np.float64) / 2.0)
    lon = size * _SQRT3 * (q + r / 2.0)
    lat = size * 1.5 * r
    return lat, lon


_AXIAL_DIRS = np.array([(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)], dtype=np.int64)


def hex_disk(cell: int, k: int) -> np.ndarray:
    """All cell ids within grid distance k (the H3 ``grid_disk``).

    Used by kNN ring expansion; k is small (≤ ~8) so the O(k²) loop is
    driver/worker-side trivial.
    """
    q0, r0, res = unpack(np.array([cell]))
    q0, r0, res = int(q0[0]), int(r0[0]), int(res[0])
    out = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            out.append((q0 + dq, r0 + dr))
    arr = np.array(out, dtype=np.int64)
    return pack(arr[:, 0], arr[:, 1], res)


def _point_seg_dist2(px, py, ax, ay, bx, by):
    """Squared distance from points (px,py) to segments (a→b); broadcasts."""
    abx, aby = bx - ax, by - ay
    apx, apy = px - ax, py - ay
    denom = abx * abx + aby * aby
    t = np.where(denom > 0, (apx * abx + apy * aby) / np.where(denom == 0, 1, denom), 0.0)
    t = np.clip(t, 0.0, 1.0)
    dx = apx - t * abx
    dy = apy - t * aby
    return dx * dx + dy * dy


def points_in_polygon_np(px: np.ndarray, py: np.ndarray, vx: np.ndarray, vy: np.ndarray,
                         include_boundary: bool = True, eps: float = 1e-12) -> np.ndarray:
    """Even-odd ray-cast PIP, vectorized points × edges.

    ``covers`` semantics: boundary points count as inside (SURVEY.md §7
    pins this so goldens are unambiguous).
    """
    px = np.asarray(px, np.float64)[:, None]
    py = np.asarray(py, np.float64)[:, None]
    ax, ay = np.asarray(vx, np.float64), np.asarray(vy, np.float64)
    bx, by = np.roll(ax, -1), np.roll(ay, -1)
    ax, ay, bx, by = ax[None, :], ay[None, :], bx[None, :], by[None, :]

    crosses = ((ay > py) != (by > py)) & (
        px < (bx - ax) * (py - ay) / np.where(by - ay == 0, 1, by - ay) + ax
    )
    inside = (np.sum(crosses, axis=1) % 2) == 1
    if include_boundary:
        d2 = _point_seg_dist2(px, py, ax, ay, bx, by)
        on_edge = np.any(d2 <= eps * eps, axis=1)
        inside = inside | on_edge
    return inside


def hex_polyfill(vlat: np.ndarray, vlon: np.ndarray, res: int = DEFAULT_RES) -> np.ndarray:
    """Superset covering of a polygon by hex cells at a resolution.

    Guarantee: every cell containing any point of the polygon is included
    (so the cell-equi prejoin never loses a true PIP pair). Method: axial
    bbox + 1-cell margin, keep cells whose center is within one hex
    circumradius of the polygon (inside or near an edge).
    """
    vlat = np.asarray(vlat, np.float64)
    vlon = np.asarray(vlon, np.float64)
    size = edge_deg(res)

    q, r = latlon_to_axial(vlat, vlon, res)
    qs = np.arange(q.min() - 2, q.max() + 3, dtype=np.int64)
    rs = np.arange(r.min() - 2, r.max() + 3, dtype=np.int64)
    qq, rr = np.meshgrid(qs, rs, indexing="ij")
    qq, rr = qq.ravel(), rr.ravel()
    cells = pack(qq, rr, res)
    clat, clon = hex_to_center(cells)

    inside = points_in_polygon_np(clon, clat, vlon, vlat)
    ax, ay = vlon, vlat
    bx, by = np.roll(ax, -1), np.roll(ay, -1)
    d2 = _point_seg_dist2(clon[:, None], clat[:, None], ax[None], ay[None], bx[None], by[None])
    near = np.min(d2, axis=1) <= (size * 1.001) ** 2  # circumradius == edge
    return np.unique(cells[inside | near])


def _rint(c: Column) -> Column:
    """round-half-to-even on doubles — bit-matches ``np.round``."""
    return F.call_function("rint", c)


def hex_cell_expr(lat: Column | str, lon: Column | str, res: int = DEFAULT_RES) -> Column:
    """Pure-Column hex encode — same math as ``hex_cell_np`` term for term
    (identical IEEE op order, rint == np.round half-even), so cell ids are
    bit-identical to the numpy path while staying in whole-stage codegen.
    This is the hot-path form: at 10^12 rows the Arrow round trip of the
    pandas UDF dominates, the codegen form is free inside the scan stage.
    """
    la = F.col(lat) if isinstance(lat, str) else lat
    lo = F.col(lon) if isinstance(lon, str) else lon
    size = F.lit(edge_deg(res))
    qf = (F.lit(_SQRT3 / 3.0) * lo - la / F.lit(3.0)) / size
    rf = (F.lit(2.0 / 3.0) * la) / size
    sf = -qf - rf
    q, r, s = _rint(qf), _rint(rf), _rint(sf)
    dq, dr, ds = F.abs(q - qf), F.abs(r - rf), F.abs(s - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    q2 = F.when(fix_q, -r - s).otherwise(q)
    r2 = F.when(fix_r, -q2 - s).otherwise(r)
    ql = q2.cast("long")
    rl = r2.cast("long")
    off = F.lit(int(_OFF))
    return (
        F.shiftleft(F.lit(res).cast("long"), 58)
        .bitwiseOR(F.shiftleft(ql + off, 29))
        .bitwiseOR(rl + off)
    )


_DISK_MASK = (1 << 29) - 1


def hex_disk_expr(cell: Column | str, res: int, k: int) -> Column:
    """Pure-Column k-disk: array<long> of all cells within grid distance k.

    Because the id packs (q + 2^28) and (r + 2^28) into disjoint bit
    fields (and |dq|,|dr| ≤ k can never borrow/carry across a 2^28-offset
    field), the neighbor at (dq, dr) is the single addition
    ``id + ((dq << 29) + dr)``. The offset table is therefore ONE literal
    array<long> and the disk is ``transform(deltas, d -> cell + d)`` —
    one lambda body in codegen regardless of k. The previous form
    (3k(k+1)+1 separately inlined shift/or expressions) overflowed
    janino's 64 KB method limit from ring 4 up when stacked under a join,
    silently dropping the whole stage to interpreted mode (~8× slower).

    ``res`` is unused (the resolution bits ride along in the addition);
    kept so call sites read symmetrically with the other cell helpers.
    """
    del res
    c = F.col(cell) if isinstance(cell, str) else cell
    deltas = [
        (dq << 29) + dr
        for dq in range(-k, k + 1)
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1)
    ]
    return F.transform(
        F.lit(deltas).cast("array<long>"), lambda d: c + d
    )


def hex_center_expr(cell: Column | str, res: int) -> Column:
    """Pure-Column cell center: struct<lat:double, lon:double>.

    Same math as ``hex_to_center`` for a known resolution (codegen'd)."""
    c = F.col(cell) if isinstance(cell, str) else cell
    off = F.lit(int(_OFF))
    q = (F.shiftright(c, 29).bitwiseAND(F.lit(_DISK_MASK)) - off).cast("double")
    r = (c.bitwiseAND(F.lit(_DISK_MASK)) - off).cast("double")
    size = F.lit(edge_deg(res))
    return F.struct(
        (size * F.lit(1.5) * r).alias("lat"),
        (size * F.lit(_SQRT3) * (q + r / F.lit(2.0))).alias("lon"),
    )


def hex_cell_udf(res: int = DEFAULT_RES):
    """pandas UDF (double, double) → long hex cell id."""

    @F.pandas_udf(LongType())
    def _udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        out = hex_cell_np(lat.to_numpy(np.float64), lon.to_numpy(np.float64), res)
        s = pd.Series(out)
        s[lat.isna() | lon.isna()] = None
        return s

    return _udf


def hex_cell(lat: Column | str, lon: Column | str, res: int = DEFAULT_RES) -> Column:
    return hex_cell_expr(lat, lon, res)


def h3_available() -> bool:
    """True when the real `h3` library (Uber H3 bindings) is importable."""
    try:
        import h3  # noqa: F401

        return True
    except ImportError:
        return False


def h3_cell_udf(res: int = DEFAULT_RES):
    """Real-H3 encode behind the same (lat, lon) → long signature as
    ``hex_cell_expr`` / ``hex_cell_udf``.

    The engine-local grid is the default everywhere (pure codegen, no
    dependency); this hook exists because H3/S2 library version drift is
    a named interop risk (SURVEY.md §7): where cell ids must match an
    external H3 dataset, swap this in at the encode sites and every
    downstream equi-join/groupBy works unchanged — cell ids are opaque
    longs to the rest of the engine. NOTE: real H3 ids live in a
    different id space than the engine-local ids (both are 64-bit, both
    resolution-tagged); never mix the two spaces in one join, and
    rebuild any persisted covering index when switching backends.

    Raises ImportError at build time when `h3` is absent (no silent
    fallback — a mixed-id-space join must be impossible to create by
    accident).
    """
    import h3  # hard import: fail loudly, see docstring

    from pyspark.sql.types import LongType as _Long

    # v4 renamed the encode: latlng_to_cell; v3 calls it geo_to_h3. Both
    # take (lat, lng, res) and return hex strings in the default API
    # (int-returning variants live under h3.api.basic_int) — resolve the
    # name once and normalize the id form once, not per row.
    _encode = getattr(h3, "latlng_to_cell", None) or getattr(h3, "geo_to_h3", None)
    if _encode is None:
        raise ImportError(
            "h3 module has neither latlng_to_cell (v4) nor geo_to_h3 (v3)"
        )
    _str_ids = isinstance(_encode(0.0, 0.0, 0), str)

    @F.pandas_udf(_Long())
    def _udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        def enc(la: float, lo: float):
            if la != la or lo != lo:  # NaN
                return None
            c = _encode(float(la), float(lo), res)
            return int(c, 16) if _str_ids else c

        return pd.Series([enc(la, lo) for la, lo in zip(lat, lon)], dtype="object")

    return _udf


def hex_cell_backend(
    lat: Column | str, lon: Column | str, res: int = DEFAULT_RES, backend: str = "native"
) -> Column:
    """Backend-dispatched encode with the ``hex_cell_expr`` signature:
    'native' → the codegen engine grid (default), 'h3' → real Uber H3
    ids via ``h3_cell_udf`` (requires the library; import-guarded)."""
    if backend == "native":
        return hex_cell_expr(lat, lon, res)
    if backend == "h3":
        # Build the UDF first: its hard `import h3` is the loud guard,
        # and F.col asserts an active SparkContext (which would mask the
        # ImportError with an AssertionError when called session-less).
        udf = h3_cell_udf(res)
        la = F.col(lat) if isinstance(lat, str) else lat
        lo = F.col(lon) if isinstance(lon, str) else lon
        return udf(la, lo)
    raise ValueError(f"unknown hex backend: {backend!r}")
