"""S2-style cube-face quadtree cell index, pure numpy.

Implements the published S2 geometry construction (Hilbert curve on the six
faces of a cube circumscribing the sphere, quadratic ST↔UV projection):
lat/lon → unit XYZ → face + (u,v) → (s,t) → (i,j) → Hilbert position. See
the public s2geometry design docs for the math; this is an independent
reimplementation — cell ids are deterministic but not bit-compatible with
the C++ library (unavailable in this container; fixtures pin ids).

Cell id layout (64-bit signed long, always positive):
    id = ((face * 4^level + hilbert_pos) << 5) | level
so ids at different levels never collide and the level is recoverable.
Level 13 is the engine default for page/node point indexing
(BASELINE.json:6: "S2 level-13 cells").
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

DEFAULT_LEVEL = 13


def _face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    """Largest-|component| face selection + gnomonic (u,v) per face."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= np.maximum(ay, az), 0, np.where(ay >= az, 1, 2))
    major = np.choose(face, [x, y, z])
    face = np.where(major < 0, face + 3, face).astype(np.int64)

    u = np.empty_like(x)
    v = np.empty_like(x)
    # Face basis follows the standard S2 convention.
    m = face == 0
    u[m], v[m] = y[m] / x[m], z[m] / x[m]
    m = face == 1
    u[m], v[m] = -x[m] / y[m], z[m] / y[m]
    m = face == 2
    u[m], v[m] = -x[m] / z[m], -y[m] / z[m]
    m = face == 3
    u[m], v[m] = z[m] / x[m], y[m] / x[m]
    m = face == 4
    u[m], v[m] = z[m] / y[m], -x[m] / y[m]
    m = face == 5
    u[m], v[m] = -y[m] / z[m], -x[m] / z[m]
    return face, u, v


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    """S2 quadratic projection: equalizes cell area across a face."""
    # np.where evaluates both branches, so each sqrt sees the other
    # branch's out-of-domain values — suppress the spurious warning.
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def _hilbert_pos(i: np.ndarray, j: np.ndarray, level: int) -> np.ndarray:
    """Hilbert curve position of (i,j) on a 2^level grid (vectorized).

    Classic iterative xy→d algorithm; self-similar, so floor(d/4) is the
    parent cell's position — prefix truncation gives coarser levels.
    """
    x = i.astype(np.int64).copy()
    y = j.astype(np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1) << (level - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # Rotate quadrant.
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f, y_f = x.copy(), y.copy()
        x[flip] = s - 1 - x_f[flip]
        y[flip] = s - 1 - y_f[flip]
        x_s, y_s = x.copy(), y.copy()
        x[swap], y[swap] = y_s[swap], x_s[swap]
        s >>= 1
    return d


# Table-driven Hilbert walk (the S2 library's lookup form). The xy→d loop
# in ``_hilbert_pos`` only ever swaps x/y and complements both, so the
# transform it has applied so far is one of four states: bit 1 = swap,
# bit 0 = complement. A table over k-bit chunks of (i, j) maps
# ``(state << 2k) | (ci << k) | cj`` to ``(digits << 2) | next_state``,
# where ``digits`` are the 2k Hilbert bits the loop would emit.
_LUT_BITS = 4


def _hilbert_table(k: int) -> np.ndarray:
    """Lookup table for k-bit chunks, derived from ``_hilbert_pos``: apply
    the state's transform to the chunk, take its k-level position, and
    read the next state off the digits (a 0 digit swaps; a 3 digit swaps
    and complements; 1 and 2 leave the transform alone)."""
    m = (1 << k) - 1
    ci, cj = np.divmod(np.arange(1 << (2 * k), dtype=np.int64), 1 << k)
    out = []
    for state in range(4):
        x, y = (cj, ci) if state & 2 else (ci, cj)
        if state & 1:
            x, y = x ^ m, y ^ m
        d = _hilbert_pos(x, y, k)
        swap = np.zeros_like(d)
        comp = np.zeros_like(d)
        for lvl in range(k):
            digit = (d >> (2 * lvl)) & 3
            swap ^= (digit == 0) | (digit == 3)
            comp ^= digit == 3
        out.append((d << 2) | (((state >> 1) ^ swap) << 1) | ((state & 1) ^ comp))
    return np.concatenate(out)


_HILBERT_TABLES = {k: _hilbert_table(k) for k in range(1, _LUT_BITS + 1)}


def _hilbert_chunks(level: int) -> list[tuple[int, int]]:
    """(bits, shift) per chunk, top first: a leading ``level % 4``-bit
    chunk with its own table, then whole 4-bit chunks. Padding the top
    chunk with zero bits instead would walk a different curve."""
    lead = level % _LUT_BITS
    widths = ([lead] if lead else []) + [_LUT_BITS] * (level // _LUT_BITS)
    out, shift = [], level
    for k in widths:
        shift -= k
        out.append((k, shift))
    return out


def _hilbert_pos_lut(i: np.ndarray, j: np.ndarray, level: int) -> np.ndarray:
    """``_hilbert_pos`` by the table walk ``s2_cell_cols`` runs (numpy
    mirror, tested equal to the loop)."""
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    d = np.zeros_like(i)
    state = np.zeros_like(i)
    for k, shift in _hilbert_chunks(level):
        m = (1 << k) - 1
        idx = (state << (2 * k)) | (((i >> shift) & m) << k) | ((j >> shift) & m)
        val = _HILBERT_TABLES[k][idx]
        d = (d << (2 * k)) | (val >> 2)
        state = val & 3
    return d


def s2_cell_np(lat: np.ndarray, lon: np.ndarray, level: int = DEFAULT_LEVEL) -> np.ndarray:
    """Vectorized S2-style cell id for degree lat/lon arrays."""
    lat_r = np.radians(np.asarray(lat, dtype=np.float64))
    lon_r = np.radians(np.asarray(lon, dtype=np.float64))
    cos_lat = np.cos(lat_r)
    x = cos_lat * np.cos(lon_r)
    y = cos_lat * np.sin(lon_r)
    z = np.sin(lat_r)
    face, u, v = _face_uv(x, y, z)
    n = np.int64(1) << level
    i = np.clip((_uv_to_st(u) * n).astype(np.int64), 0, n - 1)
    j = np.clip((_uv_to_st(v) * n).astype(np.int64), 0, n - 1)
    pos = _hilbert_pos(i, j, level)
    return ((face * (n * n) + pos) << 5) | np.int64(level)


def s2_parent_np(cell: np.ndarray, level: int, parent_level: int) -> np.ndarray:
    """Coarsen a cell id to an ancestor level (Hilbert prefix truncation)."""
    body = np.asarray(cell, dtype=np.int64) >> 5
    n2 = np.int64(1) << (2 * level)
    face, pos = body // n2, body % n2
    pos >>= 2 * (level - parent_level)
    pn2 = np.int64(1) << (2 * parent_level)
    return ((face * pn2 + pos) << 5) | np.int64(parent_level)


def s2_cell_cols(
    df,
    lat: str = "lat",
    lon: str = "lon",
    level: int = DEFAULT_LEVEL,
    out: str = "s2",
):
    """Pure-Column S2 encode as a DataFrame transform (no Python).

    Same math as ``s2_cell_np``. The float prefix (trig, face choice,
    gnomonic and quadratic projection) is IEEE-identical in op order to
    the numpy form. The Hilbert xy→d step is the S2 library's lookup-table
    walk instead of ``_hilbert_pos``'s per-bit loop: a 4-state machine
    (swap bit, complement bit) consumes (i, j) in 4-bit chunks, top first,
    each chunk one ``element_at`` into a literal array of ``4·4^k`` longs
    holding ``(digits << 2) | next_state``. The leading chunk takes
    ``level % 4`` bits with its own table. At level 13 that is 4 chunk
    projections where the per-bit loop needed 39 eagerly analysed ones.
    Each chunk's value is a named column, so the next chunk's state and
    the final digit concat reference it without re-inlining. Whole-stage
    codegen fuses everything into one stage: the hot path pays zero Arrow
    round trips, matching the ``hex_cell_expr`` design. Integer ops are
    bit-exact across engines (tested against ``s2_cell_np`` at levels 1,
    5, 12, 13 and 30).
    """
    la, lo = F.radians(F.col(lat)), F.radians(F.col(lon))
    cx = F.cos(la) * F.cos(lo)
    cy = F.cos(la) * F.sin(lo)
    cz = F.sin(la)
    df = df.withColumns({"_cx": cx, "_cy": cy, "_cz": cz})
    ax, ay, az = F.abs(F.col("_cx")), F.abs(F.col("_cy")), F.abs(F.col("_cz"))
    f0 = (
        F.when(ax >= F.greatest(ay, az), F.lit(0))
        .when(ay >= az, F.lit(1))
        .otherwise(F.lit(2))
    )
    df = df.withColumns({"_f0": f0})
    major = (
        F.when(F.col("_f0") == 0, F.col("_cx"))
        .when(F.col("_f0") == 1, F.col("_cy"))
        .otherwise(F.col("_cz"))
    )
    df = df.withColumns(
        {"_face": F.when(major < 0, F.col("_f0") + 3).otherwise(F.col("_f0")).cast("long")}
    )
    x, y, z = F.col("_cx"), F.col("_cy"), F.col("_cz")
    u = (
        F.when(F.col("_face") == 0, y / x)
        .when(F.col("_face") == 1, -x / y)
        .when(F.col("_face") == 2, -x / z)
        .when(F.col("_face") == 3, z / x)
        .when(F.col("_face") == 4, z / y)
        .otherwise(-y / z)
    )
    v = (
        F.when(F.col("_face") == 0, z / x)
        .when(F.col("_face") == 1, z / y)
        .when(F.col("_face") == 2, -y / z)
        .when(F.col("_face") == 3, y / x)
        .when(F.col("_face") == 4, -x / y)
        .otherwise(-x / z)
    )
    df = df.withColumns({"_u": u, "_v": v})

    def st(c):
        return F.when(c >= 0, 0.5 * F.sqrt(1.0 + 3.0 * c)).otherwise(
            1.0 - 0.5 * F.sqrt(1.0 - 3.0 * c)
        )

    n = np.int64(1) << level
    clip = lambda c: F.least(F.greatest(c, F.lit(0).cast("long")), F.lit(int(n - 1)))  # noqa: E731
    df = df.withColumns(
        {
            "_hx": clip((st(F.col("_u")) * float(n)).cast("long")),
            "_hy": clip((st(F.col("_v")) * float(n)).cast("long")),
        }
    )
    # Table walk: one element_at per chunk; each chunk's value carries its
    # Hilbert digits and the state the next chunk starts from.
    chunks = _hilbert_chunks(level)
    tables = {k: F.lit(_HILBERT_TABLES[k]) for k, _shift in chunks}
    hd = F.lit(0).cast("long")
    state = F.lit(0).cast("long")
    for c, (k, shift) in enumerate(chunks):
        m = (1 << k) - 1
        idx = (
            F.shiftleft(state, 2 * k)
            .bitwiseOR(F.shiftleft(F.shiftright("_hx", shift).bitwiseAND(m), k))
            .bitwiseOR(F.shiftright("_hy", shift).bitwiseAND(m))
        )
        df = df.withColumns({f"_hv{c}": F.element_at(tables[k], (idx + 1).cast("int"))})
        val = F.col(f"_hv{c}")
        hd = F.shiftleft(hd, 2 * k).bitwiseOR(F.shiftright(val, 2))
        state = val.bitwiseAND(3)
    cell = F.shiftleft(
        F.col("_face") * F.lit(int(n) * int(n)) + hd, 5
    ).bitwiseOR(F.lit(level).cast("long"))
    drop = ["_cx", "_cy", "_cz", "_f0", "_face", "_u", "_v", "_hx", "_hy"]
    drop += [f"_hv{c}" for c in range(len(chunks))]
    return df.withColumns({out: cell}).drop(*drop)


def s2_cell_udf(level: int = DEFAULT_LEVEL):
    """pandas UDF (double, double) → long cell id."""

    @F.pandas_udf(LongType())
    def _udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        out = s2_cell_np(lat.to_numpy(np.float64), lon.to_numpy(np.float64), level)
        res = pd.Series(out)
        res[lat.isna() | lon.isna()] = None
        return res

    return _udf


def s2_cell(lat: Column | str, lon: Column | str, level: int = DEFAULT_LEVEL) -> Column:
    la = F.col(lat) if isinstance(lat, str) else lat
    lo = F.col(lon) if isinstance(lon, str) else lon
    return s2_cell_udf(level)(la, lo)
