"""Hierarchical cell index (H3/S2-style, dependency-free).

Replaces the reference's R-tree spatial indexes (Transform.groovy:423-426,
Data.groovy:172,273) with a discrete global grid usable as a Spark
partition/join key: the coarse `&&` bbox prefilter of the reference's
spatial joins becomes cell-equality, which Catalyst shuffles/broadcasts
like any equi-join key.

Encoding
--------
A cell is an int64: ``(res << 58) | (y << 29) | x`` where at resolution
``res`` (0..28) the world is a ``2^res x 2^res`` grid over
lon in [-180, 180), lat in [-90, 90)::

    x = clamp(floor((lon + 180) / 360 * 2^res), 0, 2^res - 1)
    y = clamp(floor((lat +  90) / 180 * 2^res), 0, 2^res - 1)

Chosen over a Morton/Z-order packing so the identical formula is
expressible in ANSI SQL (Spark SQL *and* the DuckDB oracle) with plain
integer arithmetic — see :func:`cell_sql`. Parent/children/k-ring are
shift/neighbour arithmetic; longitude wraps, latitude clamps.

At res=15 a cell is ~1.2 km of longitude at the equator; res<=28 keeps
``res<<58 | y<<29 | x`` strictly positive in int64.

All array functions take/return numpy arrays and are safe inside
Arrow-batched pandas UDFs (no Python-per-row work).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "MAX_RES",
    "encode",
    "encode_xy",
    "decode_res",
    "decode_xy",
    "parent",
    "children",
    "kring",
    "cell_bounds",
    "cell_center",
    "covering_cells",
    "covering_cells_many",
    "pick_resolution",
    "cell_sql",
    "parent_sql",
]

MAX_RES = 28
_RES_SHIFT = 58
_Y_SHIFT = 29
_XY_MASK = (1 << 29) - 1


def _as_i64(a) -> np.ndarray:
    return np.asarray(a, dtype=np.int64)


def encode(lat, lon, res: int) -> np.ndarray:
    """lat/lon arrays (degrees, EPSG:4326) -> int64 cell ids at `res`."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    n = np.int64(1) << res
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    x = np.floor((lon + 180.0) / 360.0 * float(n)).astype(np.int64)
    y = np.floor((lat + 90.0) / 180.0 * float(n)).astype(np.int64)
    np.clip(x, 0, n - 1, out=x)
    np.clip(y, 0, n - 1, out=y)
    return (np.int64(res) << _RES_SHIFT) | (y << _Y_SHIFT) | x


def encode_xy(x, y, res: int) -> np.ndarray:
    """Grid coordinates -> cell ids (no range checks beyond masking)."""
    x = _as_i64(x)
    y = _as_i64(y)
    return (np.int64(res) << _RES_SHIFT) | ((y & _XY_MASK) << _Y_SHIFT) | (x & _XY_MASK)


def decode_res(cell) -> np.ndarray:
    return _as_i64(cell) >> _RES_SHIFT


def decode_xy(cell) -> tuple[np.ndarray, np.ndarray]:
    c = _as_i64(cell)
    return c & _XY_MASK, (c >> _Y_SHIFT) & _XY_MASK


def parent(cell, res: int) -> np.ndarray:
    """Ancestor cell at a coarser resolution (vectorized)."""
    c = _as_i64(cell)
    r = c >> _RES_SHIFT
    if np.any(r < res):
        raise ValueError("parent resolution must be <= cell resolution")
    shift = (r - res).astype(np.int64)
    x = (c & _XY_MASK) >> shift
    y = ((c >> _Y_SHIFT) & _XY_MASK) >> shift
    return (np.int64(res) << _RES_SHIFT) | (y << _Y_SHIFT) | x


def children(cell: int) -> np.ndarray:
    """The 4 direct children of a scalar cell (one resolution finer)."""
    c = int(cell)
    r = c >> _RES_SHIFT
    if r >= MAX_RES:
        raise ValueError("cell already at max resolution")
    x = (c & _XY_MASK) << 1
    y = ((c >> _Y_SHIFT) & _XY_MASK) << 1
    out = []
    for dy in (0, 1):
        for dx in (0, 1):
            out.append(((r + 1) << _RES_SHIFT) | ((y + dy) << _Y_SHIFT) | (x + dx))
    return np.array(out, dtype=np.int64)


def kring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of a scalar cell.

    Longitude wraps modulo the grid width; latitude rows beyond the
    poles are dropped. Result is sorted and unique. This is the
    candidate-expansion primitive for kNN (SURVEY.md §7.2 step 7).
    """
    c = int(cell)
    r = c >> _RES_SHIFT
    n = 1 << r
    x = c & _XY_MASK
    y = (c >> _Y_SHIFT) & _XY_MASK
    dx = np.arange(-k, k + 1, dtype=np.int64)
    dy = np.arange(-k, k + 1, dtype=np.int64)
    xs = np.mod(x + dx, n)
    ys = y + dy
    ys = ys[(ys >= 0) & (ys < n)]
    gx, gy = np.meshgrid(xs, ys)
    cells = (np.int64(r) << _RES_SHIFT) | (gy.ravel() << _Y_SHIFT) | gx.ravel()
    return np.unique(cells)


def cell_bounds(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized cell -> (minlon, minlat, maxlon, maxlat) degrees."""
    c = _as_i64(cell)
    r = c >> _RES_SHIFT
    n = (np.int64(1) << r).astype(np.float64)
    x = (c & _XY_MASK).astype(np.float64)
    y = ((c >> _Y_SHIFT) & _XY_MASK).astype(np.float64)
    minlon = x / n * 360.0 - 180.0
    maxlon = (x + 1.0) / n * 360.0 - 180.0
    minlat = y / n * 180.0 - 90.0
    maxlat = (y + 1.0) / n * 180.0 - 90.0
    return minlon, minlat, maxlon, maxlat


def cell_center(cell) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized cell -> (lat, lon) of the cell centroid."""
    minlon, minlat, maxlon, maxlat = cell_bounds(cell)
    return (minlat + maxlat) / 2.0, (minlon + maxlon) / 2.0


def covering_cells(minlon: float, minlat: float, maxlon: float, maxlat: float,
                   res: int) -> np.ndarray:
    """All cells at `res` intersecting a bbox (inclusive of edges).

    The polygon side of the spatial join is exploded over this set —
    the analog of inserting polygon MBRs into the reference's RTREE
    (Transform.groovy:423-424).
    """
    n = 1 << res
    x0 = int(np.clip(np.floor((minlon + 180.0) / 360.0 * n), 0, n - 1))
    x1 = int(np.clip(np.floor((maxlon + 180.0) / 360.0 * n), 0, n - 1))
    y0 = int(np.clip(np.floor((minlat + 90.0) / 180.0 * n), 0, n - 1))
    y1 = int(np.clip(np.floor((maxlat + 90.0) / 180.0 * n), 0, n - 1))
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return (np.int64(res) << _RES_SHIFT) | (gy.ravel() << _Y_SHIFT) | gx.ravel()


def covering_cells_many(minlon, minlat, maxlon, maxlat,
                        res: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized covering for many bboxes, all at `res`.

    Returns (row_index, cell) pairs: bbox i contributes
    covering_cells(bbox i, res), tagged with i.
    """
    per_box = [covering_cells(*b, res)
               for b in zip(minlon, minlat, maxlon, maxlat)]
    idx = np.repeat(np.arange(len(per_box), dtype=np.int64),
                    [len(c) for c in per_box])
    return idx, (np.concatenate(per_box) if per_box
                 else np.empty(0, np.int64))


def pick_resolution(width_deg: float, target_cell_deg: float = 0.05) -> int:
    """Smallest res whose cell width (deg lon) <= target, capped."""
    res = 0
    while res < MAX_RES and 360.0 / (1 << res) > target_cell_deg:
        res += 1
    return res


def grid_idx_sql(coord_expr: str, res: int, axis: str) -> str:
    """Clamped grid index of one axis at `res` — the x/y building
    block of :func:`cell_sql`, same formula and clamps as
    :func:`encode` / :func:`covering_cells` (e-notation literals force
    DOUBLE arithmetic in both Spark SQL and DuckDB). Exposed so the
    join's cover explode and its cover-size aggregate
    (join.explode_bbox_cells, join.zone_plan) derive their grid ranges
    from THIS module, never re-inventing the encoding."""
    n = 1 << res
    off, span = ("1.8e2", "3.6e2") if axis == "x" else ("9e1", "1.8e2")
    return (f"LEAST(GREATEST(CAST(FLOOR(({coord_expr} + {off}) / {span} "
            f"* {n}e0) AS BIGINT), 0), {n - 1})")


def compose_cell_sql(gx_expr: str, gy_expr: str, res: int) -> str:
    """Pack (gx, gy, res) grid coordinates into the int64 cell id —
    the SQL twin of :func:`encode_xy` for in-range indices."""
    return (f"(CAST({res} AS BIGINT) * {1 << _RES_SHIFT} "
            f"+ ({gy_expr}) * {1 << _Y_SHIFT} + ({gx_expr}))")


def cell_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """ANSI-SQL expression computing :func:`encode` — valid in both
    Spark SQL and DuckDB (used for driver-oracle parity checks)."""
    return compose_cell_sql(grid_idx_sql(lon_expr, res, "x"),
                            grid_idx_sql(lat_expr, res, "y"), res)


def parent_sql(cell_expr: str, child_res: int, parent_res: int,
               dialect: str = "spark") -> str:
    """SQL expression computing :func:`parent` for a known child res.

    Integer division spells differently per engine (`DIV` in Spark SQL,
    `//` in DuckDB); everything else is shared arithmetic.
    """
    div = "DIV" if dialect == "spark" else "//"
    shift = 1 << (child_res - parent_res)
    x = f"(({cell_expr}) % {1 << _Y_SHIFT})"
    y = f"((({cell_expr}) {div} {1 << _Y_SHIFT}) % {1 << _Y_SHIFT})"
    return (f"(CAST({parent_res} AS BIGINT) * {1 << _RES_SHIFT} "
            f"+ ({y} {div} {shift}) * {1 << _Y_SHIFT} + ({x} {div} {shift}))")
