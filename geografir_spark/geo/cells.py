"""Hierarchical Z-order (Morton) cell index — the engine's H3/S2 analog.

Layout of a cell id (non-negative int64)::

    cell = (interleave_bits(xi, yi) << 5) | res

where at resolution ``res`` (0..26) the world rectangle
lon ∈ [-180, 180), lat ∈ [-90, 90) is divided into 2^res × 2^res cells and

    xi = clamp(floor((lon + 180) / 360 * 2^res), 0, 2^res - 1)
    yi = clamp(floor((lat +  90) / 180 * 2^res), 0, 2^res - 1)

Why Morton and not row-major: sorting/partitioning by cell id clusters
spatially adjacent cells together (Z-order curve), so parquet row-group
min/max statistics act as a free spatial index at scale (cf. SURVEY.md §4.2,
"Global Range Encoding" trick), and parent/child navigation is a pure bit
shift: ``parent = ((cell >> 5) >> 2*dr) << 5 | (res - dr)``.

Every formula here is emitted **once** as SQL-fragment steps valid in BOTH
Spark SQL and DuckDB (bit-op parity verified: ``<<``, ``>>``, ``&``, ``|``,
``%``, ``floor`` behave identically on BIGINT/DOUBLE). The Spark engine
consumes the steps via ``selectExpr`` chains (native Catalyst, whole-stage
codegen, zero Python); the correctness oracle consumes the identical
fragments as nested DuckDB subqueries. The numpy implementation below is used
inside pandas-UDF kernels (polygon cover, k-ring) and in unit tests as a
third independent cross-check.

Reference parity: the reference has no cell index (absent: no tiling code
under /root/reference/ — it is a helper library, see SURVEY.md §2B); this
module is required by BASELINE.json ``north_rule`` ("H3/S2 index").
"""

from __future__ import annotations

import numpy as np

RES_BITS = 5
RES_MASK = (1 << RES_BITS) - 1  # 31
MAX_RES = 26  # 2*26 + 5 = 57 bits < 63 → always a positive int64

# Classic parallel bit-spread: x (≤32 bits) → even bit positions of a 64-bit
# word. Public-domain "Interleave bits by Binary Magic Numbers" construction
# (graphics.stanford.edu/~seander/bithacks.html).
_SPREAD_STEPS: list[tuple[int, int]] = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]
# Inverse (compact even bits back into the low half).
_COMPACT_STEPS: list[tuple[int, int]] = [
    (1, 0x3333333333333333),
    (2, 0x0F0F0F0F0F0F0F0F),
    (4, 0x00FF00FF00FF00FF),
    (8, 0x0000FFFF0000FFFF),
    (16, 0x00000000FFFFFFFF),
]

LON_MIN, LON_SPAN = -180.0, 360.0
LAT_MIN, LAT_SPAN = -90.0, 180.0


def _check_res(res: int) -> None:
    if not (0 <= res <= MAX_RES):
        raise ValueError(f"resolution must be in [0, {MAX_RES}], got {res}")


# ---------------------------------------------------------------------------
# Shared SQL fragments (valid in Spark SQL *and* DuckDB)
# ---------------------------------------------------------------------------

def axis_index_sql(coord_expr: str, res: int, *, lat: bool) -> str:
    """SQL for the clamped integer grid index of one axis."""
    _check_res(res)
    n = 1 << res
    origin, span = (LAT_MIN, LAT_SPAN) if lat else (LON_MIN, LON_SPAN)
    # literal structure kept byte-identical across engines & numpy for
    # deterministic IEEE-754 double math: ((coord - origin) / span) * n
    return (
        f"least(greatest(CAST(floor((({coord_expr}) - ({origin})) / {span} * {n}.0)"
        f" AS BIGINT), 0), {n - 1})"
    )


def _spread_pair_steps(steps: list[dict[str, str]], px: str, py: str, prefix: str) -> tuple[str, str]:
    """Append the ``_SPREAD_STEPS`` bit-spread of columns ``px``/``py`` to
    ``steps`` (temp columns ``{prefix}xs{i}``/``{prefix}ys{i}``) and return
    the names of the two spread columns."""
    for i, (sh, mask) in enumerate(_SPREAD_STEPS):
        steps.append(
            {
                f"{prefix}xs{i}": f"(({px} | ({px} << {sh})) & {mask})",
                f"{prefix}ys{i}": f"(({py} | ({py} << {sh})) & {mask})",
            }
        )
        px, py = f"{prefix}xs{i}", f"{prefix}ys{i}"
    return px, py


def interleave_steps(xi: str, yi: str, res: "int | str", out: str = "cell") -> list[dict[str, str]]:
    """Step list Morton-interleaving the integer grid indices ``xi``/``yi``
    (SQL expressions) into the cell id ``out`` at resolution ``res`` — a
    literal or a SQL expression (the ``res`` parameter of the
    ``cell_encode`` SQL function).

    Each step is a {column_name: sql_expr} dict; expressions in step i may
    reference columns named in steps < i. Temp columns start with ``__``.
    """
    steps: list[dict[str, str]] = [{"__xi": xi, "__yi": yi}]
    px, py = _spread_pair_steps(steps, "__xi", "__yi", "__")
    steps.append({out: f"((({px} | ({py} << 1)) << {RES_BITS}) | {res})"})
    return steps


def encode_steps(lon_expr: str, lat_expr: str, res: int, out: str = "cell") -> list[dict[str, str]]:
    """Step list computing ``out`` from lon/lat SQL expressions."""
    return interleave_steps(
        axis_index_sql(lon_expr, res, lat=False),
        axis_index_sql(lat_expr, res, lat=True),
        res,
        out,
    )


def encode_idx_steps(xi_expr: str, yi_expr: str, res: int, out: str = "cell") -> list[dict[str, str]]:
    """Like encode_steps but from integer grid indices (already in
    [0, 2^res)) instead of lon/lat."""
    _check_res(res)
    return interleave_steps(
        f"CAST({xi_expr} AS BIGINT)", f"CAST({yi_expr} AS BIGINT)", res, out
    )


def compact_steps(cell_expr: str, out_x: str = "__cx", out_y: str = "__cy") -> list[dict[str, str]]:
    """Step list recovering grid indices (xi, yi) from a cell id."""
    steps: list[dict[str, str]] = [
        {
            "__mx0": f"((({cell_expr}) >> {RES_BITS}) & 6148914691236517205)",  # & 0x5555...
            "__my0": f"(((({cell_expr}) >> {RES_BITS}) >> 1) & 6148914691236517205)",
        }
    ]
    px, py = "__mx0", "__my0"
    for i, (sh, mask) in enumerate(_COMPACT_STEPS):
        steps.append(
            {
                f"__mx{i + 1}": f"(({px} | ({px} >> {sh})) & {mask})",
                f"__my{i + 1}": f"(({py} | ({py} >> {sh})) & {mask})",
            }
        )
        px, py = f"__mx{i + 1}", f"__my{i + 1}"
    steps.append({out_x: px, out_y: py})
    return steps


GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_steps(
    lon_expr: str, lat_expr: str, precision: int, out: str = "geohash"
) -> list[dict[str, str]]:
    """Step list computing the standard base-32 geohash string of a point —
    the interchange tiling key (Redis/Elasticsearch/PostGIS all speak it),
    alongside the engine's native Morton cell ids.

    Same shared-dialect discipline as ``encode_steps``: pure bit math +
    substr/concat, valid in Spark SQL and DuckDB, zero Python. Geohash
    interleaves LON-first from the MSB (the transposed convention vs our
    Z-order cells); geohashes are prefix-stable, so odd precisions are
    computed at the next even precision and truncated — bit-identical to
    the direct construction.

    Bound: precision ≤ 12 (even-padded 60 bits + interleave fits int64).
    """
    if not (1 <= precision <= 12):
        raise ValueError(f"geohash precision must be in [1, 12], got {precision}")
    peven = precision + (precision % 2)
    half = 5 * peven // 2  # bits per axis
    n = 1 << half
    steps: list[dict[str, str]] = [
        {
            "__gxi": (
                f"least(greatest(CAST(floor((({lon_expr}) - ({LON_MIN})) /"
                f" {LON_SPAN} * {n}.0) AS BIGINT), 0), {n - 1})"
            ),
            "__gyi": (
                f"least(greatest(CAST(floor((({lat_expr}) - ({LAT_MIN})) /"
                f" {LAT_SPAN} * {n}.0) AS BIGINT), 0), {n - 1})"
            ),
        }
    ]
    px, py = _spread_pair_steps(steps, "__gxi", "__gyi", "__g")
    # lon bits land on the ODD (higher) interleave positions = MSB-first
    steps.append({"__gh": f"(({px} << 1) | {py})"})
    bits = 5 * peven
    chars = ", ".join(
        f"substr('{GEOHASH_ALPHABET}',"
        f" CAST(((__gh >> {bits - 5 * (k + 1)}) & 31) + 1 AS INT), 1)"
        for k in range(precision)
    )
    steps.append({out: f"concat({chars})"})
    return steps


def hilbert_steps(
    xi_expr: str, yi_expr: str, res: int, out: str = "hilbert"
) -> list[dict[str, str]]:
    """Step list computing the HILBERT curve index of grid indices — the
    S2-family locality key (S2 cell ids are Hilbert-ordered): consecutive
    indices are ALWAYS 4-adjacent cells, unlike Morton's quadrant jumps,
    which tightens range-scan locality for clustered writes.

    Same shared-dialect discipline as ``encode_steps``: the per-level
    rotation is expressed with pure arithmetic only — the quadrant digit
    ``(3·rx) XOR ry`` is rewritten ``3·rx + ry − 2·rx·ry`` (exact for
    bits), and the rotate/flip is CASE + ``%`` on non-negative ints — so
    one step list serves Spark, DuckDB, and the numpy twin below.
    Bijectivity and unit-step adjacency are property-tested per res.
    """
    _check_res(res)
    steps: list[dict[str, str]] = [
        {
            "__hx0": f"CAST({xi_expr} AS BIGINT)",
            "__hy0": f"CAST({yi_expr} AS BIGINT)",
            "__hd0": "CAST(0 AS BIGINT)",
        }
    ]
    for i in range(res):
        s = 1 << (res - 1 - i)
        x, y, d = f"__hx{i}", f"__hy{i}", f"__hd{i}"
        rx = f"(CASE WHEN ({x} & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN ({y} & {s}) > 0 THEN 1 ELSE 0 END)"
        steps.append({f"__rx{i}": rx, f"__ry{i}": ry})
        rx, ry = f"__rx{i}", f"__ry{i}"
        steps.append(
            {
                f"__hd{i + 1}": (
                    f"({d} + {s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry}))"
                ),
                f"__hx{i + 1}": (
                    f"(CASE WHEN {ry} = 1 THEN {x} % {s}"
                    f" WHEN {rx} = 1 THEN {s - 1} - ({y} % {s})"
                    f" ELSE {y} % {s} END)"
                ),
                f"__hy{i + 1}": (
                    f"(CASE WHEN {ry} = 1 THEN {y} % {s}"
                    f" WHEN {rx} = 1 THEN {s - 1} - ({x} % {s})"
                    f" ELSE {x} % {s} END)"
                ),
            }
        )
    steps.append({out: f"__hd{res}"})
    return steps


def hilbert_np(xi: np.ndarray, yi: np.ndarray, res: int) -> np.ndarray:
    """numpy twin of ``hilbert_steps`` (same per-level formulas)."""
    x = np.asarray(xi, dtype=np.int64).copy()
    y = np.asarray(yi, dtype=np.int64).copy()
    d = np.zeros_like(x)
    s = (1 << res) >> 1
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * (3 * rx + ry - 2 * rx * ry)
        xm, ym = x % s, y % s
        nx = np.where(ry == 1, xm, np.where(rx == 1, s - 1 - ym, ym))
        ny = np.where(ry == 1, ym, np.where(rx == 1, s - 1 - xm, xm))
        x, y = nx, ny
        s >>= 1
    return d


def parent_sql(cell_expr: str, target_res: int) -> str:
    """Single SQL expression: ancestor of ``cell`` at ``target_res``.

    Assumes cell res ≥ target_res (shift by a negative amount is undefined).
    """
    _check_res(target_res)
    return (
        f"(((( ({cell_expr}) >> {RES_BITS} ) >> (2 * ((({cell_expr}) & {RES_MASK})"
        f" - {target_res}))) << {RES_BITS}) | {target_res})"
    )


def res_sql(cell_expr: str) -> str:
    return f"(({cell_expr}) & {RES_MASK})"


def nested_sql(base_sql: str, steps: list[dict[str, str]]) -> str:
    """Fold step dicts into nested subqueries (for the DuckDB oracle)."""
    q = base_sql
    for st in steps:
        cols = ", ".join(f"{expr} AS {name}" for name, expr in st.items())
        q = f"SELECT *, {cols} FROM ({q})"
    return q


# ---------------------------------------------------------------------------
# Spark DataFrame helpers (native Catalyst — no UDFs)
# ---------------------------------------------------------------------------

def apply_steps(df, steps: list[dict[str, str]]):
    """Apply step dicts to a DataFrame; drop ``__`` temps. All steps go in
    one selectExpr, where later steps read earlier ones as lateral column
    aliases: the analyzer still plans one Project per step, but the
    DataFrame is analyzed once instead of once per step."""
    temps = [name for st in steps for name in st if name.startswith("__")]
    exprs = [f"{expr} AS {name}" for st in steps for name, expr in st.items()]
    return df.selectExpr("*", *exprs).drop(*temps)


def with_cell(df, lon_col: str, lat_col: str, res: int, out: str = "cell"):
    """Add a Z-order cell-id column computed from lon/lat columns.

    Whole-stage-codegen'd bit math; shows up in ``explain`` as a plain
    Project, never an ArrowEvalPython/BatchEvalPython node.
    """
    return apply_steps(df, encode_steps(lon_col, lat_col, res, out))


def with_parent(df, cell_col: str, target_res: int, out: str = "parent_cell"):
    return df.selectExpr("*", f"{parent_sql(cell_col, target_res)} AS {out}")


def with_xy(df, cell_col: str, out_x: str = "cell_x", out_y: str = "cell_y"):
    return apply_steps(df, compact_steps(cell_col, out_x, out_y))


# ---------------------------------------------------------------------------
# numpy implementation (for pandas-UDF kernels + independent test oracle)
# ---------------------------------------------------------------------------

def _spread_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    for sh, mask in _SPREAD_STEPS:
        v = (v | (v << sh)) & mask
    return v


def _compact_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64) & 0x5555555555555555
    for sh, mask in _COMPACT_STEPS:
        v = (v | (v >> sh)) & mask
    return v


def axis_index_np(coord, res: int, *, lat: bool) -> np.ndarray:
    n = 1 << res
    origin, span = (LAT_MIN, LAT_SPAN) if lat else (LON_MIN, LON_SPAN)
    idx = np.floor((np.asarray(coord, dtype=np.float64) - origin) / span * float(n))
    return np.clip(idx, 0, n - 1).astype(np.int64)


def encode_np(lon, lat, res: int) -> np.ndarray:
    _check_res(res)
    xi = axis_index_np(lon, res, lat=False)
    yi = axis_index_np(lat, res, lat=True)
    return encode_idx_np(xi, yi, res)


def encode_idx_np(xi: np.ndarray, yi: np.ndarray, res: int) -> np.ndarray:
    return ((_spread_np(xi) | (_spread_np(yi) << 1)) << RES_BITS) | res


def decode_np(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    m = cell >> RES_BITS
    return _compact_np(m), _compact_np(m >> 1), cell & RES_MASK


def cell_bounds_np(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(minx, miny, maxx, maxy) of each cell in degrees."""
    xi, yi, res = decode_np(cell)
    n = (np.int64(1) << res).astype(np.float64)
    cw, ch = LON_SPAN / n, LAT_SPAN / n
    minx = LON_MIN + xi * cw
    miny = LAT_MIN + yi * ch
    return minx, miny, minx + cw, miny + ch


def cell_size(res: int) -> tuple[float, float]:
    n = float(1 << res)
    return LON_SPAN / n, LAT_SPAN / n


def ring_np(cell: int, k: int) -> np.ndarray:
    """All cells at chebyshev grid distance exactly ``k`` from ``cell``
    (k=0 → the cell itself), clipped at the world edge (no wraparound —
    matches the oracle's clamped-grid semantics)."""
    xi, yi, res = decode_np(np.asarray([cell]))
    xi, yi, res = int(xi[0]), int(yi[0]), int(res[0])
    n = 1 << res
    if k == 0:
        return np.asarray([cell], dtype=np.int64)
    xs, ys = [], []
    for dx in range(-k, k + 1):
        for dy in (-k, k):
            xs.append(xi + dx)
            ys.append(yi + dy)
    for dy in range(-k + 1, k):
        for dx in (-k, k):
            xs.append(xi + dx)
            ys.append(yi + dy)
    xs = np.asarray(xs, dtype=np.int64)
    ys = np.asarray(ys, dtype=np.int64)
    ok = (xs >= 0) & (xs < n) & (ys >= 0) & (ys < n)
    return encode_idx_np(xs[ok], ys[ok], res)


def disk_np(cell: int, k: int) -> np.ndarray:
    """All cells at chebyshev distance ≤ k (the filled k-ring)."""
    xi, yi, res = decode_np(np.asarray([cell]))
    xi, yi, res = int(xi[0]), int(yi[0]), int(res[0])
    n = 1 << res
    x0, x1 = max(xi - k, 0), min(xi + k, n - 1)
    y0, y1 = max(yi - k, 0), min(yi + k, n - 1)
    gx, gy = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
    return encode_idx_np(gx.ravel(), gy.ravel(), res)


def cover_bbox_np(minx: float, miny: float, maxx: float, maxy: float, res: int) -> np.ndarray:
    """Cell ids covering an axis-aligned bbox (inclusive of edge cells)."""
    _check_res(res)
    n = 1 << res
    x0 = int(axis_index_np(minx, res, lat=False))
    y0 = int(axis_index_np(miny, res, lat=True))
    # right/top edges are inclusive: a max coordinate exactly on a cell
    # boundary indexes the next cell up, and the cover includes that cell
    # (there is no nudge back below the boundary).
    x1 = int(min(axis_index_np(maxx, res, lat=False), n - 1))
    y1 = int(min(axis_index_np(maxy, res, lat=True), n - 1))
    gx, gy = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
    return encode_idx_np(gx.ravel(), gy.ravel(), res)


def compact_np(cell_ids) -> np.ndarray:
    """H3-style ``compact``: replace every complete quad of sibling cells
    with their parent, recursively, yielding the minimal multi-resolution
    set covering the same area. Interior regions of a large cover collapse
    by ~4× per level — the storage/broadcast form of a polygon cover (a
    CONUS-sized zone at res 12 is ~10⁶ cells raw, ~10⁴ compacted).

    Input: cell ids at any mix of resolutions (duplicates ignored).
    Output: sorted unique minimal set; union of cell areas is unchanged
    (pinned by the uncompact round-trip property test)."""
    cur = np.unique(np.asarray(cell_ids, dtype=np.int64))
    out: list[np.ndarray] = []
    while len(cur):
        res = cur & RES_MASK
        r = int(res.max())
        at = cur[res == r]
        rest = cur[res != r]
        if r == 0:
            out.append(at)
            cur = rest
            continue
        m = at >> RES_BITS
        parents = m >> 2
        uniq, counts = np.unique(parents, return_counts=True)
        full = uniq[counts == 4]
        is_full = np.isin(parents, full)
        out.append(at[~is_full])
        promoted = (full << RES_BITS) | (r - 1)
        cur = np.unique(np.concatenate([rest, promoted]))
    return np.sort(np.concatenate(out)) if out else np.zeros(0, dtype=np.int64)


def uncompact_np(cell_ids, target_res: int) -> np.ndarray:
    """Inverse of ``compact_np``: expand every cell to its descendants at
    ``target_res`` (cells already at target pass through; finer-than-target
    input is an error, as in H3)."""
    cells_arr = np.unique(np.asarray(cell_ids, dtype=np.int64))
    res = cells_arr & RES_MASK
    if (res > target_res).any():
        raise ValueError(f"cell finer than target_res {target_res}")
    parts = []
    for r in np.unique(res):
        at = cells_arr[res == r] >> RES_BITS
        d = int(target_res - r)
        k = np.arange(1 << (2 * d), dtype=np.int64)
        children = ((at[:, None] << (2 * d)) + k[None, :]).ravel()
        parts.append((children << RES_BITS) | target_res)
    return np.sort(np.concatenate(parts))
