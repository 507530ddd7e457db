"""Hierarchical quadtree cell index — Morton / Z-order (S2-like),
implemented from scratch (no h3/s2/shapely in the environment;
SURVEY.md §0, BASELINE.json north_star "batched cell encoding at
resolution r").

Layout of a 64-bit cell id at resolution ``r`` (r ≤ 26):

    [ ... zeros ... | interleaved x/y bits (2r) | resolution (5 bits) ]

- grid: ``2^r × 2^r`` over lon ∈ [-180, 180], lat ∈ [-90, 90]
- x bits occupy odd positions, y bits even positions of the Morton code
- ``parent = ((id >> 5) >> 2 << 5) | (r-1)`` — hierarchical by
  construction (one quadtree level per resolution step, the
  "interleaved" graft axis)

Three interchangeable implementations of the same bit-exact function:

1. :func:`cell_encode_np` — vectorized numpy (used inside Arrow UDFs)
2. :func:`cell_encode_col` — pure Spark Column expression (JVM-side,
   whole-stage codegen; the hot path for bulk encoding — no Python)
3. :func:`cell_encode_sql` — SQL text in a chosen dialect
   (``spark`` / ``duckdb``) so the driver's DuckDB oracle computes the
   identical codes

All use the same double-precision arithmetic (floor((lon+180)/360*2^r))
so results agree bit-for-bit across numpy, the JVM, and DuckDB.

The bit spreading differs by form. numpy and the SQL text run the
classic 5-step mask cascade ``x = ((x << s) | x) & m``. The Column form
cannot: each step references its input twice, so the cascade holds 32
copies of the float→grid expression per axis, and Catalyst evaluates
every copy wherever it inlines the encode into a filter. The Column
form looks each input byte up in a 256-entry table instead
(``spread(x) = OR_k T[(x >> 8k) & 255] << 16k`` over the ``res`` bits
in use), so an input appears ceil(res/8) times; decode gathers with a
second byte table. Each table is one SQL array literal.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, functions as F

MAX_RES = 26
RES_BITS = 5
RES_MASK = (1 << RES_BITS) - 1

# Magic masks for 32→64 bit interleave (standard Morton spreading).
_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


# ---------------------------------------------------------------------------
# numpy implementation
# ---------------------------------------------------------------------------

def _spread_np(v: np.ndarray) -> np.ndarray:
    x = v.astype(np.uint64)
    for shift, mask in _SPREAD_MASKS:
        x = (x | (x << np.uint64(shift))) & np.uint64(mask)
    return x


def _grid_np(lon: np.ndarray, lat: np.ndarray, res: int):
    n = float(1 << res)
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n)
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n)
    hi = n - 1.0
    ix = np.clip(ix, 0.0, hi).astype(np.uint64)
    iy = np.clip(iy, 0.0, hi).astype(np.uint64)
    return ix, iy


def cell_encode_np(lon, lat, res: int) -> np.ndarray:
    """(lon, lat) arrays → int64 cell ids at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    ix, iy = _grid_np(np.asarray(lon), np.asarray(lat), res)
    code = (_spread_np(ix) << np.uint64(1)) | _spread_np(iy)
    return ((code << np.uint64(RES_BITS)) | np.uint64(res)).astype(np.int64)


def cell_encode_grid_np(ix, iy, res: int) -> np.ndarray:
    """Integer grid coords → int64 cell ids (skips the float→grid
    conversion of :func:`cell_encode_np`; bit-identical for in-range
    coords — callers guarantee 0 <= ix, iy < 2**res)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    gx = np.asarray(ix).astype(np.uint64)
    gy = np.asarray(iy).astype(np.uint64)
    code = (_spread_np(gx) << np.uint64(1)) | _spread_np(gy)
    return ((code << np.uint64(RES_BITS)) | np.uint64(res)).astype(np.int64)


def _compact_np(v: np.ndarray) -> np.ndarray:
    """Inverse of _spread_np: gather every other bit into the low half."""
    x = v & np.uint64(0x5555555555555555)
    x = (x | (x >> np.uint64(1))) & np.uint64(0x3333333333333333)
    x = (x | (x >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return x


# Byte tables for the Column forms. _SPREAD_LUT[b] is byte b spread to
# 16 bits. _COMPACT_LUT[b] gathers the odd bits of byte b (4 x bits)
# into bits 0-3 and its even bits (4 y bits) into bits 32-35.
_BYTES = np.arange(256, dtype=np.uint64)
_SPREAD_LUT = tuple(int(v) for v in _spread_np(_BYTES))
_COMPACT_LUT = tuple(
    int(v) for v in _compact_np(_BYTES >> np.uint64(1))
    | (_compact_np(_BYTES) << np.uint64(32)))


def cell_decode_np(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell ids → (ix, iy, res) grid coordinates."""
    c = np.asarray(cell).astype(np.uint64)
    res = (c & np.uint64(RES_MASK)).astype(np.int64)
    code = c >> np.uint64(RES_BITS)
    ix = _compact_np(code >> np.uint64(1)).astype(np.int64)
    iy = _compact_np(code).astype(np.int64)
    return ix, iy, res


def cell_parent_np(cell, steps: int = 1) -> np.ndarray:
    """Parent cell ``steps`` resolution levels up."""
    c = np.asarray(cell).astype(np.uint64)
    res = (c & np.uint64(RES_MASK)).astype(np.int64)
    code = c >> np.uint64(RES_BITS)
    new_res = res - steps
    if np.any(new_res < 0):
        raise ValueError("parent below resolution 0")
    code = code >> (np.uint64(2) * np.uint64(steps))
    return ((code << np.uint64(RES_BITS)) | new_res.astype(np.uint64)).astype(np.int64)


def cell_bounds_np(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell ids → (west, south, east, north) degree bounds."""
    ix, iy, res = cell_decode_np(cell)
    n = np.power(2.0, res.astype(np.float64))
    w = ix / n * 360.0 - 180.0
    s = iy / n * 180.0 - 90.0
    return w, s, w + 360.0 / n, s + 180.0 / n


def cell_kring_np(cell: int, radius: int) -> np.ndarray:
    """All cells within Chebyshev distance ``radius`` of one cell, at the
    same resolution. x wraps around the antimeridian; y clamps at the
    poles. Returns unique sorted int64 ids (the k-ring used for kNN
    expansion, BASELINE.json north_star)."""
    ix, iy, res = cell_decode_np(np.array([cell]))
    ix, iy, res = int(ix[0]), int(iy[0]), int(res[0])
    n = 1 << res
    dx, dy = np.meshgrid(np.arange(-radius, radius + 1),
                         np.arange(-radius, radius + 1))
    xs = (ix + dx.ravel()) % n
    ys = iy + dy.ravel()
    ok = (ys >= 0) & (ys < n)
    xs, ys = xs[ok].astype(np.uint64), ys[ok].astype(np.uint64)
    code = (_spread_np(xs) << np.uint64(1)) | _spread_np(ys)
    out = ((code << np.uint64(RES_BITS)) | np.uint64(res)).astype(np.int64)
    return np.unique(out)


# ---------------------------------------------------------------------------
# Spark Column implementation (JVM-side, codegen-friendly)
# ---------------------------------------------------------------------------

def _lut_col(values) -> Column:
    """A constant BIGINT array as ONE parsed SQL literal: a single
    driver→JVM call, where ``F.array`` over ``F.lit`` Columns costs
    several per element. Catalyst folds it to one array literal."""
    return F.expr("array(" + ",".join(f"{v}L" for v in values) + ")")


def _lookup_col(lut: Column, c: Column, shift: int) -> Column:
    """``lut[(c >> shift) & 255]``. ``& 255`` keeps the index inside the
    256-entry table, so ANSI mode never raises; under ANSI, Catalyst
    also types the lookup NOT NULL whenever ``c`` is, as it does the
    bit arithmetic it replaces."""
    return lut[(F.shiftright(c, shift) if shift else c).bitwiseAND(255)]


def _spread_col(c: Column, bits: int, lut: Column) -> Column:
    """Spread the low ``bits`` bits of ``c`` (a zero bit above each
    one): one lookup in the byte table ``lut`` (:data:`_SPREAD_LUT`)
    per 8 bits, so ``c`` appears ceil(bits/8) times (at least once,
    which keeps NULL in → NULL out)."""
    out = _lookup_col(lut, c, 0)
    for k in range(1, -(-bits // 8)):
        out = out.bitwiseOR(F.shiftleft(_lookup_col(lut, c, 8 * k), 16 * k))
    return out


def _interleave_col(hi: Column, lo: Column, bits: int,
                    lut: Column) -> Column:
    """Morton interleave of the low ``bits`` bits of two integer
    Columns: ``hi`` on the odd bit positions, ``lo`` on the even."""
    return F.shiftleft(_spread_col(hi, bits, lut), 1) \
        .bitwiseOR(_spread_col(lo, bits, lut))


def _morton_col(ix: Column, iy: Column, res: int, *,
                lut: Column | None = None) -> Column:
    """Cell id of the integer grid coordinates (``ix``, ``iy``) at
    ``res`` — the one Column form of the Morton layout. Spreads the low
    ``res`` bits of each coordinate; callers keep 0 <= ix, iy < 2**res.
    ``lut`` lets a caller that encodes many cells in one expression
    share one table."""
    lut = _lut_col(_SPREAD_LUT) if lut is None else lut
    code = _interleave_col(ix, iy, res, lut)
    return F.shiftleft(code, RES_BITS).bitwiseOR(res)


def _grid_col(coord: Column, offset: float, extent: float, res: int) -> Column:
    n = float(1 << res)
    raw = F.floor((coord + F.lit(offset)) / F.lit(extent) * F.lit(n))
    return F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), raw)).cast("long")


def cell_encode_col(lon: Column, lat: Column, res: int) -> Column:
    """Pure-Column Morton encode: stays inside whole-stage codegen —
    zero Python in the hot loop. Bit-exact with :func:`cell_encode_np`
    and :func:`cell_encode_sql`."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    ix = _grid_col(lon, 180.0, 360.0, res)
    iy = _grid_col(lat, 90.0, 180.0, res)
    # The grid coordinates are never NULL (greatest() skips NULLs), so
    # neither is the cell. The coalesce is never taken: it tells Catalyst
    # so with ANSI off too, where a table lookup is typed nullable. A
    # join on a NOT NULL cell_id infers no isnotnull filter that would
    # re-run the encode.
    return F.coalesce(_morton_col(ix, iy, res), F.lit(res)).alias("cell_id")


def cell_decode_cols(cell: Column) -> tuple[Column, Column, Column]:
    """Pure-Column cell decode: cell id → (ix, iy, res) grid
    coordinates, bit-exact with :func:`cell_decode_np` for every cell
    id at res ≤ :data:`MAX_RES`. Stays inside whole-stage codegen
    (bitwise only — cells are non-negative, so the arithmetic shifts
    behave as logical). The inverse of :func:`_spread_col` is a gather
    by byte table: each byte of the interleaved code holds 4 bits of
    each axis, and :data:`_COMPACT_LUT` returns both at once, x in the
    low word and y in the high one. So ``cell`` appears 7 times in
    all, where the mask cascade needed 32 copies per axis."""
    lut = _lut_col(_COMPACT_LUT)
    both = _lookup_col(lut, cell, RES_BITS)
    for k in range(1, -(-2 * MAX_RES // 8)):
        both = both.bitwiseOR(
            F.shiftleft(_lookup_col(lut, cell, RES_BITS + 8 * k), 4 * k))
    return (both.bitwiseAND(F.lit(0xFFFFFFFF)), F.shiftright(both, 32),
            cell.bitwiseAND(F.lit(RES_MASK)))


def cell_encode_grid_col(ix: Column, iy: Column, res: int) -> Column:
    """Pure-Column Morton encode from INTEGER grid coordinates (skips
    the float→grid step of :func:`cell_encode_col`; callers guarantee
    0 <= ix, iy < 2**res). Bit-exact with :func:`cell_encode_grid_np`
    and the oracle-side ``_morton_ctes`` replay."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    return _morton_col(ix.cast("long"), iy.cast("long"), res).alias("cell_id")


def cell_kring_col(lon: Column, lat: Column, res: int,
                   radius: int) -> Column:
    """k-ring as a PURE Column expression: array of the ≤ (2r+1)²
    same-resolution cells within Chebyshev ``radius`` of the (lon, lat)
    home cell — x wraps around the antimeridian (pmod), y clamps at the
    poles (out-of-range offsets dropped), wrap duplicates on a tiny
    grid deduped. Mirrors :func:`cell_kring_np` exactly (same grid
    math, same Morton encode) but stays inside whole-stage codegen —
    the (dx, dy) offsets are compile-time literals for small rings
    (fully unrolled in codegen) and a constant-size higher-order
    ``sequence``/``transform`` expansion for large ones, so there is
    no per-row Python at any radius."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    n = 1 << res
    lut = _lut_col(_SPREAD_LUT)

    def encode(xs: Column, ys: Column) -> Column:
        return F.when((ys >= 0) & (ys < n), _morton_col(xs, ys, res, lut=lut))

    ix = _grid_col(lon, 180.0, 360.0, res)
    iy = _grid_col(lat, 90.0, 180.0, res)
    if radius <= 4:
        cells = []
        for dx in range(-radius, radius + 1):
            xs = F.pmod(ix + F.lit(dx), F.lit(n))
            for dy in range(-radius, radius + 1):
                cells.append(encode(xs, iy + F.lit(dy)))
        arr = F.array(*cells)
    else:
        offs = F.sequence(F.lit(-radius), F.lit(radius))
        arr = F.flatten(F.transform(
            offs, lambda dx: F.transform(
                offs, lambda dy: encode(F.pmod(ix + dx, F.lit(n)),
                                        iy + dy))))
    return F.array_distinct(F.filter(arr, lambda c: c.isNotNull()))


def cell_res_col(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit(RES_MASK))


def cell_parent_col(cell: Column, steps: int = 1) -> Column:
    code = F.shiftright(cell, RES_BITS + 2 * steps)
    res = cell.bitwiseAND(F.lit(RES_MASK)) - F.lit(steps)
    return F.shiftleft(code, RES_BITS).bitwiseOR(res)


# ---------------------------------------------------------------------------
# SQL-text implementation (for the DuckDB correctness oracle)
# ---------------------------------------------------------------------------

def _shift_sql(expr: str, n: int, dialect: str) -> str:
    if dialect == "spark":
        return f"shiftleft({expr}, {n})"
    return f"({expr} << {n})"


def _spread_sql(expr: str, dialect: str) -> str:
    x = expr
    for shift, mask in _SPREAD_MASKS:
        x = f"(({_shift_sql(x, shift, dialect)} | {x}) & {mask})"
    return x


def cell_encode_sql(lon_expr: str, lat_expr: str, res: int,
                    dialect: str = "duckdb") -> str:
    """SQL text computing the identical cell id — used to express the
    tiling engine's cell codes in the driver's DuckDB oracle queries.

    Note: the spread expression textually duplicates its input, so pass
    simple column references (or pre-computed subquery columns), not
    heavy expressions. It keeps the mask cascade on purpose, unlike the
    byte-table :func:`cell_encode_col`: the DuckDB oracle stays an
    independent formulation of the same bits.
    """
    n = float(1 << res)
    hi = (1 << res) - 1
    ix = (f"CAST(GREATEST(0, LEAST({hi}, "
          f"FLOOR(({lon_expr} + 180.0) / 360.0 * {n}))) AS BIGINT)")
    iy = (f"CAST(GREATEST(0, LEAST({hi}, "
          f"FLOOR(({lat_expr} + 90.0) / 180.0 * {n}))) AS BIGINT)")
    # keep the expression tree small: spread over subquery-ready exprs
    sx = _spread_sql(ix, dialect)
    sy = _spread_sql(iy, dialect)
    code = f"({_shift_sql(sx, 1, dialect)} | {sy})"
    return f"({_shift_sql(code, RES_BITS, dialect)} | {res})"

# ---------------------------------------------------------------------------
# Geohash (base32) — interoperable string cell codes
# ---------------------------------------------------------------------------
#
# Standard geohash: interleave longitude/latitude bits with LONGITUDE
# first (the MSB of the code is the top longitude bit), 5 bits per
# base32 character.  Precision ``p`` chars → 5p bits → ceil(5p/2) lon
# bits + floor(5p/2) lat bits.  This is the industry-portable string
# form of the same quadtree the Morton cell ids encode — emitted when a
# downstream system (Elasticsearch, Redis geo, BI tools) expects
# geohash strings rather than int64 cells.

GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
MAX_GEOHASH_PRECISION = 12  # 60 bits — the longest standard geohash


def _geohash_bits(precision: int) -> tuple[int, int, int]:
    if not 1 <= precision <= MAX_GEOHASH_PRECISION:
        raise ValueError(
            f"precision must be in [1, {MAX_GEOHASH_PRECISION}]")
    total = 5 * precision
    nlon = (total + 1) // 2
    nlat = total // 2
    return total, nlon, nlat


def geohash_encode_np(lon, lat, precision: int = 8) -> np.ndarray:
    """(lon, lat) arrays → geohash strings (numpy reference impl)."""
    total, nlon, nlat = _geohash_bits(precision)
    nx, ny = float(1 << nlon), float(1 << nlat)
    ix = np.clip(np.floor((np.asarray(lon, np.float64) + 180.0)
                          / 360.0 * nx), 0.0, nx - 1.0).astype(np.uint64)
    iy = np.clip(np.floor((np.asarray(lat, np.float64) + 90.0)
                          / 180.0 * ny), 0.0, ny - 1.0).astype(np.uint64)
    # lon-first interleave: the code's MSB must be lon's top bit AND
    # the bit at distance k from the MSB alternates lon/lat.  With an
    # even bit total (nlon == nlat) that places lon on ODD positions
    # (lsb = lat[0]); with an odd total (nlon = nlat + 1) lon sits on
    # EVEN positions (lsb = lon[0]).
    if total % 2 == 0:
        code = (_spread_np(ix) << np.uint64(1)) | _spread_np(iy)
    else:
        code = _spread_np(ix) | (_spread_np(iy) << np.uint64(1))
    out = np.empty(code.shape, dtype=object)
    for i in range(code.size):
        c = int(code.flat[i])
        out.flat[i] = "".join(
            GEOHASH_ALPHABET[(c >> (5 * (precision - 1 - k))) & 31]
            for k in range(precision))
    return out


def geohash_encode_col(lon: Column, lat: Column,
                       precision: int = 8) -> Column:
    """Pure-Column geohash encode: grid + Morton spread + per-char
    base32 lookup, all inside whole-stage codegen (the lookup is an
    ``element_at`` over a constant 32-element array — no Python).
    Bit-exact with :func:`geohash_encode_np` and
    :func:`geohash_encode_sql`."""
    total, nlon, nlat = _geohash_bits(precision)
    ix = _grid_col(lon, 180.0, 360.0, nlon)
    iy = _grid_col(lat, 90.0, 180.0, nlat)
    lut = _lut_col(_SPREAD_LUT)
    if total % 2 == 0:
        code = _interleave_col(ix, iy, nlon, lut)
    else:
        code = _interleave_col(iy, ix, nlon, lut)
    alpha = F.array(*[F.lit(ch) for ch in GEOHASH_ALPHABET])
    chars = [
        F.element_at(
            alpha,
            (F.shiftright(code, 5 * (precision - 1 - k))
             .bitwiseAND(F.lit(31)) + F.lit(1)).cast("int"))
        for k in range(precision)]
    return F.concat(*chars)


def geohash_encode_sql(lon_expr: str, lat_expr: str,
                       precision: int = 8,
                       dialect: str = "duckdb") -> str:
    """SQL text computing the identical geohash string (DuckDB oracle
    replay).  Pass simple column references — the spread duplicates
    its input textually."""
    total, nlon, nlat = _geohash_bits(precision)
    fx, fy = float(1 << nlon), float(1 << nlat)
    hx, hy = (1 << nlon) - 1, (1 << nlat) - 1
    ix = (f"CAST(GREATEST(0, LEAST({hx}, "
          f"FLOOR(({lon_expr} + 180.0) / 360.0 * {fx}))) AS BIGINT)")
    iy = (f"CAST(GREATEST(0, LEAST({hy}, "
          f"FLOOR(({lat_expr} + 90.0) / 180.0 * {fy}))) AS BIGINT)")
    if total % 2 == 0:
        code = (f"({_shift_sql(_spread_sql(ix, dialect), 1, dialect)}"
                f" | {_spread_sql(iy, dialect)})")
    else:
        code = (f"({_spread_sql(ix, dialect)}"
                f" | {_shift_sql(_spread_sql(iy, dialect), 1, dialect)})")
    shr = "shiftright({e}, {n})" if dialect == "spark" else "({e} >> {n})"
    parts = []
    for k in range(precision):
        idx = (f"(({shr.format(e='code', n=5 * (precision - 1 - k))})"
               " & 31)")
        parts.append(
            f"substring('{GEOHASH_ALPHABET}', CAST({idx} AS INTEGER) + 1, 1)")
    concat = " || ".join(parts)
    return f"(SELECT {concat} FROM (SELECT {code} AS code) AS _gh)"


def quadkey_col(ix, iy, z: int):
    """Bing-style quadkey STRING for integer tile coordinates at zoom
    ``z`` — the interchange format the Morton
    :func:`cell_encode`/:func:`geohash_encode` family lacks: one
    base-4 digit per zoom level, digit i = x-bit + 2·y-bit at level
    i, so a PREFIX of a quadkey is exactly its ancestor tile (prefix
    joins give pyramid rollups for free, the
    :func:`~kml2geojson_spark.spatial.ops.tile_pyramid` trick in
    string space).

    Pure Column bit arithmetic + one concat — whole-stage codegen,
    trivially replayed in SQL. Callers clamp ix/iy to [0, 2^z).
    """
    if not 1 <= z <= 23:
        raise ValueError(f"z must be in [1, 23], got {z}")
    digits = []
    for i in range(1, z + 1):
        shift = z - i
        dx = F.shiftright(ix, shift).bitwiseAND(F.lit(1))
        dy = F.shiftright(iy, shift).bitwiseAND(F.lit(1))
        digits.append((dx + dy * F.lit(2)).cast("string"))
    return F.concat(*digits)


def quadkey_sql(ix: str, iy: str, z: int) -> str:
    """The DuckDB replay of :func:`quadkey_col` — same digits, same
    concat order."""
    if not 1 <= z <= 23:
        raise ValueError(f"z must be in [1, 23], got {z}")
    parts = []
    for i in range(1, z + 1):
        shift = z - i
        parts.append(
            f"CAST(((({ix}) >> {shift}) & 1)"
            f" + 2 * ((({iy}) >> {shift}) & 1) AS VARCHAR)")
    return " || ".join(parts)
