"""Pure-numpy WKB codec (no GDAL/shapely dependency).

The reference materializes every geometry as WKB bytes on read
(/root/reference/pyogrio/_io.pyx:977-1025 ``process_geometry`` ->
``OGR_G_ExportToWkb``) and re-imports WKB on write
(/root/reference/pyogrio/_io.pyx:3072-3098). We keep the same contract:
geometry travels through the engine as a ``binary`` column of ISO WKB,
decoded only inside vectorized batch code.

Normalizations mirror the reference's read-time behavior:
- M coordinates are always stripped (/root/reference/pyogrio/_io.pyx:1009-1010);
- Z is kept unless ``force_2d`` (/root/reference/pyogrio/_io.pyx:1012-1013);
- unparseable WKB follows the ``on_invalid`` policy of
  /root/reference/pyogrio/geopandas.py:273-285 (raise | warn | ignore).

Fast paths: uniform 2-D little-endian Point batches encode/decode as a
single (n, 21)-byte ndarray reshuffle — the per-batch analogue of the
reference's chunked columnar loop (/root/reference/pyogrio/_io.pyx:1280-1311).
"""

from __future__ import annotations

import struct
import warnings
from typing import NamedTuple

import numpy as np

# WKB geometry type codes (ISO); Z = +1000, M = +2000, ZM = +3000,
# and EWKB-style high-bit flags 0x80000000 (Z) / 0x40000000 (M) are
# accepted on parse. Names per /root/reference/pyogrio/_geometry.pyx:10-68.
GEOM_TYPE_NAMES = {
    1: "Point",
    2: "LineString",
    3: "Polygon",
    4: "MultiPoint",
    5: "MultiLineString",
    6: "MultiPolygon",
    7: "GeometryCollection",
}

# Non-linear types are linearized at parse, mirroring the reference's
# scan-time OGR_G_GetLinearGeometry (/root/reference/pyogrio/_io.pyx:1015-1017)
# and the documented downgrades (tests/test_core.py:311-316: Curve ->
# LineString, CurvePolygon -> Polygon, MultiSurface -> MultiPolygon).
CURVE_TYPE_DOWNGRADE = {
    8: "LineString",   # CircularString
    9: "LineString",   # CompoundCurve
    10: "Polygon",     # CurvePolygon
    11: "MultiLineString",  # MultiCurve
    12: "MultiPolygon",     # MultiSurface
}

# GDAL's default arc step (OGR_ARC_STEPSIZE): one vertex per 4 degrees
# of arc, which OGR_G_GetLinearGeometry(geom, 0, NULL) falls back to.
ARC_STEP_DEG = 4.0

_POINT_LE_2D = b"\x01\x01\x00\x00\x00"  # little-endian 2-D point header


class WKBError(ValueError):
    pass


def _base_type(code: int) -> tuple[int, bool, bool]:
    """raw wkb type code -> (base 1..7, has_z, has_m)."""
    has_z = bool(code & 0x80000000)
    has_m = bool(code & 0x40000000)
    code &= 0x0FFFFFFF
    if code >= 3000:
        return code - 3000, True, True
    if code >= 2000:
        return code - 2000, has_z, True
    if code >= 1000:
        return code - 1000, True, has_m
    return code, has_z, has_m


class Geom:
    """Parsed geometry: type name + coordinate arrays.

    coords: Point -> (dim,) ndarray; LineString -> (n, dim);
    Polygon -> list[(n, dim)] rings (first exterior);
    Multi*/Collection -> list[Geom].
    """

    __slots__ = ("type", "coords", "has_z")

    def __init__(self, type_: str, coords, has_z: bool = False):
        self.type = type_
        self.coords = coords
        self.has_z = has_z

    def __repr__(self):  # pragma: no cover
        return f"<Geom {self.type}{' Z' if self.has_z else ''}>"


def parse_wkb(buf: bytes, force_2d: bool = False) -> Geom:
    """Parse one WKB geometry. Strips M always; strips Z if force_2d."""
    geom, off = _parse(memoryview(buf), 0, force_2d)
    return geom


def _parse(mv: memoryview, off: int, force_2d: bool) -> tuple[Geom, int]:
    if len(mv) - off < 5:
        raise WKBError("truncated WKB header")
    bo = "<" if mv[off] == 1 else ">"
    (raw_type,) = struct.unpack_from(bo + "I", mv, off + 1)
    base, has_z, has_m = _base_type(raw_type)
    off += 5
    dim = 2 + has_z + has_m
    keep_z = has_z and not force_2d

    def read_coords(n, off):
        need = n * dim * 8
        if len(mv) - off < need:
            raise WKBError("truncated WKB coordinates")
        a = np.frombuffer(mv, dtype=np.dtype(bo + "f8"), count=n * dim, offset=off)
        a = a.reshape(n, dim)
        # strip M always (reference: _io.pyx:1009-1010), Z if force_2d
        a = a[:, : (3 if keep_z else 2)]
        return np.ascontiguousarray(a, dtype=np.float64), off + need

    if base == 1:  # Point
        pts, off = read_coords(1, off)
        return Geom("Point", pts[0], keep_z), off
    if base == 2:  # LineString
        (n,) = struct.unpack_from(bo + "I", mv, off)
        pts, off = read_coords(n, off + 4)
        return Geom("LineString", pts, keep_z), off
    if base == 3:  # Polygon
        (nrings,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        rings = []
        for _ in range(nrings):
            (n,) = struct.unpack_from(bo + "I", mv, off)
            pts, off = read_coords(n, off + 4)
            rings.append(pts)
        return Geom("Polygon", rings, keep_z), off
    if base in (4, 5, 6, 7):
        (nparts,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        parts = []
        for _ in range(nparts):
            g, off = _parse(mv, off, force_2d)
            parts.append(g)
        name = GEOM_TYPE_NAMES[base]
        return Geom(name, parts, any(p.has_z for p in parts)), off
    if base == 8:  # CircularString -> linearized LineString
        (n,) = struct.unpack_from(bo + "I", mv, off)
        pts, off = read_coords(n, off + 4)
        return Geom("LineString", _linearize_circularstring(pts), keep_z), off
    if base == 9:  # CompoundCurve -> LineString (concatenate components)
        (nparts,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        paths = []
        for _ in range(nparts):
            g, off = _parse(mv, off, force_2d)
            if g.type != "LineString":
                raise WKBError(f"CompoundCurve component is {g.type}")
            paths.append(g.coords)
        return Geom("LineString", _join_paths(paths), keep_z), off
    if base == 10:  # CurvePolygon -> Polygon (linearized rings)
        (nrings,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        rings = []
        for _ in range(nrings):
            g, off = _parse(mv, off, force_2d)
            if g.type != "LineString":
                raise WKBError(f"CurvePolygon ring is {g.type}")
            rings.append(g.coords)
        return Geom("Polygon", rings, keep_z), off
    if base == 11:  # MultiCurve -> MultiLineString
        (nparts,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        parts = []
        for _ in range(nparts):
            g, off = _parse(mv, off, force_2d)
            parts.append(g)
        return Geom("MultiLineString", parts, any(p.has_z for p in parts)), off
    if base == 12:  # MultiSurface -> MultiPolygon
        (nparts,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        parts = []
        for _ in range(nparts):
            g, off = _parse(mv, off, force_2d)
            parts.append(g)
        return Geom("MultiPolygon", parts, any(p.has_z for p in parts)), off
    raise WKBError(f"unsupported WKB type code {raw_type}")


def _join_paths(paths: list[np.ndarray]) -> np.ndarray:
    """Concatenate curve components, dropping duplicated join vertices."""
    paths = [p for p in paths if len(p)]
    if not paths:
        return np.empty((0, 2), dtype=np.float64)
    out = [paths[0]]
    for p in paths[1:]:
        if np.array_equal(p[0], out[-1][-1]):
            p = p[1:]
        out.append(p)
    return np.concatenate(out, axis=0)


def _linearize_circularstring(pts: np.ndarray, step_deg: float = ARC_STEP_DEG) -> np.ndarray:
    """CircularString points (odd count: arcs over consecutive triples)
    -> polyline vertices at <= ``step_deg`` of arc per segment, endpoints
    kept verbatim (so envelopes of arcs ending on an axis are exact)."""
    n = len(pts)
    if n < 3 or n % 2 == 0:
        raise WKBError(f"CircularString needs an odd point count >= 3, got {n}")
    out = [pts[:1]]
    for i in range(0, n - 2, 2):
        seg = _linearize_arc(pts[i], pts[i + 1], pts[i + 2], step_deg)
        out.append(seg[1:])
    return np.concatenate(out, axis=0)


def _linearize_arc(p0: np.ndarray, p1: np.ndarray, p2: np.ndarray, step_deg: float) -> np.ndarray:
    """One circular arc through (p0, p1, p2) -> sampled polyline.

    p0 == p2 means a full circle with p1 antipodal (GPKG convention).
    Collinear points degrade to the straight segments. Z (if present)
    interpolates linearly along the sweep.
    """
    import math

    # translate to a local origin before the circumcenter solve: the
    # q = x^2 + y^2 terms cancel catastrophically at |coord| ~ 180
    # (center error ~1e-11 deg, enough to flip atan2(+-pi) and add a
    # phantom 46th segment to a semicircle); in local coords the error
    # scales with the arc radius instead
    ox, oy = float(p0[0]), float(p0[1])
    x0, y0 = 0.0, 0.0
    x1, y1 = float(p1[0]) - ox, float(p1[1]) - oy
    x2, y2 = float(p2[0]) - ox, float(p2[1]) - oy
    dim = p0.shape[0]
    full_circle = x2 == 0.0 and y2 == 0.0
    if full_circle:
        cx, cy = x1 / 2.0, y1 / 2.0
    else:
        d = 2.0 * (x1 * y2 - x2 * y1)
        scale = max(abs(x1), abs(y1), abs(x2), abs(y2), 1.0)
        if abs(d) < 1e-12 * scale * scale:
            return np.vstack([p0, p1, p2])  # collinear: straight segments
        q1, q2 = x1 * x1 + y1 * y1, x2 * x2 + y2 * y2
        cx = (q1 * y2 - q2 * y1) / d
        cy = (q2 * x1 - q1 * x2) / d
    a0 = math.atan2(y0 - cy, x0 - cx)
    a1 = math.atan2(y1 - cy, x1 - cx)
    a2 = math.atan2(y2 - cy, x2 - cx)
    two_pi = 2.0 * math.pi
    if full_circle:
        sweep = two_pi  # point set is direction-independent
    else:
        ccw = (a2 - a0) % two_pi
        mid = (a1 - a0) % two_pi
        sweep = ccw if mid <= ccw else ccw - two_pi
    # epsilon guard: |sweep|/step lands on integers for common arcs
    # (semicircle / quarter arc); fp noise must not add a segment
    nseg = max(1, math.ceil(abs(sweep) / math.radians(step_deg) - 1e-9))
    radius = math.hypot(x0 - cx, y0 - cy)
    ts = np.arange(1, nseg) / nseg
    ang = a0 + sweep * ts
    mids = np.empty((len(ts), dim), dtype=np.float64)
    mids[:, 0] = ox + cx + radius * np.cos(ang)
    mids[:, 1] = oy + cy + radius * np.sin(ang)
    if dim == 3:
        mids[:, 2] = float(p0[2]) + (float(p2[2]) - float(p0[2])) * ts
    return np.vstack([p0, mids, p2])


POLICIES = ("raise", "warn", "ignore", "fix")


def _validate_rings(g: Geom, fix: bool) -> Geom:
    """Ring-closure validation — the one class of invalidity the
    reference's ``on_invalid='fix'`` repairs ("currently just unclosed
    rings", /root/reference/pyogrio/geopandas.py:284-285). Raises
    WKBError when not fixing; closes rings in place when fixing."""
    if g.type == "Polygon":
        rings = []
        for ring in g.coords:
            if len(ring) >= 3 and not np.array_equal(ring[0], ring[-1]):
                if not fix:
                    raise WKBError("unclosed polygon ring")
                ring = np.vstack([ring, ring[:1]])
            elif len(ring) < 4:
                raise WKBError(f"degenerate polygon ring ({len(ring)} points)")
            rings.append(ring)
        return Geom("Polygon", rings, g.has_z)
    if g.type in ("MultiPoint", "MultiLineString", "MultiPolygon", "GeometryCollection"):
        return Geom(g.type, [_validate_rings(p, fix) for p in g.coords], g.has_z)
    return g


def from_wkb(buf: bytes | None, force_2d: bool = False, on_invalid: str = "raise") -> Geom | None:
    """Parse WKB under the reference's on_invalid policy
    (/root/reference/pyogrio/geopandas.py:273-285):

    - raise: invalid WKB raises WKBError;
    - warn: invalid rows -> None with a warning;
    - ignore: invalid rows -> None silently;
    - fix: repair what is repairable (unclosed rings); otherwise None
      silently.
    """
    if on_invalid not in POLICIES:
        raise ValueError(f"on_invalid must be one of {POLICIES}, got {on_invalid!r}")
    if buf is None:
        return None
    try:
        g = parse_wkb(bytes(buf), force_2d=force_2d)
        return _validate_rings(g, fix=(on_invalid == "fix"))
    except (WKBError, struct.error) as e:
        if on_invalid == "raise":
            raise
        if on_invalid == "warn":
            warnings.warn(f"invalid WKB: {e}", stacklevel=2)
        return None  # ignore and unfixable-fix


def geom_type_name(buf: bytes | None) -> str | None:
    """Cheap header peek, no full parse (cf. /root/reference/pyogrio/_io.pyx:3073-3086)."""
    if buf is None or len(buf) < 5:
        return None
    bo = "<" if buf[0] == 1 else ">"
    (raw,) = struct.unpack_from(bo + "I", buf, 1)
    base, has_z, _ = _base_type(raw)
    # curve/surface headers report the type the scan downgrades them to
    # (reference: list_layers shows LineString for curve.gpkg etc.,
    # /root/reference/pyogrio/tests/test_core.py:311-316)
    name = GEOM_TYPE_NAMES.get(base) or CURVE_TYPE_DOWNGRADE.get(base)
    if name is None:
        return None
    return name + (" Z" if has_z else "")


def layer_type(names) -> str:
    """The layer geometry type of features whose types are ``names``
    (``geom_type_name`` spellings; None for a null is skipped). Base
    types compare without " Z": one base type gives that type, a
    Polygon/MultiPolygon mix gives MultiPolygon (the reference's
    promotion, /root/reference/pyogrio/geopandas.py:700-740), anything
    else, or no feature, is Unknown. " Z" is added to a known type when
    any feature has Z."""
    names = {n for n in names if n is not None}
    bases = {n.removesuffix(" Z") for n in names}
    if len(bases) == 1:
        base = bases.pop()
    else:
        base = "MultiPolygon" if bases == {"Polygon", "MultiPolygon"} else "Unknown"
    has_z = base != "Unknown" and any(n.endswith(" Z") for n in names)
    return base + (" Z" if has_z else "")


# ---------------------------------------------------------------- encode

def encode_point(x: float, y: float, z: float | None = None) -> bytes:
    if z is None:
        return _POINT_LE_2D + struct.pack("<dd", x, y)
    return b"\x01\xe9\x03\x00\x00" + struct.pack("<ddd", x, y, z)  # 1001 Z


def encode_points(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Vectorized: (n,) lon/lat -> object ndarray of 21-byte WKB points."""
    lon = np.asarray(lon, dtype="<f8")
    lat = np.asarray(lat, dtype="<f8")
    n = lon.shape[0]
    out = np.empty((n, 21), dtype=np.uint8)
    out[:, 0:5] = np.frombuffer(_POINT_LE_2D, dtype=np.uint8)
    out[:, 5:13] = lon.view(np.uint8).reshape(n, 8)
    out[:, 13:21] = lat.view(np.uint8).reshape(n, 8)
    raw = out.tobytes()
    return np.array([raw[i * 21 : (i + 1) * 21] for i in range(n)], dtype=object)


def encode_rects(xmin, ymin, xmax, ymax) -> np.ndarray:
    """Vectorized: (n,) envelope corners -> object ndarray of 93-byte WKB
    axis-aligned rectangle polygons (1 ring, 5 CCW points, closed)."""
    xmin = np.asarray(xmin, dtype="<f8")
    ymin = np.asarray(ymin, dtype="<f8")
    xmax = np.asarray(xmax, dtype="<f8")
    ymax = np.asarray(ymax, dtype="<f8")
    n = xmin.shape[0]
    out = np.empty((n, 93), dtype=np.uint8)
    out[:, 0:13] = np.frombuffer(b"\x01\x03\x00\x00\x00" + struct.pack("<II", 1, 5), dtype=np.uint8)
    ring = np.empty((n, 10), dtype="<f8")
    ring[:, 0], ring[:, 1] = xmin, ymin
    ring[:, 2], ring[:, 3] = xmax, ymin
    ring[:, 4], ring[:, 5] = xmax, ymax
    ring[:, 6], ring[:, 7] = xmin, ymax
    ring[:, 8], ring[:, 9] = xmin, ymin
    out[:, 13:93] = ring.view(np.uint8).reshape(n, 80)
    raw = out.tobytes()
    return np.array([raw[i * 93 : (i + 1) * 93] for i in range(n)], dtype=object)


def encode_triangles(x0, y0, x1, y1, x2, y2) -> np.ndarray:
    """Vectorized: (n,) triangle vertices -> object ndarray of 77-byte WKB
    polygons (1 ring, 4 points, closed)."""
    arrs = [np.asarray(a, dtype="<f8") for a in (x0, y0, x1, y1, x2, y2)]
    n = arrs[0].shape[0]
    out = np.empty((n, 77), dtype=np.uint8)
    out[:, 0:13] = np.frombuffer(b"\x01\x03\x00\x00\x00" + struct.pack("<II", 1, 4), dtype=np.uint8)
    ring = np.empty((n, 8), dtype="<f8")
    ring[:, 0], ring[:, 1] = arrs[0], arrs[1]
    ring[:, 2], ring[:, 3] = arrs[2], arrs[3]
    ring[:, 4], ring[:, 5] = arrs[4], arrs[5]
    ring[:, 6], ring[:, 7] = arrs[0], arrs[1]
    out[:, 13:77] = ring.view(np.uint8).reshape(n, 64)
    raw = out.tobytes()
    return np.array([raw[i * 77 : (i + 1) * 77] for i in range(n)], dtype=object)


def _uniform_point_matrix(items) -> np.ndarray | None:
    """(n, 21) uint8 matrix iff every item is a 21-byte LE 2-D point WKB,
    else None. The scan is C-level (map(len) + one join + one vectorized
    header compare) — no per-item Python bytecode."""
    n = len(items)
    if not n:
        return None
    try:
        lens = np.fromiter(map(len, items), count=n, dtype=np.int64)
        if not (lens == 21).all():
            return None
        joined = b"".join(items)
    except TypeError:  # None or non-bytes in the batch
        return None
    arr = np.frombuffer(joined, dtype=np.uint8).reshape(n, 21)
    hdr = np.frombuffer(_POINT_LE_2D, dtype=np.uint8)
    if not (arr[:, :5] == hdr).all():
        return None
    return arr


_RECT_HDR = b"\x01\x03\x00\x00\x00" + struct.pack("<II", 1, 5)


def rect_mask(items) -> np.ndarray:
    """(n,) bool — True where the WKB is an axis-aligned closed
    rectangle polygon (1 ring, 5 points, LE). For such geometries the
    envelope IS the geometry, so envelope predicates are exact.
    Vectorized; no per-item Python beyond one length scan."""
    n = len(items)
    out = np.zeros(n, dtype=bool)
    if not n:
        return out
    lens = np.fromiter((len(b) if isinstance(b, (bytes, bytearray)) else -1 for b in items), count=n, dtype=np.int64)
    cand = np.flatnonzero(lens == 93)
    if not cand.size:
        return out
    mat = np.frombuffer(b"".join(items[i] for i in cand), dtype=np.uint8).reshape(-1, 93)
    hdr_ok = (mat[:, :13] == np.frombuffer(_RECT_HDR, dtype=np.uint8)).all(axis=1)
    ring = mat[:, 13:].copy().view("<f8").reshape(-1, 5, 2)
    closed = (ring[:, 0] == ring[:, 4]).all(axis=1)
    axis_aligned = (
        (ring[:, 0, 1] == ring[:, 1, 1])
        & (ring[:, 1, 0] == ring[:, 2, 0])
        & (ring[:, 2, 1] == ring[:, 3, 1])
        & (ring[:, 3, 0] == ring[:, 0, 0])
    )
    out[cand] = hdr_ok & closed & axis_aligned
    return out


def decode_points(wkbs, on_invalid: str = "raise") -> tuple[np.ndarray, np.ndarray]:
    """Vectorized batch decode of 2-D point WKB -> (lon, lat) float64.

    Fast path when every row is a uniform 21-byte LE point (the engine's
    own encoding); falls back to the generic parser per row otherwise.
    Invalid rows -> NaN under policy ignore/warn/fix (a broken point has
    nothing to fix), exception under raise
    (policy contract: /root/reference/pyogrio/geopandas.py:273-285).
    """
    if on_invalid not in POLICIES:
        raise ValueError(f"on_invalid must be one of {POLICIES}, got {on_invalid!r}")
    items = list(wkbs)
    n = len(items)
    arr = _uniform_point_matrix(items)
    if arr is not None:
        lon = arr[:, 5:13].copy().view("<f8").ravel()
        lat = arr[:, 13:21].copy().view("<f8").ravel()
        return lon, lat
    lon = np.full(n, np.nan)
    lat = np.full(n, np.nan)
    for i, b in enumerate(items):
        if b is None:
            continue
        try:
            g = parse_wkb(bytes(b))
            if g.type != "Point":
                raise WKBError(f"expected Point, got {g.type}")
            lon[i], lat[i] = g.coords[0], g.coords[1]
        except (WKBError, struct.error) as e:
            if on_invalid == "raise":
                raise
            if on_invalid == "warn":
                warnings.warn(f"invalid WKB at row {i}: {e}", stacklevel=2)
            # ignore / fix: a broken point is not repairable -> NaN silently
    return lon, lat


def _encode_ring(ring: np.ndarray) -> bytes:
    ring = np.asarray(ring, dtype="<f8")
    return struct.pack("<I", ring.shape[0]) + ring.tobytes()


def encode_linestring(coords) -> bytes:
    coords = np.asarray(coords, dtype="<f8")
    if coords.shape[1] == 3:
        return b"\x01\xea\x03\x00\x00" + _encode_ring(coords)  # 1002 Z
    return b"\x01\x02\x00\x00\x00" + _encode_ring(coords)


def encode_polygon(rings) -> bytes:
    rings = [np.asarray(r, dtype="<f8") for r in rings]
    has_z = any(r.ndim == 2 and r.shape[1] == 3 for r in rings)
    body = struct.pack("<I", len(rings)) + b"".join(_encode_ring(r) for r in rings)
    return (b"\x01\xeb\x03\x00\x00" if has_z else b"\x01\x03\x00\x00\x00") + body  # 1003 Z


def encode_multipolygon(polygons) -> bytes:
    """polygons: list of list-of-rings."""
    parts = [encode_polygon(p) for p in polygons]
    has_z = any(p[1:5] == b"\xeb\x03\x00\x00" for p in parts)
    body = struct.pack("<I", len(polygons)) + b"".join(parts)
    return (b"\x01\xee\x03\x00\x00" if has_z else b"\x01\x06\x00\x00\x00") + body  # 1006 Z


def encode_multipoint(points) -> bytes:
    pts = np.asarray(points, dtype="<f8")
    has_z = pts.ndim == 2 and pts.shape[1] == 3
    body = struct.pack("<I", pts.shape[0]) + b"".join(
        encode_point(p[0], p[1], p[2] if has_z else None) for p in pts
    )
    return (b"\x01\xec\x03\x00\x00" if has_z else b"\x01\x04\x00\x00\x00") + body  # 1004 Z


def encode_multilinestring(lines) -> bytes:
    parts = [encode_linestring(l) for l in lines]
    has_z = any(p[1:5] == b"\xea\x03\x00\x00" for p in parts)
    body = struct.pack("<I", len(lines)) + b"".join(parts)
    return (b"\x01\xed\x03\x00\x00" if has_z else b"\x01\x05\x00\x00\x00") + body  # 1005 Z


def encode_collection(wkbs: list[bytes]) -> bytes:
    return b"\x01\x07\x00\x00\x00" + struct.pack("<I", len(wkbs)) + b"".join(wkbs)


def encode_geom(g: Geom) -> bytes:
    """Re-encode a parsed Geom as (always linear, little-endian) WKB."""
    if g.type == "Point":
        c = g.coords
        return encode_point(float(c[0]), float(c[1]), float(c[2]) if len(c) > 2 else None)
    if g.type == "LineString":
        return encode_linestring(g.coords)
    if g.type == "Polygon":
        return encode_polygon(g.coords)
    if g.type == "MultiPoint":
        dims = 3 if g.has_z else 2
        return encode_multipoint([p.coords[:dims] for p in g.coords])
    if g.type == "MultiLineString":
        return encode_multilinestring([p.coords for p in g.coords])
    if g.type == "MultiPolygon":
        return encode_multipolygon([p.coords for p in g.coords])
    if g.type == "GeometryCollection":
        return encode_collection([encode_geom(p) for p in g.coords])
    raise WKBError(f"cannot encode geometry type {g.type}")


def linearize_wkb(buf: bytes, force_2d: bool = False) -> bytes:
    """Ingest normalizer: curve/surface WKB -> linearized linear WKB
    (parse already linearizes; this re-encodes). Linear inputs
    round-trip through parse+encode unchanged in content."""
    return encode_geom(parse_wkb(buf, force_2d=force_2d))


def encode_circularstrings(x0, y0, x1, y1, x2, y2) -> np.ndarray:
    """Vectorized: (n,) single-arc vertices -> object ndarray of 57-byte
    CircularString WKB (type code 8, 3 points)."""
    arrs = [np.asarray(a, dtype="<f8") for a in (x0, y0, x1, y1, x2, y2)]
    n = arrs[0].shape[0]
    out = np.empty((n, 57), dtype=np.uint8)
    out[:, 0:9] = np.frombuffer(b"\x01\x08\x00\x00\x00" + struct.pack("<I", 3), dtype=np.uint8)
    pts = np.empty((n, 6), dtype="<f8")
    for j, a in enumerate(arrs):
        pts[:, j] = a
    out[:, 9:57] = pts.view(np.uint8).reshape(n, 48)
    raw = out.tobytes()
    return np.array([raw[i * 57 : (i + 1) * 57] for i in range(n)], dtype=object)


# ----------------------------------------------------------- flat layout


class Flat(NamedTuple):
    """A batch of geometries in one flat coordinate layout: the vertices
    in ``xy`` (and ``z``, 0.0 where a part has no Z) and three offset
    levels. Geometry ``g`` owns parts ``geom_off[g]:geom_off[g + 1]``,
    part ``p`` owns rings ``part_off[p]:part_off[p + 1]`` and ring ``r``
    owns vertices ``ring_off[r]:ring_off[r + 1]``. A part is a simple
    geometry: a Point or LineString part is one ring (vertex run), a
    Polygon part one ring per polygon ring. ``part_type`` is each part's
    ISO code (1, 2 or 3, plus 1000 with Z); ``geom_type`` is each
    geometry's base code 1..7, 0 for null. Parse flattens the members of
    a nested collection into its parts."""

    xy: np.ndarray
    z: np.ndarray
    ring_off: np.ndarray
    part_off: np.ndarray
    geom_off: np.ndarray
    part_type: np.ndarray
    geom_type: np.ndarray

    def ring_of_vertex(self) -> np.ndarray:
        return np.repeat(np.arange(len(self.ring_off) - 1), np.diff(self.ring_off))

    def part_of_ring(self) -> np.ndarray:
        return np.repeat(np.arange(len(self.part_off) - 1), np.diff(self.part_off))

    def geom_vertex_off(self) -> np.ndarray:
        """(ng + 1,) vertex offsets of the geometries."""
        return self.ring_off[self.part_off[self.geom_off]]

    def geom_of_vertex(self) -> np.ndarray:
        return np.repeat(np.arange(len(self.geom_type)), np.diff(self.geom_vertex_off()))


class _Curve(Exception):
    """A curve type inside a WKB row: the row is linearized and walked again."""


def _walk(mv, off: int, end: int, rings: list, parts: list) -> int:
    """Append the parts and rings of the WKB geometry at ``off`` of
    ``mv``: a ring is (coordinate byte offset, vertex count, bytes per
    vertex, big-endian, has Z), a part (ISO code, ring count). Only
    headers are read (``struct``); returns the offset past the geometry."""
    if end - off < 5:
        raise WKBError("truncated WKB header")
    be = mv[off] == 0
    bo = ">" if be else "<"
    (raw,) = struct.unpack_from(bo + "I", mv, off + 1)
    base, has_z, has_m = _base_type(raw)
    off += 5
    if base in CURVE_TYPE_DOWNGRADE:
        raise _Curve
    if base not in GEOM_TYPE_NAMES:
        raise WKBError(f"unsupported WKB type code {raw}")
    if base >= 4:
        (n,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        for _ in range(n):
            off = _walk(mv, off, end, rings, parts)
        return off
    step = 8 * (2 + has_z + has_m)
    if base == 3:
        (n,) = struct.unpack_from(bo + "I", mv, off)
        parts.append((3 + 1000 * has_z, n))
        off += 4
        for _ in range(n):
            (k,) = struct.unpack_from(bo + "I", mv, off)
            rings.append((off + 4, k, step, be, has_z))
            off += 4 + k * step
            if off > end:
                raise WKBError("truncated WKB coordinates")
    elif base == 2:
        (k,) = struct.unpack_from(bo + "I", mv, off)
        parts.append((2 + 1000 * has_z, 1))
        rings.append((off + 4, k, step, be, has_z))
        off += 4 + k * step
    else:
        parts.append((1 + 1000 * has_z, 1))
        rings.append((off, 1, step, be, has_z))
        off += step
    if off > end:
        raise WKBError("truncated WKB coordinates")
    return off


def offsets(counts) -> np.ndarray:
    """(n,) counts -> (n + 1,) int64 offsets starting at 0."""
    out = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=out[1:])
    return out


def f8_at(buf, big_endian: bool = False) -> np.ndarray:
    """float64 view of ``buf`` at every byte offset (stride 1), for
    gathering coordinates at unaligned positions."""
    return np.ndarray((max(len(buf) - 7, 0),), dtype=">f8" if big_endian else "<f8", buffer=buf, strides=(1,))


def gather_coords(buf, pos: np.ndarray, zpos: np.ndarray, be: np.ndarray | None = None):
    """The one coordinate move of the flat layout: x at byte ``pos`` of
    ``buf``, y at ``pos + 8`` and z at ``zpos`` (-1: no Z, z is 0.0),
    little-endian except where ``be`` -> ((n, 2) xy, (n,) z)."""
    xy = np.empty((len(pos), 2))
    z = np.zeros(len(pos))
    le = np.ones(len(pos), dtype=bool) if be is None else ~be
    for src, sel in ((f8_at(buf), le), (f8_at(buf, big_endian=True), ~le)):
        if sel.any():
            p = pos[sel]
            xy[sel, 0], xy[sel, 1] = src[p], src[p + 8]
            zs = sel & (zpos >= 0)
            z[zs] = src[zpos[zs]]
    return xy, z


def flat_from_wkb(wkbs) -> Flat:
    """Parse a batch of WKB (None for null) into the flat layout: one
    ``struct`` walk over the headers of each row, then one gather of all
    coordinates. M is dropped; curve rows are linearized first
    (``linearize_wkb``). Raises WKBError on truncated or unknown WKB."""
    rows = list(wkbs)
    while True:
        blob = b"".join(b for b in rows if b is not None)
        mv = memoryview(blob)
        rings: list = []
        parts: list = []
        gtype, gparts, curved = [], [], []
        start = 0
        for i, b in enumerate(rows):
            if b is None:
                gtype.append(0)
                gparts.append(0)
                continue
            end = start + len(b)
            np0, nr0 = len(parts), len(rings)
            try:
                _walk(mv, start, end, rings, parts)
            except _Curve:
                curved.append(i)
                del parts[np0:], rings[nr0:]
            bo = ">" if mv[start] == 0 else "<"
            gtype.append(_base_type(struct.unpack_from(bo + "I", mv, start + 1)[0])[0])
            gparts.append(len(parts) - np0)
            start = end
        if not curved:
            break
        for i in curved:
            rows[i] = linearize_wkb(rows[i])
    ring = np.array(rings, dtype=np.int64).reshape(-1, 5)
    part = np.array(parts, dtype=np.int64).reshape(-1, 2)
    ring_off = offsets(ring[:, 1])
    vring = np.repeat(np.arange(len(ring)), ring[:, 1])
    pos = ring[vring, 0] + (np.arange(len(vring)) - ring_off[vring]) * ring[vring, 2]
    zpos = np.where(ring[vring, 4] == 1, pos + 16, -1)
    xy, z = gather_coords(blob, pos, zpos, ring[vring, 3] == 1)
    return Flat(xy, z, ring_off, offsets(part[:, 1]), offsets(gparts), part[:, 0], np.array(gtype, dtype=np.int64))


def flat_to_wkb(flat: Flat) -> list:
    """Encode the flat layout as little-endian ISO WKB, one bytes object
    per geometry (None for null): the coordinates become one byte string
    (xy, or xyz for Z parts) and ``struct`` writes the headers between
    its slices. A Multi* header carries Z when any part does; a
    GeometryCollection header never does."""
    nv = len(flat.xy)
    vz = np.repeat(flat.part_type >= 1000, np.diff(flat.ring_off[flat.part_off]))
    if vz.any():
        xyz = np.empty((nv, 3), dtype="<f8")
        xyz[:, :2], xyz[:, 2] = flat.xy, flat.z
        keep = np.ones((nv, 24), dtype=bool)
        keep[~vz, 16:] = False
        coords = xyz.view(np.uint8).reshape(nv, 24)[keep].tobytes()
        cb = offsets(np.where(vz, 24, 16))[flat.ring_off].tolist()
    else:
        coords = np.ascontiguousarray(flat.xy, dtype="<f8").tobytes()
        cb = (flat.ring_off * 16).tolist()
    mv = memoryview(coords)
    ro, po, go = flat.ring_off.tolist(), flat.part_off.tolist(), flat.geom_off.tolist()
    ptype = flat.part_type.tolist()
    pack = struct.pack
    out = []
    for g, t in enumerate(flat.geom_type.tolist()):
        if not t:
            out.append(None)
            continue
        p0, p1 = go[g], go[g + 1]
        pieces = []
        if t >= 4:
            z = t != 7 and any(c >= 1000 for c in ptype[p0:p1])
            pieces.append(pack("<BII", 1, t + 1000 * z, p1 - p0))
        for p in range(p0, p1):
            code, r0, r1 = ptype[p], po[p], po[p + 1]
            if code % 1000 == 1:
                pieces += (pack("<BI", 1, code), mv[cb[r0] : cb[r0 + 1]])
            elif code % 1000 == 2:
                pieces += (pack("<BII", 1, code, ro[r0 + 1] - ro[r0]), mv[cb[r0] : cb[r0 + 1]])
            else:
                pieces.append(pack("<BII", 1, code, r1 - r0))
                for r in range(r0, r1):
                    pieces += (pack("<I", ro[r + 1] - ro[r]), mv[cb[r] : cb[r + 1]])
        out.append(b"".join(pieces))
    return out


def flat_bounds(flat: Flat, exterior_only: bool = False) -> np.ndarray:
    """(ng, 4) envelope per geometry, NaN for null or empty; NaN
    coordinates propagate. ``exterior_only``: a polygon part counts its
    first ring only (the ``bounds`` convention)."""
    ng = len(flat.geom_type)
    out = np.full((ng, 4), np.nan)
    vgeom = flat.geom_of_vertex()
    xy = flat.xy
    if exterior_only:
        pring = flat.part_of_ring()
        hole = (flat.part_type[pring] % 1000 == 3) & (np.arange(len(pring)) > flat.part_off[pring])
        if hole.any():
            keep = ~hole[flat.ring_of_vertex()]
            xy, vgeom = xy[keep], vgeom[keep]
    counts = np.bincount(vgeom, minlength=ng)
    has = counts > 0
    if has.any():
        starts = offsets(counts)[:-1][has]
        out[has, :2] = np.minimum.reduceat(xy, starts, axis=0)
        out[has, 2:] = np.maximum.reduceat(xy, starts, axis=0)
    return out


def bounds(buf: bytes | None) -> tuple[float, float, float, float]:
    """Envelope of one WKB geometry — the ``read_bounds`` kernel
    (/root/reference/pyogrio/_io.pyx:1561-1605 ``OGR_G_GetEnvelope``)."""
    return tuple(float(v) for v in bounds_many([buf])[0])


def bounds_many(wkbs) -> np.ndarray:
    """(n, 4) envelope array (NaN for null or empty; a polygon's from its
    exterior ring); vectorized fast path for point batches."""
    items = list(wkbs)
    arr = _uniform_point_matrix(items)
    if arr is not None:
        lon = arr[:, 5:13].copy().view("<f8").ravel()
        lat = arr[:, 13:21].copy().view("<f8").ravel()
        return np.stack([lon, lat, lon, lat], axis=1)
    return flat_bounds(flat_from_wkb(items), exterior_only=True)
