"""FlatGeobuf source + sink, written from the public spec
(https://flatgeobuf.org, https://github.com/flatgeobuf/flatgeobuf —
Header.fbs / Feature.fbs), on the in-repo minimal FlatBuffers codec.

Reference parity anchor: pyogrio treats ``.fgb`` as a first-class
driver — /root/reference/pyogrio/tests/conftest.py:26-41 regenerates
every fixture into FlatGeobuf and runs the full read/write matrix over
it; docs/source/supported_formats.md lists it in the supported-formats
table. This engine path gives the same surface without GDAL.

File layout: 8 magic bytes ``fgb\\x03fgb\\x01``, a size-prefixed Header
flatbuffer, an optional packed Hilbert R-tree index, then size-prefixed
Feature flatbuffers. The writers emit no index by default (features
keep input order, which is what byte-fidelity round trips want), or the
index with ``index_node_size>0``; the reader skips any index via the
packed-R-tree size formula. Both writers run one part encoder and one
stitch (``io/sink.py``): the pandas frame is one part, a Spark
DataFrame one part per partition.

Geometry: FlatGeobuf's type enum equals the WKB base-type codes, and
coordinates live in a flat ``xy`` vector with ring/part ``ends``
(MultiPolygon/GeometryCollection nest via ``parts``). Conversion to and
from the engine's WKB ``Geom`` is loss-free for 2-D and Z geometries.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import struct

import numpy as np
import pandas as pd

from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.io.flatbuf import Builder, Table, field_positions, vector_at

MAGIC = b"fgb\x03fgb\x01"

# GeometryType enum — identical to WKB base-type codes (public spec)
GEOM_NAME_TO_CODE = {
    "Unknown": 0, "Point": 1, "LineString": 2, "Polygon": 3, "MultiPoint": 4,
    "MultiLineString": 5, "MultiPolygon": 6, "GeometryCollection": 7,
}
GEOM_CODE_TO_NAME = {v: k for k, v in GEOM_NAME_TO_CODE.items()}

# ColumnType enum (Header.fbs declaration order)
COL_BYTE, COL_UBYTE, COL_BOOL, COL_SHORT, COL_USHORT, COL_INT, COL_UINT = range(7)
COL_LONG, COL_ULONG, COL_FLOAT, COL_DOUBLE, COL_STRING, COL_JSON = range(7, 13)
COL_DATETIME, COL_BINARY = 13, 14

_SCALAR_COL_FMT = {
    COL_BYTE: "<b", COL_UBYTE: "<B", COL_BOOL: "<B", COL_SHORT: "<h",
    COL_USHORT: "<H", COL_INT: "<i", COL_UINT: "<I", COL_LONG: "<q",
    COL_ULONG: "<Q", COL_FLOAT: "<f", COL_DOUBLE: "<d",
}


def packed_rtree_size(num_items: int, node_size: int) -> int:
    """Byte size of the static packed Hilbert R-tree (40-byte nodes:
    4 doubles + uint64 feature offset)."""
    node_size = max(2, min(int(node_size), 65535))
    n = num_items
    num_nodes = n
    while n != 1:
        n = (n + node_size - 1) // node_size
        num_nodes += n
    return num_nodes * 40


_HILBERT_ORDER = 16  # spec: centers quantized to [0, 2^16) in the envelope


def hilbert_d(x: np.ndarray, y: np.ndarray, order: int = _HILBERT_ORDER) -> np.ndarray:
    """Vectorized Hilbert curve index of quantized (x, y) — the classic
    xy->d bit loop, numpy over all points at once."""
    x = x.astype(np.uint64).copy()
    y = y.astype(np.uint64).copy()
    d = np.zeros_like(x)
    s = np.uint64(1) << np.uint64(order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.uint64)
        ry = ((y & s) > 0).astype(np.uint64)
        d += s * s * ((np.uint64(3) * rx) ^ ry)
        # rotate quadrant
        flip = ry == 0
        swapflip = flip & (rx == 1)
        x[swapflip] = s - np.uint64(1) - x[swapflip]
        y[swapflip] = s - np.uint64(1) - y[swapflip]
        xt = x[flip].copy()
        x[flip] = y[flip]
        y[flip] = xt
        s >>= np.uint64(1)
    return d


def _hilbert_keys(bboxes: np.ndarray, env) -> np.ndarray:
    """Hilbert index of each bbox center quantized within the dataset
    envelope ``env`` (minx, miny, maxx, maxy)."""
    w = (env[2] - env[0]) or 1.0
    h = (env[3] - env[1]) or 1.0
    hmax = (1 << _HILBERT_ORDER) - 1
    cx = np.floor(hmax * (((bboxes[:, 0] + bboxes[:, 2]) / 2 - env[0]) / w))
    cy = np.floor(hmax * (((bboxes[:, 1] + bboxes[:, 3]) / 2 - env[1]) / h))
    return hilbert_d(cx, cy)


def hilbert_order(bboxes: np.ndarray) -> np.ndarray:
    """Permutation sorting features by the Hilbert index of their bbox
    center within the dataset envelope (the spec's sort for indexed
    files)."""
    env = (bboxes[:, 0].min(), bboxes[:, 1].min(), bboxes[:, 2].max(), bboxes[:, 3].max())
    return np.argsort(_hilbert_keys(bboxes, env), kind="stable")


def build_packed_rtree(bboxes: np.ndarray, feature_offsets: np.ndarray, node_size: int = 16) -> bytes:
    """Static packed Hilbert R-tree bytes for features ALREADY in
    Hilbert order. Levels stored root-first, leaves last (the layout
    ``read_flatgeobuf_pdf`` skips and the distributed reader's leaf
    slice assumes); leaf node offsets are byte offsets into the feature
    section, internal node offsets index-relative offsets of the first
    child node."""
    node_size = max(2, min(int(node_size), 65535))
    n = len(bboxes)
    # level sizes bottom-up: [leaves, ..., root]
    sizes = [n]
    m = n
    while m != 1:
        m = (m + node_size - 1) // node_size
        sizes.append(m)
    levels: list[np.ndarray] = []  # bottom-up list of (k, 5) float/record arrays
    leaf = np.empty((n, 5), dtype=object)
    leaf[:, :4] = bboxes[:, :4]
    leaf[:, 4] = feature_offsets
    levels.append(leaf)
    for li in range(1, len(sizes)):
        child = levels[-1]
        k = sizes[li]
        node = np.empty((k, 5), dtype=object)
        for i in range(k):
            grp = child[i * node_size : (i + 1) * node_size]
            node[i, 0] = min(g[0] for g in grp)
            node[i, 1] = min(g[1] for g in grp)
            node[i, 2] = max(g[2] for g in grp)
            node[i, 3] = max(g[3] for g in grp)
            node[i, 4] = i * node_size  # child index within its level, fixed below
        levels.append(node)
    # absolute node offsets: levels written top-down (root first)
    out = bytearray()
    top_down = levels[::-1]
    # start offset (in bytes) of each written level, top-down
    starts = []
    pos = 0
    for lvl in top_down:
        starts.append(pos)
        pos += len(lvl) * 40
    for li, lvl in enumerate(top_down):
        is_leaf = li == len(top_down) - 1
        for node in lvl:
            off = int(node[4]) if is_leaf else starts[li + 1] + int(node[4]) * 40
            out += struct.pack("<4dQ", float(node[0]), float(node[1]), float(node[2]), float(node[3]), off)
    return bytes(out)


# ------------------------------------------------------------ geometry


def _flat_xy(coords: np.ndarray) -> tuple[bytes, bytes | None, int]:
    """(n, 2|3) array -> (packed xy bytes, packed z bytes | None, n)."""
    a = np.asarray(coords, dtype="<f8")
    if a.ndim == 1:
        a = a.reshape(1, -1)
    xy = np.ascontiguousarray(a[:, :2]).tobytes()
    z = np.ascontiguousarray(a[:, 2]).tobytes() if a.shape[1] > 2 else None
    return xy, z, len(a)


def _build_geometry(b: Builder, g: "W.Geom", write_type: bool = True) -> int:
    """Geom -> FlatGeobuf Geometry table (slots: ends=0 xy=1 z=2 m=3
    t=4 tm=5 type=6 parts=7)."""
    code = GEOM_NAME_TO_CODE[g.type]
    ends_off = xy_off = z_off = parts_off = None
    if g.type == "Point":
        xy, z, _ = _flat_xy(g.coords)
        xy_off = b.create_scalar_vector(xy, 2, 8)
        if z:
            z_off = b.create_scalar_vector(z, 1, 8)
    elif g.type == "LineString":
        xy, z, n = _flat_xy(g.coords)
        xy_off = b.create_scalar_vector(xy, 2 * n, 8)
        if z:
            z_off = b.create_scalar_vector(z, n, 8)
    elif g.type == "Polygon":
        rings = [np.asarray(r, dtype="<f8") for r in g.coords]
        cat = np.concatenate(rings, axis=0)
        xy, z, n = _flat_xy(cat)
        xy_off = b.create_scalar_vector(xy, 2 * n, 8)
        if z:
            z_off = b.create_scalar_vector(z, n, 8)
        if len(rings) > 1:
            ends = np.cumsum([len(r) for r in rings]).astype("<u4")
            ends_off = b.create_scalar_vector(ends.tobytes(), len(ends), 4)
    elif g.type == "MultiPoint":
        pts = np.array([p.coords for p in g.coords], dtype="<f8")
        xy, z, n = _flat_xy(pts)
        xy_off = b.create_scalar_vector(xy, 2 * n, 8)
        if z:
            z_off = b.create_scalar_vector(z, n, 8)
    elif g.type == "MultiLineString":
        lines = [np.asarray(p.coords, dtype="<f8") for p in g.coords]
        cat = np.concatenate(lines, axis=0)
        xy, z, n = _flat_xy(cat)
        xy_off = b.create_scalar_vector(xy, 2 * n, 8)
        if z:
            z_off = b.create_scalar_vector(z, n, 8)
        if len(lines) > 1:
            ends = np.cumsum([len(p) for p in lines]).astype("<u4")
            ends_off = b.create_scalar_vector(ends.tobytes(), len(ends), 4)
    elif g.type in ("MultiPolygon", "GeometryCollection"):
        parts = [_build_geometry(b, p, write_type=True) for p in g.coords]
        parts_off = b.create_offset_vector(parts)
    else:  # pragma: no cover
        raise ValueError(f"cannot write geometry type {g.type} to FlatGeobuf")
    b.start_table()
    b.add_offset(0, ends_off)
    b.add_offset(1, xy_off)
    b.add_offset(2, z_off)
    if write_type:
        b.add_scalar(6, "<B", code, 0)
    b.add_offset(7, parts_off)
    return b.end_table()


def _simple_parts(buf, f: list[int], code: int, runs: list, rings: list, parts: list) -> None:
    """Append the flat-layout parts and rings of a Geometry table that
    holds its own coordinates (``f``: its slot positions) and its one
    coordinate run (xy start, z start or -1, vertex count)."""
    xs, n2 = vector_at(buf, f[1])
    zs, nz = vector_at(buf, f[2])
    n = n2 // 2
    es, ne = vector_at(buf, f[0])
    ends = struct.unpack_from(f"<{ne}I", buf, es) if ne else ()
    z = 1000 * (nz > 0)
    if code == 1:
        if not n:
            raise ValueError("FlatGeobuf Point without coordinates")
        n = 1
        rings.append(1)
        parts.append((1 + z, 1))
    elif code == 4:
        rings += [1] * n
        parts += [(1 + z, 1)] * n
    else:
        sizes = np.diff(ends, prepend=0).tolist() if ends else [n]
        if ends:
            if ends[-1] > n:
                raise ValueError(f"FlatGeobuf ring ends {ends[-1]} past {n} vertices")
            n = ends[-1]
        rings += sizes
        parts += [(3 + z, len(sizes))] if code in (3, 6) else [(2 + z, 1)] * len(sizes)
    if nz and nz < n:
        raise ValueError(f"FlatGeobuf z vector holds {nz} of {n} values")
    runs.append((xs, zs if nz else -1, n))


def _geometries_wkb(buf, tables: list, layer_code: int) -> list:
    """FlatGeobuf Geometry tables (positions in ``buf``, None for a feature
    without geometry) -> WKB per table. A Geometry's ``xy``/``z`` vectors
    and ring ``ends`` (MultiPolygon/GeometryCollection nest through
    ``parts``) are already the flat layout: one walk of the tables'
    vtables lists the coordinate runs, parts and rings, one gather moves
    the coordinates and ``wkb.flat_to_wkb`` writes the WKB. A
    GeometryCollection's members are geometries of the same batch, joined
    under its header after the encode. A table without a type takes
    ``layer_code``."""
    queue = [(t, layer_code) for t in tables]
    runs: list = []
    rings: list = []
    parts: list = []
    gtype, gparts, members = [], [], {}
    for g, (pos, default) in enumerate(queue):  # grows by collection members
        if pos is None:
            gtype.append(0)
            gparts.append(0)
            continue
        f = field_positions(buf, pos, 8)
        code = (buf[f[6]] if f[6] else 0) or default
        np0 = len(parts)
        ps, nparts = vector_at(buf, f[7]) if code in (6, 7) else (0, 0)
        subs = [ps + 4 * i + struct.unpack_from("<I", buf, ps + 4 * i)[0] for i in range(nparts)]
        if code == 7:
            members[g] = range(len(queue), len(queue) + len(subs))
            queue += [(t, 0) for t in subs]
        elif subs:  # MultiPolygon parts: Polygon tables
            for t in subs:
                sf = field_positions(buf, t, 8)
                sub_code = (buf[sf[6]] if sf[6] else 0) or 3
                if sub_code > 5:
                    raise ValueError(f"FlatGeobuf MultiPolygon part of type {sub_code}")
                _simple_parts(buf, sf, sub_code, runs, rings, parts)
        elif 1 <= code <= 6:  # a MultiPolygon without parts is one polygon
            _simple_parts(buf, f, code, runs, rings, parts)
        else:
            raise ValueError(f"unsupported FlatGeobuf geometry type code {code}")
        gtype.append(code)
        gparts.append(len(parts) - np0)
    run = np.array(runs, dtype=np.int64).reshape(-1, 3)
    part = np.array(parts, dtype=np.int64).reshape(-1, 2)
    run_off = W.offsets(run[:, 2])
    vrun = np.repeat(np.arange(len(run)), run[:, 2])
    k = np.arange(len(vrun)) - run_off[vrun]
    zpos = np.where(run[vrun, 1] >= 0, run[vrun, 1] + 8 * k, -1)
    xy, z = W.gather_coords(buf, run[vrun, 0] + 16 * k, zpos)
    out = W.flat_to_wkb(W.Flat(xy, z, W.offsets(rings), W.offsets(part[:, 1]), W.offsets(gparts),
                               part[:, 0], np.array(gtype, dtype=np.int64)))
    for g in sorted(members, reverse=True):  # members come after their collection
        out[g] = struct.pack("<BII", 1, 7, len(members[g])) + b"".join(out[m] for m in members[g])
    return out[: len(tables)]


# ----------------------------------------------------------- properties


def _fgb_columns(schema) -> list[tuple[str, int]]:
    """The one FlatGeobuf typing rule, over the Arrow types of the
    attribute columns: each integer width and sign, float and double,
    bool and binary to its own ColumnType, dates and timestamps to
    DateTime (ISO 8601 text), anything else to String."""
    import pyarrow as pa

    ints = {(8, True): COL_BYTE, (8, False): COL_UBYTE, (16, True): COL_SHORT, (16, False): COL_USHORT,
            (32, True): COL_INT, (32, False): COL_UINT, (64, True): COL_LONG, (64, False): COL_ULONG}
    spec = []
    for name, t in zip(schema.names, schema.types):
        if pa.types.is_integer(t):
            spec.append((name, ints[t.bit_width, pa.types.is_signed_integer(t)]))
        elif pa.types.is_floating(t):
            spec.append((name, COL_FLOAT if t.bit_width <= 32 else COL_DOUBLE))
        elif pa.types.is_boolean(t):
            spec.append((name, COL_BOOL))
        elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
            spec.append((name, COL_BINARY))
        elif pa.types.is_date(t) or pa.types.is_timestamp(t):
            spec.append((name, COL_DATETIME))
        else:
            spec.append((name, COL_STRING))
    return spec


def _encode_properties(values, spec: list[tuple[str, int]]) -> bytes:
    """One feature's attribute ``values`` (in ``spec`` order) -> its
    properties bytes; a null is an omitted slot."""
    out = bytearray()
    for i, (v, (_, ctype)) in enumerate(zip(values, spec)):
        if v is None or v is pd.NA or (np.isscalar(v) and pd.isna(v)):
            continue
        out += struct.pack("<H", i)
        fmt = _SCALAR_COL_FMT.get(ctype)
        if fmt is not None:
            out += struct.pack(fmt, bool(v) if ctype == COL_BOOL else float(v) if fmt in ("<f", "<d") else int(v))
            continue
        if ctype == COL_BINARY:
            bv = bytes(v)
        else:  # String / Json / DateTime — length-prefixed UTF-8
            bv = (pd.Timestamp(v).isoformat() if ctype == COL_DATETIME else str(v)).encode("utf-8")
        out += struct.pack("<I", len(bv)) + bv
    return bytes(out)


def _decode_properties(buf, off: int, end: int, readers: list, row: list) -> None:
    """One feature's properties ``buf[off:end]`` -> ``row`` (one slot per
    column; a null is an omitted slot). ``readers``: per column, the
    unpacker and size of a scalar type, or None and the ColumnType of a
    length-prefixed one."""
    while off + 2 <= end:
        (i,) = _U16(buf, off)
        unpack, size = readers[i]
        off += 2
        if unpack is not None:
            (row[i],) = unpack(buf, off)
            off += size
        else:
            (ln,) = _U32(buf, off)
            raw = buf[off + 4 : off + 4 + ln]
            off += 4 + ln
            row[i] = raw if size == COL_BINARY else raw.decode("utf-8")


_U16, _U32 = struct.Struct("<H").unpack_from, struct.Struct("<I").unpack_from


# ----------------------------------------------------------------- write


def _build_header(
    spec: list[tuple[str, int]],
    layer_code: int,
    has_z: bool,
    env: list[float],
    count: int,
    layer_name: str,
    crs,
    index_node_size: int,
) -> bytes:
    """Size-prefixed Header flatbuffer (slots: name=0 envelope=1
    geometry_type=2 has_z=3 columns=7 features_count=8
    index_node_size=9 crs=10)."""
    hb = Builder()
    col_offs = []
    for name, ctype in spec:
        n_off = hb.create_string(name)
        hb.start_table()
        hb.add_offset(0, n_off)
        hb.add_scalar(1, "<B", ctype, 0)
        # width/precision/scale keep their -1 defaults; nullable default true
        col_offs.append(hb.end_table())
    cols_off = hb.create_offset_vector(col_offs) if col_offs else None
    # Crs table (Header.fbs slots: org=0 code=1 name=2 description=3
    # wkt=4): persist the caller's CRS — org/code when it identifies to
    # an EPSG code, plus the WKT when one is available/derivable
    crs_off = None
    if crs is not None:
        from pyogrio_spark.crs import crs_to_epsg, crs_to_wkt

        code = crs_to_epsg(crs)
        wkt = str(crs) if isinstance(crs, str) and "[" in crs else (
            crs_to_wkt(code) if code is not None else None
        )
        wkt_off = hb.create_string(wkt) if wkt else None
        org_off = hb.create_string("EPSG") if code is not None else None
        hb.start_table()
        hb.add_offset(0, org_off)
        if code is not None:
            hb.add_scalar(1, "<i", int(code), 0)
        hb.add_offset(4, wkt_off)
        crs_off = hb.end_table()
    name_off = hb.create_string(layer_name)
    env_off = hb.create_scalar_vector(struct.pack("<4d", *env), 4, 8)
    hb.start_table()
    hb.add_offset(0, name_off)
    hb.add_offset(1, env_off)
    hb.add_scalar(2, "<B", layer_code, 0)
    hb.add_scalar(3, "<B", 1 if has_z else 0, 0)
    hb.add_offset(7, cols_off)
    hb.add_scalar(8, "<Q", int(count), 0)
    # header default for slot 9 is 16, so 0 must be written explicitly
    hb.add_scalar(9, "<H", max(0, int(index_node_size)), 16)
    hb.add_offset(10, crs_off)
    return hb.finish(hb.end_table(), size_prefixed=True)


def _encode_part(frames, part: str, geom_col: str, cols: list[str], spec, leaves: bool) -> dict:
    """The one FlatGeobuf part encoder: ``frames`` -> ``part`` (size-prefixed
    Feature flatbuffers) and, when ``leaves``, ``part.leaf`` (one packed
    R-tree leaf per feature: its bbox and part-relative byte offset).
    Returns the part's feature count, envelope, geometry types and Z
    flag."""
    n, pos = 0, 0
    env = [np.inf, np.inf, -np.inf, -np.inf]
    gtypes: set[str] = set()
    has_z = False
    with open(part, "wb") as f, (open(part + ".leaf", "wb") if leaves else contextlib.nullcontext()) as leaf:
        for pdf in frames:
            rows = zip(*(pdf[c].tolist() for c in cols)) if cols else itertools.repeat(())
            geoms = pdf[geom_col].tolist()
            for b, (x0, y0, x1, y1), values in zip(geoms, W.bounds_many(geoms).tolist(), rows):
                fb = Builder()
                geom_off = None
                if b is not None:
                    g = W.parse_wkb(bytes(b))
                    gtypes.add(g.type)
                    has_z = has_z or g.has_z
                    env = [min(env[0], x0), min(env[1], y0), max(env[2], x1), max(env[3], y1)]
                    geom_off = _build_geometry(fb, g)
                elif leaves:
                    raise ValueError("index_node_size > 0 requires non-null geometries")
                props = _encode_properties(values, spec)
                props_off = fb.create_scalar_vector(props, len(props), 1) if props else None
                fb.start_table()
                fb.add_offset(0, geom_off)
                fb.add_offset(1, props_off)
                feature = fb.finish(fb.end_table(), size_prefixed=True)
                f.write(feature)
                if leaves:
                    leaf.write(struct.pack("<4dQ", x0, y0, x1, y1, pos))
                pos += len(feature)
                n += 1
    return {"n": n, "minx": env[0], "miny": env[1], "maxx": env[2], "maxy": env[3],
            "gtypes": sorted(gtypes), "has_z": has_z}


def _stitch(path: str, metas: list[dict], spec, layer_name, crs, index_node_size: int) -> None:
    """The one FlatGeobuf stitch: the parts' metadata -> the header (count,
    envelope, layer type: ``W.layer_type`` of the parts' geometry types),
    the packed R-tree built from the parts' leaf files (their offsets
    shifted by each part's base; parts come in Hilbert order), then the
    parts streamed into ``path`` in order. The upper tree levels are
    built in memory, 40 bytes per feature. An empty file declares no
    index."""
    total = sum(m["n"] for m in metas)
    env = [min((m["minx"] for m in metas), default=np.inf), min((m["miny"] for m in metas), default=np.inf),
           max((m["maxx"] for m in metas), default=-np.inf), max((m["maxy"] for m in metas), default=-np.inf)]
    if not np.isfinite(env[0]):
        env = [0.0, 0.0, 0.0, 0.0]
    # an Unknown layer (code 0) leaves the type to each feature's own
    layer_code = GEOM_NAME_TO_CODE[W.layer_type(t for m in metas for t in m["gtypes"])]
    index_node_size = index_node_size if index_node_size > 0 and total else 0
    index_bytes = b""
    if index_node_size:
        boxes, offsets, base = [], [], 0
        for m in metas:
            raw = np.fromfile(m["part"] + ".leaf", dtype=np.uint8).reshape(-1, 40)
            boxes.append(raw[:, :32].copy().view("<f8").reshape(-1, 4))
            offsets.append(raw[:, 32:].copy().view("<u8").ravel().astype(np.int64) + base)
            base += os.path.getsize(m["part"])
        index_bytes = build_packed_rtree(np.concatenate(boxes), np.concatenate(offsets), index_node_size)
    header = _build_header(
        spec, layer_code, any(m["has_z"] for m in metas), env, total,
        layer_name or os.path.splitext(os.path.basename(path))[0], crs, index_node_size,
    )
    with open(path, "wb") as out:
        out.write(MAGIC + header + index_bytes)
        for m in metas:
            with open(m["part"], "rb") as f:
                shutil.copyfileobj(f, out, 1 << 20)


def _write(data, path: str, geom_col: str, layer_name, crs, index_node_size: int) -> None:
    """Type the attributes, run the one part encoder over ``data`` (a
    pandas frame in process, or a Spark DataFrame per partition) and
    stitch the parts into ``path``."""
    from pyogrio_spark.io.sink import attribute_schema, encoded_parts

    # a ``fid`` column is the engine's row-id convention, not an
    # attribute: FIDs are driver-assigned on read, as in the reference
    cols = [c for c in data.columns if c not in (geom_col, "fid")]
    spec = _fgb_columns(attribute_schema(data, cols))
    meta = [("n", "bigint"), ("minx", "double"), ("miny", "double"), ("maxx", "double"), ("maxy", "double"),
            ("gtypes", "array<string>"), ("has_z", "boolean")]

    def encode(frames, part):
        return _encode_part(frames, part, geom_col, cols, spec, index_node_size > 0)

    with encoded_parts(data, path, encode, meta) as metas:
        _stitch(path, metas, spec, layer_name, crs, index_node_size)


def write_flatgeobuf(
    pdf: pd.DataFrame,
    path: str,
    geom_col: str = "geometry_wkb",
    layer_name: str | None = None,
    crs=None,
    crs_wkt: str | None = None,
    index_node_size: int = 0,
) -> None:
    """Write a FlatGeobuf file from a pandas frame with a WKB geometry
    column, in process and without Spark: the frame is the one part of
    the part encoder, and the stitch writes the header, any index and
    the features. ``write_flatgeobuf_distributed`` runs the same encoder
    per partition, so a one-partition write of the same rows gives the
    same bytes. ``crs_wkt`` is an alias of ``crs``.

    ``index_node_size=0`` (default): no spatial index — features keep
    their input order and round-trip byte-identically through
    ``read_flatgeobuf_pdf``. ``index_node_size>0`` (spec default 16):
    the frame is first sorted into Hilbert order (``hilbert_order``, the
    spec's contract for indexed files) and the static packed Hilbert
    R-tree is written, its leaves carrying the features' byte offsets —
    which the distributed reader uses for byte-range partitioning.
    Indexing requires non-null geometries (a bbox per feature)."""
    if crs is None and crs_wkt is not None:
        crs = crs_wkt
    if index_node_size > 0 and len(pdf):
        bboxes = W.bounds_many(pdf[geom_col])
        if np.isnan(bboxes).any():
            raise ValueError("index_node_size > 0 requires non-null geometries")
        pdf = pdf.iloc[hilbert_order(bboxes)]
    _write(pdf, path, geom_col, layer_name, crs, index_node_size)


def write_flatgeobuf_distributed(
    df,
    path: str,
    geom_col: str = "geometry_wkb",
    layer_name: str | None = None,
    crs=None,
    index_node_size: int = 0,
) -> None:
    """FlatGeobuf sink for a Spark DataFrame: each task runs the one part
    encoder over its partition inside a ``mapInPandas`` (WKB parse and
    FlatBuffers encoding scale with executors) and reports its metadata;
    the driver runs the same stitch as ``write_flatgeobuf``, streaming
    the parts into the output in partition order. An unindexed write is
    one Spark job with no exchange, keeps partition order, and a
    one-partition write is byte-identical to ``write_flatgeobuf``. The
    parts directory sits next to ``path``, so executors must see it.

    ``index_node_size>0`` first computes the dataset envelope (one
    job), then sorts the rows GLOBALLY by the Hilbert key of their bbox
    center (one Spark range sort, the same key as ``hilbert_order``);
    each part then also writes its R-tree leaves. Indexing requires
    non-null geometries."""
    if index_node_size > 0:
        from pyspark.sql import functions as F

        def _bounds(pdfs):
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                bs = W.bounds_many(pdf[geom_col])
                if np.isnan(bs).any():
                    raise ValueError("index_node_size > 0 requires non-null geometries")
                yield pd.DataFrame([(bs[:, 0].min(), bs[:, 1].min(), bs[:, 2].max(), bs[:, 3].max())],
                                   columns=["minx", "miny", "maxx", "maxy"])

        env = [float(v) for v in (
            df.select(geom_col).mapInPandas(_bounds, schema="minx double, miny double, maxx double, maxy double")
            .agg(F.min("minx"), F.min("miny"), F.max("maxx"), F.max("maxy"))
            .first()
        )]

        def _hkey(pdfs):
            for pdf in pdfs:
                yield pdf.assign(_hkey=_hilbert_keys(W.bounds_many(pdf[geom_col]), env).astype(np.int64))

        hschema = ", ".join(f"`{c}` {t}" for c, t in df.dtypes) + ", `_hkey` bigint"
        df = df.mapInPandas(_hkey, schema=hschema).orderBy("_hkey").drop("_hkey")
    _write(df, path, geom_col, layer_name, crs, index_node_size)


# ------------------------------------------------------------------ read


def _crs_from_header(buf, header: Table) -> str | None:
    """Header -> reference-convention CRS string: 'ORG:code' when the
    Crs table carries an authority code, else the (identified) WKT."""
    crs_t = header._indirect(10)
    if crs_t is None:
        return None
    t = Table(buf, crs_t)
    code = t.scalar(1, "<i", 0)
    org = t.string(0)
    if code:
        return f"{(org or 'EPSG').upper()}:{code}"
    wkt = t.string(4)
    if wkt:
        from pyogrio_spark.crs import display_crs

        return display_crs(wkt)
    return None


def _read_header(path: str):
    """Magic check and Header flatbuffer -> (header Table, its buffer,
    column spec, byte offset of the first feature past any index)."""
    with open(path, "rb") as f:
        head = f.read(12)
        if head[:3] != b"fgb" or head[3:4] != b"\x03" or head[4:7] != b"fgb":
            raise ValueError(f"{path}: not a FlatGeobuf file (bad magic)")
        (hsize,) = struct.unpack_from("<I", head, 8)
        hdr_buf = head[8:] + f.read(hsize)
    header = Table.root(hdr_buf, 4)
    spec = [(c.string(0), c.scalar(1, "<B", 0)) for c in header.table_vector(7)]
    count, node_size = header.scalar(8, "<Q", 0), header.scalar(9, "<H", 16)
    index_size = packed_rtree_size(count, node_size) if node_size > 0 and count > 0 else 0
    return header, hdr_buf, spec, 12 + hsize + index_size


def flatgeobuf_info(path: str) -> dict:
    """read_info fields from the HEADER ONLY (name, envelope, geometry
    type, column spec, features_count, crs) — no feature reads; the
    features_count/envelope fields exist in the format precisely so
    metadata queries stay O(1)."""
    from pyogrio_spark.io.reader import NUMPY_DTYPE

    header, hdr_buf, spec, _ = _read_header(path)
    envelope = header.scalar_vector(1, "d")
    has_z = header.scalar(3, "<B", 0)
    gtype = GEOM_CODE_TO_NAME.get(header.scalar(2, "<B", 0), "Unknown")
    return {
        "layer_name": header.string(0) or os.path.splitext(os.path.basename(path))[0],
        "features": header.scalar(8, "<Q", 0),
        "fields": [s[0] for s in spec],
        "dtypes": [NUMPY_DTYPE[_spark_type(ct)] for _, ct in spec],
        "column_spec": spec,
        "total_bounds": tuple(envelope) if envelope else None,
        "geometry_type": gtype + (" Z" if has_z and gtype != "Unknown" else ""),
        "crs": _crs_from_header(hdr_buf, header),
        "encoding": "UTF-8",
        "has_spatial_index": header.scalar(9, "<H", 16) > 0,
    }


def _decode_frames(buf: bytes, spec, layer_code: int) -> tuple[list, list[list]]:
    """Size-prefixed feature frames filling ``buf`` -> (WKB per feature,
    values per column of ``spec``, None for null)."""
    readers = [(None, ct) if ct not in _SCALAR_COL_FMT else
               (struct.Struct("<?" if ct == COL_BOOL else _SCALAR_COL_FMT[ct]).unpack_from,
                struct.calcsize(_SCALAR_COL_FMT[ct])) for _, ct in spec]
    tables, rows, off = [], [], 0
    while off + 4 <= len(buf):
        (fsize,) = _U32(buf, off)
        root = off + 4 + _U32(buf, off + 4)[0]
        off += 4 + fsize
        geom, props = field_positions(buf, root, 2)
        tables.append(geom + _U32(buf, geom)[0] if geom else None)
        ps, pn = vector_at(buf, props)
        row = [None] * len(spec)
        _decode_properties(buf, ps, ps + pn, readers, row)
        rows.append(row)
    return _geometries_wkb(buf, tables, layer_code), [list(c) for c in zip(*rows)] or [[] for _ in spec]


def _spark_type(ctype: int) -> str:
    """FGB ColumnType -> Spark SQL type."""
    if ctype in (COL_BYTE, COL_UBYTE, COL_SHORT, COL_USHORT, COL_INT,
                 COL_UINT, COL_LONG, COL_ULONG):
        return "bigint"
    if ctype in (COL_FLOAT, COL_DOUBLE):
        return "double"
    if ctype == COL_BOOL:
        return "boolean"
    if ctype == COL_BINARY:
        return "binary"
    return "string"


def _decoder(path: str, layer_code: int, spec):
    """The one FlatGeobuf decoder: (Spark fields, ``decode``), where
    ``decode((byte_lo, byte_hi, first fid))`` reads only that byte range
    of feature frames."""
    from pyogrio_spark.io.reader import chunk_frame

    fields = [(name, _spark_type(ct)) for name, ct in spec]

    def decode(chunk) -> pd.DataFrame:
        byte_lo, byte_hi, fid_lo = chunk
        with open(path, "rb") as f:
            f.seek(byte_lo)
            buf = f.read(byte_hi - byte_lo)
        geoms, values = _decode_frames(buf, spec, layer_code)
        return chunk_frame(np.arange(fid_lo, fid_lo + len(geoms)), fields, values, geoms)

    return fields, decode


def read_flatgeobuf_pdf(path: str) -> tuple[pd.DataFrame, dict]:
    """The whole file through the one decoder -> (pandas frame with
    fid/attrs/geometry_wkb in numpy dtypes, info dict mirroring
    read_info)."""
    from pyogrio_spark.io.reader import numpy_dtypes

    header, _, spec, feat0 = _read_header(path)
    decode = _decoder(path, header.scalar(2, "<B", 0), spec)[1]
    pdf = numpy_dtypes(decode((feat0, os.path.getsize(path), 0)))
    info = flatgeobuf_info(path)
    if info["geometry_type"] == "Unknown":
        info["geometry_type"] = W.layer_type(map(W.geom_type_name, pdf["geometry_wkb"]))
    info["features"] = len(pdf)
    info["dtypes"] = [str(pdf[name].dtype) for name, _ in spec]
    return pdf, info


def _fgb_layout(path: str):
    """(spec, layer_code, feature_section_start, absolute feature
    offsets, file size, leaf bboxes or None) reading only the header and
    either the R-tree LEAF slice (indexed files: one seek, 40 bytes per
    feature) or a 4-byte-size seek-walk (index-less files: no payload
    reads)."""
    header, _, spec, feat0 = _read_header(path)
    features_count = header.scalar(8, "<Q", 0)
    file_size = os.path.getsize(path)
    with open(path, "rb") as f:
        if header.scalar(9, "<H", 16) > 0 and features_count > 0:
            # leaves are the LAST features_count nodes; their offsets are
            # feature-section-relative and ascending (features are stored
            # in the same Hilbert order as the leaf level)
            f.seek(feat0 - features_count * 40)
            raw = f.read(features_count * 40)
            leaves = np.frombuffer(raw, dtype=np.uint8).reshape(features_count, 40)
            rel = leaves[:, 32:].copy().view("<u8").ravel()
            offsets = feat0 + rel.astype(np.int64)
            leaf_boxes = leaves[:, :32].copy().view("<f8").reshape(features_count, 4)
        else:
            offsets_l = []
            pos = feat0
            while pos + 4 <= file_size:
                offsets_l.append(pos)
                f.seek(pos)
                (fsize,) = struct.unpack("<I", f.read(4))
                pos += 4 + fsize
            offsets = np.array(offsets_l, dtype=np.int64)
            leaf_boxes = None
    return spec, header.scalar(2, "<B", 0), feat0, offsets, file_size, leaf_boxes


def read_flatgeobuf(spark, path: str, distributed: bool = False, chunk_features: int = 50_000,
                    **read_table_kwargs):
    """FlatGeobuf -> engine DataFrame (fid, attributes, geometry_wkb),
    composable with every read_table filter. Per-feature byte offsets
    come from the packed R-tree's leaf nodes (or a header-only seek-walk
    for index-less files) on the driver and split the feature section
    into contiguous chunks of ``chunk_features``; ``distributed`` places
    the decode (``reader.scan_chunks``): one Spark task per chunk, or the
    driver (needed when executors cannot see the path). The Spark schema
    comes from the file's column spec."""
    from pyogrio_spark.io.reader import chunk_schema, id_runs, scan_chunks, storage_prune_box

    spec, layer_code, _, offsets, file_size, leaf_boxes = _fgb_layout(path)
    n = len(offsets)
    # bbox pushdown to the STORAGE layer: when the file carries the
    # packed R-tree, prune whole byte ranges on the driver using the
    # leaf bboxes (a superset of the exact answer — the exact refine
    # still runs on what is read). Hilbert order clusters spatial
    # neighbors, so the surviving features form few contiguous runs and
    # the scan reads only those ranges — the reference's reason for the
    # index (bounds-assisted reads, core.py:184-187).
    bbox = storage_prune_box(read_table_kwargs)
    idx = np.arange(n)
    if bbox is not None and leaf_boxes is not None:
        qx0, qy0, qx1, qy1 = bbox
        idx = np.flatnonzero(
            (leaf_boxes[:, 0] <= qx1)
            & (leaf_boxes[:, 2] >= qx0)
            & (leaf_boxes[:, 1] <= qy1)
            & (leaf_boxes[:, 3] >= qy0)
        )
    # (byte_lo, byte_hi, fid_lo); none for a zero-feature file or a bbox that pruned everything
    chunks = [
        (int(offsets[seg[0]]), int(offsets[seg[-1] + 1]) if seg[-1] + 1 < n else file_size, int(seg[0]))
        for seg in id_runs(idx, int(chunk_features))
    ]
    fields, decode = _decoder(path, layer_code, spec)
    return scan_chunks(spark, path, chunks, decode, chunk_schema(fields),
                       distributed=distributed, **read_table_kwargs)
