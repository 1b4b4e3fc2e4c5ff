"""Pure-Python ESRI Shapefile source (.shp geometry + .dbf attributes).

The reference reads shapefiles through GDAL's driver; this module
implements the same source from the PUBLIC ESRI Shapefile technical
description (the .shp/.shx/.dbf layout is an open spec) so the engine
can ingest the reference's own canonical fixtures —
``naturalearth_lowres`` parity (177 features, 5 attribute fields,
total_bounds (-180, -90, 180, 83.64513), MultiPolygon layer type) is
golden-tested against the values the reference's tests assert
(/root/reference/pyogrio/tests/test_core.py:540-552, 285-301).

Geometries convert to ISO WKB — the engine's wire format — with
shapefile ring-orientation semantics (outer rings clockwise, holes
counter-clockwise; holes assigned to the containing outer ring).

One decoder reads a contiguous record range: its byte range of the
.shp (from the .shx index) and its records of the .dbf. The Spark
reader splits the file into such ranges (one task each, or all on the
driver) and ``read_shapefile_pdf`` reads the whole file as one. The
writers mirror it: one part encoder and one stitch (``io/sink.py``),
the pandas frame being one part and a Spark DataFrame one part per
partition.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import struct
import warnings

import numpy as np
import pandas as pd

from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.geometry.predicates import points_in_ring
from pyogrio_spark.io.reader import chunk_frame


def _ring_signed_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]) / 2.0)


def _assemble_polygons(rings: list[np.ndarray]):
    """Shapefile polygon record -> list of [outer, holes...] ring groups.
    Outer rings are clockwise (negative shoelace area), holes CCW;
    a hole belongs to the outer ring that contains its first vertex."""
    outers = [r for r in rings if _ring_signed_area(r) <= 0]
    holes = [r for r in rings if _ring_signed_area(r) > 0]
    if not outers:  # degenerate: treat all as outers
        outers, holes = rings, []
    groups = [[o] for o in outers]
    for h in holes:
        placed = False
        for g in groups:
            if points_in_ring(h[:1, 0], h[:1, 1], g[0])[0]:
                g.append(h)
                placed = True
                break
        if not placed:
            groups.append([h])
    return groups


def _shape_to_wkb(shape_type: int, buf: bytes) -> bytes | None:
    """One .shp record body -> WKB (None for a null shape).

    Z types (11/13/15/18) carry the Z array through to WKB Z; M-only
    types (21/23/25/28) and the optional trailing M block of Z types
    are stripped — the engine's documented M handling (SURVEY §2.4,
    reference force_2d/M semantics)."""
    if shape_type == 0:
        return None
    base = shape_type % 10 if shape_type != 28 else 8  # 11->1, 13->3, 15->5, 18/28->8
    has_z = 11 <= shape_type <= 18
    if base == 1:  # Point / PointZ / PointM
        x, y = struct.unpack_from("<dd", buf, 4)
        if has_z and len(buf) >= 28:
            (z,) = struct.unpack_from("<d", buf, 20)
            return W.encode_point(x, y, z)
        return W.encode_point(x, y)
    if base == 8:  # MultiPoint (+Z/M)
        (n,) = struct.unpack_from("<i", buf, 36)
        pts = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=40).reshape(n, 2)
        zoff = 40 + 16 * n
        if has_z and len(buf) >= zoff + 16 + 8 * n:
            z = np.frombuffer(buf, dtype="<f8", count=n, offset=zoff + 16)
            return W.encode_multipoint(np.column_stack([pts, z]))
        return W.encode_multipoint(pts)
    if base in (3, 5):  # PolyLine / Polygon (+Z/M)
        nparts, npoints = struct.unpack_from("<ii", buf, 36)
        parts = np.frombuffer(buf, dtype="<i4", count=nparts, offset=44)
        xy_off = 44 + 4 * nparts
        pts = np.frombuffer(buf, dtype="<f8", count=2 * npoints, offset=xy_off).reshape(npoints, 2)
        zoff = xy_off + 16 * npoints
        if has_z and len(buf) >= zoff + 16 + 8 * npoints:
            z = np.frombuffer(buf, dtype="<f8", count=npoints, offset=zoff + 16)
            pts = np.column_stack([pts, z])
        bounds = np.append(parts, npoints)
        pieces = [np.ascontiguousarray(pts[bounds[i] : bounds[i + 1]]) for i in range(nparts)]
        if base == 3:
            if len(pieces) == 1:
                return W.encode_linestring(pieces[0])
            return W.encode_multilinestring(pieces)
        groups = _assemble_polygons(pieces)
        if len(groups) == 1:
            return W.encode_polygon(groups[0])
        return W.encode_multipolygon(groups)
    raise ValueError(f"unsupported shapefile shape type {shape_type}")


def _read_shp_header(path: str) -> tuple[int, tuple]:
    """.shp file header -> (layer shape type, bbox)."""
    with open(path, "rb") as f:
        header = f.read(100)
    (magic,) = struct.unpack_from(">i", header, 0)
    if magic != 9994:
        raise ValueError(f"not a shapefile: magic {magic}")
    (shape_type,) = struct.unpack_from("<i", header, 32)
    return shape_type, struct.unpack_from("<4d", header, 36)


def _dbf_header(data: bytes):
    """DBF header bytes -> (nrec, hsize, rsize, fields) where fields is
    [(name, type_char, length, decimals), ...]."""
    (nrec,) = struct.unpack_from("<I", data, 4)
    hsize, rsize = struct.unpack_from("<HH", data, 8)
    fields = []
    pos = 32
    while pos < hsize - 1 and data[pos] != 0x0D:
        name = data[pos : pos + 11].split(b"\x00")[0].decode("utf-8", errors="replace")
        ftype = chr(data[pos + 11])
        flen = data[pos + 16]
        fdec = data[pos + 17]
        fields.append((name, ftype, flen, fdec))
        pos += 32
    return nrec, hsize, rsize, fields


def _read_dbf_header(path: str):
    with open(path, "rb") as f:
        head = f.read(32)
        (hsize,) = struct.unpack_from("<H", head, 8)
        return _dbf_header(head + f.read(hsize - 32))


def _read_cpg(base: str) -> str:
    try:
        with open(base + ".cpg") as f:
            enc = f.read().strip()
        return {"UTF-8": "utf-8", "UTF8": "utf-8", "ISO-8859-1": "latin-1"}.get(enc, enc or "utf-8")
    except FileNotFoundError:
        return "utf-8"


def _crs_from_prj(base: str) -> str | None:
    """Reference get_crs parity (_io.pyx:426-478): 'EPSG:<code>' when
    the .prj identifies (authority node, UTM naming, or well-known
    name), else the raw WKT."""
    from pyogrio_spark.crs import display_crs

    try:
        with open(base + ".prj") as f:
            wkt = f.read().strip()
    except FileNotFoundError:
        return None
    return display_crs(wkt) if wkt else None


def _spark_type(ftype: str, fdec: int) -> str:
    """DBF field declaration -> the Spark type of its column. Decl-derived,
    so a numeric column holding nulls keeps its integer type."""
    if ftype == "N" and fdec == 0:
        return "bigint"
    if ftype in ("N", "F"):
        return "double"
    if ftype == "L":
        return "boolean"
    return "string"


_SHP_LAYER_TYPE = {
    # header type code -> reported layer type. Multi-capable codes
    # report the Multi type: a shapefile cannot distinguish Polygon from
    # MultiPolygon records, which is why modern GDAL (>= 3.14) reports
    # the promoted type (the reference accepts either,
    # tests/test_core.py:566-570).
    0: "Unknown", 1: "Point", 3: "MultiLineString", 5: "MultiPolygon",
    8: "MultiPoint", 11: "Point Z", 13: "MultiLineString Z",
    15: "MultiPolygon Z", 18: "MultiPoint Z",
}


def shapefile_info(path: str) -> dict:
    """read_info fields from HEADERS ONLY: .shp header (type + bounds),
    .dbf header (record count + field decls), .prj, .cpg — no feature
    scan, the metadata cost profile the reference gets from GDAL's
    driver capabilities (fast_feature_count/fast_total_bounds)."""
    from pyogrio_spark.io.reader import NUMPY_DTYPE

    base = os.path.splitext(path)[0]
    shape_type, bbox = _read_shp_header(base + ".shp")
    nrec, _, _, fields = _read_dbf_header(base + ".dbf")
    return {
        "layer_name": os.path.basename(base),
        "features": nrec,
        "fields": [name for name, *_ in fields],
        "dtypes": [NUMPY_DTYPE[_spark_type(ft, fd)] for _, ft, _, fd in fields],
        "field_specs": fields,
        "total_bounds": tuple(bbox) if nrec else None,
        "geometry_type": _SHP_LAYER_TYPE.get(shape_type, "Unknown"),
        "crs": _crs_from_prj(base),
        "encoding": "UTF-8",
        "source_encoding": _read_cpg(base).upper(),
    }


def _dbf_value(txt: str, ftype: str, flen: int, fdec: int):
    """One stripped DBF field text -> its value typed for ``_spark_type``
    (None for null; a blank C field is null, as OGR reads it)."""
    if ftype in ("N", "F"):
        if txt in ("", "*" * flen):
            return None
        if ftype == "F" or fdec > 0:
            return float(txt)
        return int(float(txt)) if "." in txt or "e" in txt.lower() else int(txt)
    if ftype == "L":
        return None if txt in ("", "?") else txt.upper() in ("T", "Y")
    if ftype == "D":
        return f"{txt[0:4]}-{txt[4:6]}-{txt[6:8]}" if len(txt) == 8 else None
    return txt or None


def _decoder(path: str):
    """The one Shapefile decoder: (Spark fields, ``decode``), where
    ``decode((shp_lo, shp_hi, rec_lo, rec_hi))`` reads only that byte
    range of the .shp and those records of the .dbf. Records whose DBF
    deletion flag is ``*`` are skipped, as OGR's driver does; ``fid`` is
    the record number, so deleted records leave a gap."""
    base = os.path.splitext(path)[0]
    shp_path, dbf_path = base + ".shp", base + ".dbf"
    _read_shp_header(shp_path)
    _, hsize, rsize, specs = _read_dbf_header(dbf_path)
    encoding = _read_cpg(base)
    fields = [(name, _spark_type(ft, fd)) for name, ft, _, fd in specs]

    def decode(chunk) -> pd.DataFrame:
        shp_lo, shp_hi, rec_lo, rec_hi = chunk
        n = rec_hi - rec_lo
        with open(shp_path, "rb") as f:
            f.seek(shp_lo)
            blob = f.read(shp_hi - shp_lo)
        with open(dbf_path, "rb") as f:
            f.seek(hsize + rec_lo * rsize)
            recs = np.frombuffer(f.read(n * rsize), dtype=np.uint8)
        if len(recs) != n * rsize:
            raise ValueError(f"{dbf_path} ends before record {rec_hi}")
        recs = recs.reshape(n, rsize)
        live = recs[:, 0] != ord("*")
        geoms, pos = [], 0
        for keep in live:
            _, clen = struct.unpack_from(">ii", blob, pos)
            if keep:
                body = blob[pos + 8 : pos + 8 + 2 * clen]
                geoms.append(_shape_to_wkb(struct.unpack_from("<i", body, 0)[0], body))
            pos += 8 + 2 * clen
        recs, values, off = recs[live], [], 1
        for _, ftype, flen, fdec in specs:
            texts = (bytes(r).decode(encoding, errors="replace").strip() for r in recs[:, off : off + flen])
            values.append([_dbf_value(t, ftype, flen, fdec) for t in texts])
            off += flen
        return chunk_frame(np.arange(rec_lo, rec_hi)[live], fields, values, geoms)

    return fields, decode


def _read_shx(path: str) -> tuple[np.ndarray, np.ndarray]:
    """.shx record index -> (byte offset of each record header, total
    byte length incl. the 8-byte header). The index is 8 bytes/record —
    a 100M-record shapefile's index is 800 MB, but only the per-chunk
    slices matter and the driver reads it once."""
    with open(path, "rb") as f:
        data = f.read()
    n = (len(data) - 100) // 8
    arr = np.frombuffer(data, dtype=">i4", count=2 * n, offset=100).reshape(n, 2)
    return arr[:, 0].astype(np.int64) * 2, arr[:, 1].astype(np.int64) * 2 + 8


def read_shapefile(spark, path: str, distributed: bool = False, chunk_records: int = 50_000,
                   **read_table_kwargs):
    """Shapefile -> engine DataFrame (fid, attributes, geometry_wkb),
    composable with every read_table filter (where/bbox/mask/columns...).
    The .shx record index splits the records into contiguous chunks of
    ``chunk_records``; each chunk byte-range-reads only its part of the
    .shp and .dbf. ``distributed`` places the decode
    (``reader.scan_chunks``): one Spark task per chunk, or the driver
    (needed when executors cannot see the path). The Spark schema comes
    from the DBF field declarations, so nullable integer and logical
    columns keep their types."""
    from pyogrio_spark.io.reader import chunk_schema, scan_chunks

    base = os.path.splitext(path)[0]
    offsets, lengths = _read_shx(base + ".shx")
    nrec = _read_dbf_header(base + ".dbf")[0]
    if nrec != len(offsets):
        raise ValueError(f"{path}: .shx indexes {len(offsets)} records, .dbf holds {nrec}")
    fields, decode = _decoder(path)
    chunks = []  # (shp byte_lo, shp byte_hi, rec_lo, rec_hi)
    for lo in range(0, len(offsets), int(chunk_records)):
        hi = min(lo + int(chunk_records), len(offsets))
        chunks.append((int(offsets[lo]), int(offsets[hi - 1] + lengths[hi - 1]), lo, hi))
    return scan_chunks(spark, path, chunks, decode, chunk_schema(fields),
                       distributed=distributed, **read_table_kwargs)


def read_shapefile_pdf(path: str) -> tuple[pd.DataFrame, dict]:
    """The whole file through the one decoder -> (pandas frame with
    fid/attrs/geometry_wkb in numpy dtypes, info dict mirroring
    read_info)."""
    from pyogrio_spark.io.reader import numpy_dtypes

    base = os.path.splitext(path)[0]
    info = shapefile_info(path)
    pdf = numpy_dtypes(_decoder(path)[1]((100, os.path.getsize(base + ".shp"), 0, info["features"])))
    # record-level refinement of the header type: the reference's
    # promote inference (geopandas.py:679-740) — a polygon layer whose
    # records are all plain Polygon reports Polygon
    if pdf["geometry_wkb"].notna().any():
        info["geometry_type"] = W.layer_type(map(W.geom_type_name, pdf["geometry_wkb"]))
    info["features"] = len(pdf)
    info["total_bounds"] = _read_shp_header(base + ".shp")[1]
    return pdf, info


_M_NODATA = -1e39  # spec: M < -1e38 means "no data"


# WKB base type -> shapefile shape type (+10 with Z); a Polygon and a
# MultiPolygon are both one Polygon record, a LineString one PolyLine part
_SHAPE_TYPE = np.array([0, 1, 3, 5, 8, 3, 5, -1])


def _shp_records(flat: W.Flat) -> tuple[bytes, np.ndarray]:
    """The flat layout of a batch -> (its .shp records, numbered 0; shape
    type per row). Polygon rings are emitted outer-CW / holes-CCW per the
    spec (the sign of each ring's shoelace area, one ``np.add.reduceat``
    over the batch), and a MultiPolygon's rings make one Polygon record.
    Z geometries get the Z record types (11/13/15/18) with a no-data M
    section. Every field lands in one preallocated buffer by whole-batch
    scatters."""
    gt = flat.geom_type
    ng = len(gt)
    gvo = flat.geom_vertex_off()
    nverts = np.diff(gvo)
    if (gt == 7).any():
        raise ValueError("cannot write geometry type GeometryCollection to shapefile")
    if ((gt > 0) & (nverts == 0)).any():
        raise ValueError("cannot write an empty geometry to shapefile")
    pgeom = np.repeat(np.arange(ng), np.diff(flat.geom_off))
    has_z = np.bincount(pgeom[flat.part_type >= 1000], minlength=ng) > 0
    st = _SHAPE_TYPE[gt] + 10 * has_z
    nrings = np.diff(flat.part_off[flat.geom_off])

    # ring orientation: the shoelace sum of each ring's own edges
    x, y = flat.xy[:, 0], flat.xy[:, 1]
    vring = flat.ring_of_vertex()
    ro = flat.ring_off
    terms = np.zeros(len(x))
    terms[:-1] = x[:-1] * y[1:] - x[1:] * y[:-1]
    terms[ro[1:-1] - 1] = 0.0  # the step from one ring to the next
    area = np.zeros(len(ro) - 1)
    full = ro[1:] > ro[:-1]
    if full.any():
        area[full] = np.add.reduceat(terms, ro[:-1][full]) / 2.0
    pring = flat.part_of_ring()
    first = np.arange(len(area)) == flat.part_off[pring]
    flip = (flat.part_type[pring] % 1000 == 3) & np.where(first, area > 0, area < 0)
    order = np.arange(len(x))
    rv = flip[vring]
    order[rv] = (ro[vring] + ro[vring + 1] - 1 - order)[rv]
    xy, z = flat.xy[order], flat.z[order]

    point = (st % 10 == 1)
    multi = (st % 10 == 8)
    poly = (st % 10 == 3) | (st % 10 == 5)
    zb = 16 + 8 * nverts  # [zmin, zmax] + z values, as long again for M
    body = np.select(
        [gt == 0, point, multi],
        [4, 20 + 16 * has_z, 40 + 16 * nverts + 2 * zb * has_z],
        44 + 4 * nrings + 16 * nverts + 2 * zb * has_z,
    )
    rec = W.offsets(8 + body)
    out = np.zeros(rec[-1], dtype=np.uint8)
    f8 = W.f8_at(out)
    i4 = np.ndarray((max(len(out) - 3, 0),), dtype="<i4", buffer=out, strides=(1,))
    np.ndarray((max(len(out) - 3, 0),), dtype=">i4", buffer=out, strides=(1,))[rec[:-1] + 4] = body // 2
    at = rec[:-1] + 8  # body of each record
    i4[at] = st * (gt > 0)

    # bbox (and z range) of every non-null row: their vertex runs tile the batch
    live = np.flatnonzero(gt > 0)
    lo, hi = np.zeros((ng, 3)), np.zeros((ng, 3))
    if len(live):
        xyz = np.column_stack([xy, z])
        lo[live] = np.minimum.reduceat(xyz, gvo[:-1][live])
        hi[live] = np.maximum.reduceat(xyz, gvo[:-1][live])
    shaped = multi | poly
    for j, v in enumerate((lo[:, 0], lo[:, 1], hi[:, 0], hi[:, 1])):
        f8[at[shaped] + 4 + 8 * j] = v[shaped]
    i4[at[multi] + 36] = nverts[multi]
    i4[at[poly] + 36] = nrings[poly]
    i4[at[poly] + 40] = nverts[poly]
    # part starts of PolyLine/Polygon records: each ring's first vertex
    rgeom = pgeom[pring]
    rpoly = poly[rgeom]
    rk = np.arange(len(area)) - flat.part_off[flat.geom_off][rgeom]
    i4[(at[rgeom] + 44 + 4 * rk)[rpoly]] = (ro[:-1] - gvo[rgeom])[rpoly]

    vgeom = rgeom[vring]
    k = np.arange(len(xy)) - gvo[vgeom]
    xy_at = np.select([point, multi], [at + 4, at + 40], at + 44 + 4 * nrings)
    v_at = xy_at[vgeom] + 16 * k
    f8[v_at], f8[v_at + 8] = xy[:, 0], xy[:, 1]
    zrows = np.flatnonzero(has_z & shaped)
    if len(zrows):
        z_at = xy_at + 16 * nverts  # [zmin, zmax], z values, then the M block
        f8[z_at[zrows]], f8[z_at[zrows] + 8] = lo[zrows, 2], hi[zrows, 2]
        zv = has_z[vgeom] & shaped[vgeom]
        f8[(z_at[vgeom] + 16 + 8 * k)[zv]] = z[zv]
        m_at = z_at + zb
        f8[m_at[zrows]] = f8[m_at[zrows] + 8] = _M_NODATA
        f8[(m_at[vgeom] + 16 + 8 * k)[zv]] = _M_NODATA
    zpt = np.flatnonzero(point & has_z)
    f8[at[zpt] + 20] = z[gvo[zpt]]
    f8[at[zpt] + 28] = _M_NODATA
    return out.tobytes(), st


def _shp_header(total_words: int, layer_type: int, bbox) -> bytes:
    return (
        struct.pack(">i", 9994) + b"\x00" * 20 + struct.pack(">i", total_words)
        + struct.pack("<ii", 1000, layer_type)
        + struct.pack("<4d", *bbox) + struct.pack("<4d", 0, 0, 0, 0)
    )


def _dbf_head(nrec: int, fdefs) -> bytes:
    """dBase III header, field descriptors and terminator for ``fdefs``
    [(name, type_char, length, decimals), ...] (names laundered by
    ``_dbf_fields``)."""
    rsize = 1 + sum(fl for _, _, fl, _ in fdefs)
    hsize = 32 + 32 * len(fdefs) + 1
    out = struct.pack("<4B", 0x03, 26, 8, 16) + struct.pack("<I", nrec) + struct.pack("<HH", hsize, rsize) + b"\x00" * 20
    for name, ftype, flen, fdec in fdefs:
        out += name.encode("utf-8").ljust(11, b"\x00") + ftype.encode() + b"\x00" * 4 + bytes([flen, fdec]) + b"\x00" * 14
    return out + b"\x0d"


def _cut_utf8(name: str, nbytes: int) -> str:
    """``name`` cut to at most ``nbytes`` UTF-8 bytes at a character boundary."""
    return name.encode("utf-8")[:nbytes].decode("utf-8", errors="ignore")


def _launder(names) -> list[str]:
    """DBF field names laundered as GDAL's shapefile driver does: at most
    10 UTF-8 bytes, unique regardless of case, a colliding name's tail
    replaced by ``_1``, ``_2``, ...; one warning per renamed field."""
    out, seen = [], set()
    for name in map(str, names):
        new, k = _cut_utf8(name, 10), 0
        while new.lower() in seen:
            k += 1
            new = _cut_utf8(name, 10 - len(f"_{k}")) + f"_{k}"
        seen.add(new.lower())
        if new != name:
            warnings.warn(f"Normalized/laundered field name: {name!r} to {new!r}", RuntimeWarning)
        out.append(new)
    return out


def _dbf_fields(schema) -> list[tuple[str, str, int, int]]:
    """The one DBF typing rule, over the Arrow types of the attribute
    columns: integers of any width -> N 18.0, floats -> N 24.8, booleans
    -> L, dates -> D, anything else -> C written with ``str`` (width 1
    here; the encoder sizes it per part). Names go through ``_launder``."""
    import pyarrow as pa

    fdefs = []
    for name, t in zip(_launder(schema.names), schema.types):
        if pa.types.is_integer(t):
            fdefs.append((name, "N", 18, 0))
        elif pa.types.is_floating(t):
            fdefs.append((name, "N", 24, 8))
        elif pa.types.is_boolean(t):
            fdefs.append((name, "L", 1, 0))
        elif pa.types.is_date(t):
            fdefs.append((name, "D", 8, 0))
        else:
            fdefs.append((name, "C", 1, 0))
    return fdefs


def _text_matrix(texts: list[bytes], width: int) -> np.ndarray:
    """Byte strings -> (n, width) cells, each cut to ``width`` bytes and
    space-padded on the right."""
    lens = np.fromiter(map(len, texts), dtype=np.int64, count=len(texts))
    mat = np.array(texts, dtype=f"S{width}").view(np.uint8).reshape(len(texts), width).copy()
    mat[np.arange(width) >= lens[:, None]] = ord(" ")
    return mat


def _dbf_cells(col: pd.Series, ftype: str, flen: int, fdec: int) -> np.ndarray:
    """One attribute column -> its (n, width) DBF cells, built per column:
    C at the longest UTF-8 value clamped to 1..254 (an all-null column
    gets width 1), numbers right-aligned at ``flen`` (cut to it), L as
    T/F, D as YYYYMMDD; a null is blank (``?`` for L)."""
    null = col.isna().to_numpy()
    vals = col.to_numpy(dtype=object)[~null]
    if ftype == "C":
        texts = [v.encode("utf-8") if type(v) is str else str(v).encode("utf-8") for v in vals]
        flen = max(1, min(254, max(map(len, texts), default=0)))
    out = np.full((len(col), flen), ord("?" if ftype == "L" else " "), dtype=np.uint8)
    if not len(vals):
        return out
    if ftype == "C":
        out[~null] = _text_matrix(texts, flen)
    elif ftype == "L":
        out[~null, 0] = np.where(vals.astype(bool), ord("T"), ord("F"))
    elif ftype == "D":
        days = np.datetime_as_string(np.array(vals, dtype="datetime64[D]")).astype("S10")
        out[~null] = days.view(np.uint8).reshape(-1, 10)[:, [0, 1, 2, 3, 5, 6, 8, 9]]
    elif fdec:
        out[~null] = np.char.mod(f"%{flen}.{fdec}f", vals.astype(float)).astype(f"S{flen}").view(np.uint8).reshape(-1, flen)
    else:
        ints = (vals.astype(np.uint64 if col.dtype.kind == "u" else np.int64) if col.dtype.kind in "iu"
                else np.array([int(v) for v in vals], dtype=object))
        out[~null] = np.char.rjust(ints.astype(str), flen).astype(f"S{flen}").view(np.uint8).reshape(-1, flen)
    return out


def _dbf_relayout(src, dst, n: int, part_widths, widths) -> None:
    """Copy ``n`` DBF records whose fields have ``part_widths`` into the
    wider layout ``widths``, space-padding each field on the right, about
    1 MiB of rows at a time."""
    pw, w = [1, *part_widths], [1, *widths]  # deletion flag first
    src_at, dst_at = np.cumsum([0, *pw[:-1]]), np.cumsum([0, *w[:-1]])
    prsize, rsize = sum(pw), sum(w)
    rows = max(1, (1 << 20) // rsize)
    for lo in range(0, n, rows):
        k = min(rows, n - lo)
        part = np.frombuffer(src.read(k * prsize), dtype=np.uint8).reshape(k, prsize)
        out = np.full((k, rsize), ord(" "), dtype=np.uint8)
        for a, b, width in zip(src_at, dst_at, pw):
            out[:, b : b + width] = part[:, a : a + width]
        dst.write(out.tobytes())


def _encode_part(frames, part: str, geom_col: str, attrs: list[str], fdefs) -> dict:
    """The one Shapefile part encoder: ``frames`` -> ``part.shp`` (records
    numbered 0; the stitch patches the numbers) and ``part.dbf`` (rows
    with each C field at this part's longest value). Each frame's
    geometries go through one flat parse (``wkb.flat_from_wkb``) and one
    batch record encoder; the part's attribute columns, not its
    geometries, are held until the part ends, to know those widths.
    Returns the part's record count, bbox, shape types and field widths."""
    x0 = y0 = np.inf
    x1 = y1 = -np.inf
    stypes: set[int] = set()
    attr_frames = []
    with open(part + ".shp", "wb") as f:
        for pdf in frames:
            flat = W.flat_from_wkb(pdf[geom_col].tolist())
            records, st = _shp_records(flat)
            f.write(records)
            stypes.update(st[flat.geom_type > 0].tolist())
            b = W.flat_bounds(flat, exterior_only=True)  # NaN rows leave the bbox as is
            x0, y0 = float(np.fmin.reduce(b[:, 0], initial=x0)), float(np.fmin.reduce(b[:, 1], initial=y0))
            x1, y1 = float(np.fmax.reduce(b[:, 2], initial=x1)), float(np.fmax.reduce(b[:, 3], initial=y1))
            attr_frames.append(pdf[attrs])
    rows = pd.concat(attr_frames, ignore_index=True) if attr_frames else pd.DataFrame(columns=attrs)
    cells = [np.full((len(rows), 1), ord(" "), dtype=np.uint8)]  # the deletion flag
    cells += [_dbf_cells(rows[c], ft, fl, fd) for c, (_, ft, fl, fd) in zip(attrs, fdefs)]
    with open(part + ".dbf", "wb") as f:
        f.write(np.hstack(cells).tobytes())
    return {"n": len(rows), "minx": x0, "miny": y0, "maxx": x1, "maxy": y1,
            "stypes": sorted(stypes), "widths": [c.shape[1] for c in cells[1:]]}


def _stitch(path: str, metas: list[dict], fdefs, crs) -> None:
    """The one Shapefile stitch: the parts' metadata -> the headers (count,
    bbox, layer type: the one shape type, else Polygon), then one pass
    over the parts that patches each .shp record's number (the one
    global field of the format, 4 bytes per record) and builds the .shx
    index. Each DBF field is declared at its widest part's width; a part
    at those widths is copied as is, a narrower one re-laid out a block
    of rows at a time."""
    base = os.path.splitext(path)[0]
    total = sum(m["n"] for m in metas)
    x0 = min((m["minx"] for m in metas), default=np.inf)
    bbox = (x0, min(m["miny"] for m in metas), max(m["maxx"] for m in metas),
            max(m["maxy"] for m in metas)) if np.isfinite(x0) else (0.0, 0.0, 0.0, 0.0)
    stypes = {s for m in metas for s in m["stypes"]}
    layer_type = stypes.pop() if len(stypes) == 1 else 5

    shp_bytes = sum(os.path.getsize(m["part"] + ".shp") for m in metas)
    shx, recno, pos = bytearray(), 0, 50  # pos in 16-bit words
    with open(base + ".shp", "wb") as out:
        out.write(_shp_header(50 + shp_bytes // 2, layer_type, bbox))
        for m in metas:
            with open(m["part"] + ".shp", "rb") as f:
                while len(hdr := f.read(8)) == 8:
                    (_, clen) = struct.unpack(">ii", hdr)
                    recno += 1
                    out.write(struct.pack(">ii", recno, clen) + f.read(2 * clen))
                    shx += struct.pack(">ii", pos, clen)
                    pos += 4 + clen
    with open(base + ".shx", "wb") as out:
        out.write(_shp_header(50 + 4 * total, layer_type, bbox) + bytes(shx))

    widths = [max([fl, *(m["widths"][i] for m in metas)]) for i, (_, _, fl, _) in enumerate(fdefs)]
    with open(base + ".dbf", "wb") as out:
        out.write(_dbf_head(total, [(name, ft, w, fd) for (name, ft, _, fd), w in zip(fdefs, widths)]))
        for m in metas:
            with open(m["part"] + ".dbf", "rb") as f:
                if list(m["widths"]) == widths:
                    shutil.copyfileobj(f, out, 1 << 20)
                else:
                    _dbf_relayout(f, out, m["n"], m["widths"], widths)
        out.write(b"\x1a")

    with open(base + ".cpg", "w") as f:
        f.write("UTF-8")
    if crs is None:  # no .prj, and not an overwritten layer's stale one
        with contextlib.suppress(FileNotFoundError):
            os.remove(base + ".prj")
    else:
        from pyogrio_spark.crs import crs_to_wkt

        with open(base + ".prj", "w") as f:
            f.write(crs_to_wkt(crs))


def _write(data, path: str, geom_col: str, crs) -> None:
    """Type the attributes, run the one part encoder over ``data`` (a
    pandas frame in process, or a Spark DataFrame per partition) and
    stitch the parts into ``path``."""
    from pyogrio_spark.io.sink import attribute_schema, encoded_parts

    attrs = [c for c in data.columns if c not in (geom_col, "fid")]
    fdefs = _dbf_fields(attribute_schema(data, attrs))
    meta = [("n", "bigint"), ("minx", "double"), ("miny", "double"), ("maxx", "double"), ("maxy", "double"),
            ("stypes", "array<int>"), ("widths", "array<int>")]

    def encode(frames, part):
        return _encode_part(frames, part, geom_col, attrs, fdefs)

    with encoded_parts(data, path, encode, meta) as metas:
        _stitch(path, metas, fdefs, crs)


def write_shapefile(
    pdf: pd.DataFrame, path: str, geom_col: str = "geometry_wkb", crs=None,
    append: bool = False,
) -> None:
    """Write .shp/.shx/.dbf/.cpg/.prj from a pandas frame with a WKB
    geometry column, in process and without Spark: the frame is the one
    part of the part encoder, and the stitch writes the files.
    ``write_shapefile_distributed`` runs the same encoder per partition,
    so a one-partition write of the same rows gives the same bytes.

    Fields: integers of any width are N 18.0, floats N 24.8, booleans L,
    ``datetime.date`` values D, anything else C at the longest value's
    UTF-8 width (UTF-8 ``.cpg``). Names are laundered as GDAL does (at
    most 10 bytes, unique, a warning per renamed field). ``crs`` is an
    int EPSG code, ``"EPSG:<n>"``, or WKT and is persisted to ``.prj``;
    ``crs=None`` writes no ``.prj`` (and removes a stale one), so the
    layer reads back with no CRS — the reference writes the caller's
    CRS rather than assuming one (_io.pyx:2810-2816).

    ``append=True`` keeps the existing features and CRS and adds the
    frame's rows, matching its laundered column names to the layer's
    fields (implemented as parse + rewrite: the record sections
    of all three files are length-prefixed but the headers carry global
    bounds/counts, so an in-place tail append would still rewrite the
    headers; at interchange scale the difference is noise)."""
    base = os.path.splitext(path)[0]
    if append:
        if not os.path.exists(base + ".shp"):
            raise ValueError(f"append=True but {path} does not exist")
        existing, info = read_shapefile_pdf(path)
        incoming = pdf.rename(columns={geom_col: "geometry_wkb"})
        names = [c for c in incoming.columns if c not in ("geometry_wkb", "fid")]
        incoming = incoming.rename(columns=dict(zip(names, _launder(names))))
        want = [c for c in existing.columns if c != "fid"]
        have = [c for c in incoming.columns if c != "fid"]
        if set(want) != set(have):
            raise ValueError(
                f"append=True: column mismatch — layer has {want}, frame has {have}"
            )
        merged = pd.concat(
            [existing.drop(columns=["fid"]), incoming[want]], ignore_index=True
        )
        return write_shapefile(
            merged, path, geom_col="geometry_wkb", crs=crs if crs is not None else info["crs"]
        )
    _write(pdf, path, geom_col, crs)


def write_shapefile_distributed(df, path: str, geom_col: str = "geometry_wkb", crs=None) -> None:
    """Shapefile sink for a Spark DataFrame in ONE Spark job with no
    exchange: each task runs the one part encoder over its partition
    inside a ``mapInPandas`` and reports its metadata; the driver runs
    the same stitch as ``write_shapefile``, streaming the parts into the
    output. The input plan runs once. The parts directory sits next to
    ``path``, so executors must see it. Same field types, names and
    sidecars as ``write_shapefile``; a one-partition write is
    byte-identical to it."""
    _write(df, path, geom_col, crs)
