"""Seeded benchmark inputs, generated and encoded here, never by the engine.

Every array comes from numpy's PCG64 seeded with the run's ``--seed``, and
every byte the engine reads is encoded in this file: WKB, the raw docs
Parquet (through pyarrow) and the FlatGeobuf file with its packed Hilbert
R-tree.  A change to the engine therefore cannot change its own inputs;
``digest`` hashes the generated arrays so a run can show that every
set-up of one seed produced the same bytes.

The only engine facts used are documented input contracts: the equal-angle
grid of ``cell_id`` (res r: 2^r columns over lon [-180, 180), 2^r rows over
lat [-90, 90), ``cell_id = r << 58 | x << r | y``), the docs columns
``doc_id``/``xmin``/``ymin``/``cell_id`` the joins require, and the public
FlatGeobuf spec (Header.fbs / Feature.fbs).
"""

from __future__ import annotations

import hashlib
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

RES = 7
GRID_N = 1 << RES
CELL_W = 360.0 / GRID_N
CELL_H = 180.0 / GRID_N

# five dense clusters (30% of the docs) and four empty regions (no docs at
# all): the clusters skew the join's cells, the empty regions force kNN
# probes through extra ring-expansion rounds
HOTSPOTS = np.array([(-73.9, 40.7), (2.35, 48.85), (139.7, 35.7), (28.0, -26.2), (-46.6, -23.5)])
VOIDS = np.array([(-140.0, -31.0, -128.0, -19.0), (72.0, -51.0, 84.0, -39.0),
                  (-33.0, 11.0, -21.0, 23.0), (158.0, 51.0, 170.0, 63.0)])

SPAN_TYPE = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                ("media_ref", pa.string()), ("offset", pa.int32())]))
_WORDS = ("scan table row value key part join group sort window filter batch stream "
          "query data column line order fast slow hash merge vector tile zone cell").split()


def cell_ids(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    x = np.clip(np.floor((lon + 180.0) / 360.0 * GRID_N), 0, GRID_N - 1).astype(np.int64)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * GRID_N), 0, GRID_N - 1).astype(np.int64)
    return (np.int64(RES) << 58) + (x << RES) + y


# ------------------------------------------------------------------ WKB


def wkb_polygon(rings: list[np.ndarray]) -> bytes:
    out = [struct.pack("<BII", 1, 3, len(rings))]
    for r in rings:
        out.append(struct.pack("<I", len(r)))
        out.append(np.ascontiguousarray(r, dtype="<f8").tobytes())
    return b"".join(out)


def wkb_geometry(parts: list[np.ndarray]) -> bytes:
    """One closed ring per part: a Polygon, or a MultiPolygon of 2+ parts."""
    if len(parts) == 1:
        return wkb_polygon(parts)
    return struct.pack("<BII", 1, 6, len(parts)) + b"".join(wkb_polygon([p]) for p in parts)


def star_ring(rng: np.random.Generator, cx: float, cy: float, radius: float, nv: int) -> np.ndarray:
    """Closed, simple, counter-clockwise ring: strictly increasing angles
    around (cx, cy) with radii in [0.45, 1] x radius."""
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, nv))
    ang = np.maximum.accumulate(ang + np.arange(nv) * 1e-6)
    rad = radius * rng.uniform(0.45, 1.0, nv)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def random_shape(rng: np.random.Generator, cx: float, cy: float, radius: float, multi: bool) -> list[np.ndarray]:
    """Polygon, or two-part MultiPolygon whose parts' boxes are disjoint."""
    if not multi:
        return [star_ring(rng, cx, cy, radius, int(rng.integers(8, 41)))]
    r = radius * 0.55
    dx = 1.05 * r
    return [star_ring(rng, cx - dx, cy, r * 0.95, int(rng.integers(8, 21))),
            star_ring(rng, cx + dx, cy, r * 0.95, int(rng.integers(8, 21)))]


# ------------------------------------------------------------- documents


@dataclass
class Docs:
    doc_id: np.ndarray
    lon: np.ndarray
    lat: np.ndarray
    spans: pa.Array  # list<struct<kind, text, media_ref, offset>> per doc

    def table(self) -> pa.Table:
        return pa.table({
            "doc_id": pa.array(self.doc_id, pa.int64()),
            "xmin": pa.array(self.lon, pa.float64()),
            "ymin": pa.array(self.lat, pa.float64()),
            "cell_id": pa.array(cell_ids(self.lon, self.lat), pa.int64()),
            "spans": self.spans,
        })


def in_voids(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    hit = np.zeros(lon.shape, dtype=bool)
    for x0, y0, x1, y1 in VOIDS:
        hit |= (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
    return hit


def make_docs(rng: np.random.Generator, n: int) -> Docs:
    """70% uniform over lon [-178, 178] x lat [-80, 80] outside the voids,
    30% in five Gaussian hotspots; 1-4 interleaved text/media spans each
    (about 120 bytes of payload per doc)."""
    n_hot = int(n * 0.3)
    n_uni = n - n_hot
    lon_u = np.empty(0)
    lat_u = np.empty(0)
    while lon_u.size < n_uni:
        lo = rng.uniform(-178.0, 178.0, n_uni)
        la = rng.uniform(-80.0, 80.0, n_uni)
        keep = ~in_voids(lo, la)
        lon_u = np.concatenate([lon_u, lo[keep]])
        lat_u = np.concatenate([lat_u, la[keep]])
    which = rng.integers(0, len(HOTSPOTS), n_hot)
    lon = np.concatenate([lon_u[:n_uni], HOTSPOTS[which, 0] + rng.normal(0.0, 1.2, n_hot)])
    lat = np.concatenate([lat_u[:n_uni], HOTSPOTS[which, 1] + rng.normal(0.0, 0.8, n_hot)])
    perm = rng.permutation(n)
    lon, lat = lon[perm], lat[perm]

    # spans: pooled strings keep generation vectorized
    text_pool = np.array([" ".join(rng.choice(_WORDS, int(rng.integers(2, 7))))
                          for _ in range(2048)], dtype=object)
    n_spans = rng.integers(1, 5, n)
    total = int(n_spans.sum())
    owner = np.repeat(np.arange(n), n_spans)
    pos_in_doc = np.arange(total) - np.repeat(np.cumsum(n_spans) - n_spans, n_spans)
    is_media = rng.random(total) < 0.3
    text_idx = rng.integers(0, len(text_pool), total)
    texts = text_pool[text_idx]
    pool_len = np.array([len(t) + 1 for t in text_pool], dtype=np.int64)
    lengths = np.where(is_media, 64, pool_len[text_idx])
    starts = np.cumsum(lengths) - lengths
    doc_first = np.repeat(starts[np.cumsum(n_spans) - n_spans], n_spans)
    offsets = (starts - doc_first).astype(np.int32)
    doc_id = np.arange(n, dtype=np.int64)
    media = np.array([f"media://{d}/{j}" for d, j in zip(owner[is_media], pos_in_doc[is_media])], dtype=object)
    text_col = np.where(is_media, None, texts)
    media_col = np.full(total, None, dtype=object)
    media_col[is_media] = media
    struct_arr = pa.StructArray.from_arrays(
        [pa.array(np.where(is_media, "media", "text").astype(object), pa.string()),
         pa.array(text_col, pa.string()), pa.array(media_col, pa.string()),
         pa.array(offsets, pa.int32())],
        fields=list(SPAN_TYPE.value_type),
    )
    list_offsets = pa.array(np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32))
    spans = pa.ListArray.from_arrays(list_offsets, struct_arr, type=SPAN_TYPE)
    return Docs(doc_id, lon, lat, spans)


# ----------------------------------------------------------------- zones


@dataclass
class Shapes:
    parts: list[list[np.ndarray]]  # closed rings, one per part

    def wkb(self) -> list[bytes]:
        return [wkb_geometry(p) for p in self.parts]

    def bboxes(self) -> np.ndarray:
        out = np.empty((len(self.parts), 4))
        for i, p in enumerate(self.parts):
            xy = np.vstack(p)
            out[i] = xy[:, 0].min(), xy[:, 1].min(), xy[:, 0].max(), xy[:, 1].max()
        return out

    def vertex_count(self) -> int:
        return sum(len(r) for p in self.parts for r in p)


_HOT_OFFSETS = [(dx, dy) for dx in (-2.4, -0.8, 0.8, 2.4) for dy in (-1.5, 0.0, 1.5)]


def make_zones(rng: np.random.Generator, n: int = 177) -> Shapes:
    """Country-sized irregular polygons and multipolygons with 8-40
    vertices. Twelve sit on a fixed grid around each hotspot, so clustered
    docs meet zone boundaries; the rest are spread uniformly but kept 10
    degrees from the hotspots. The layout and the size ranges are what keep
    the join's work about equal from seed to seed; the shapes are random."""
    parts = []
    for h in HOTSPOTS:
        for dx, dy in _HOT_OFFSETS:
            parts.append(random_shape(rng, h[0] + dx, h[1] + dy, 2.5, multi=len(parts) % 4 == 3))
    while len(parts) < n:
        cx, cy = rng.uniform(-170, 170), rng.uniform(-70, 70)
        if np.hypot(HOTSPOTS[:, 0] - cx, HOTSPOTS[:, 1] - cy).min() < 10.0:
            continue
        parts.append(random_shape(rng, cx, cy, float(rng.uniform(3.0, 4.0)), multi=len(parts) % 4 == 3))
    return Shapes(parts)


# ---------------------------------------------------------------- probes


def make_probes(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """40% exactly on cell edges or corners, 30% inside the empty regions,
    30% uniform; every batch therefore needs ring expansion."""
    n_edge = int(n * 0.4)
    n_void = int(n * 0.3)
    n_uni = n - n_edge - n_void
    ex = -180.0 + rng.integers(8, GRID_N - 8, n_edge) * CELL_W
    ey = -90.0 + rng.integers(16, GRID_N - 16, n_edge) * CELL_H
    on_x = rng.random(n_edge) < 0.5  # one coordinate stays on the edge
    ey = np.where(on_x, ey + rng.uniform(0, CELL_H, n_edge) * (rng.random(n_edge) < 0.5), ey)
    ex = np.where(~on_x, ex + rng.uniform(0, CELL_W, n_edge) * (rng.random(n_edge) < 0.5), ex)
    v = VOIDS[rng.integers(0, len(VOIDS), n_void)]
    vx = v[:, 0] + (v[:, 2] - v[:, 0]) * rng.uniform(0.3, 0.7, n_void)
    vy = v[:, 1] + (v[:, 3] - v[:, 1]) * rng.uniform(0.3, 0.7, n_void)
    ux = rng.uniform(-170, 170, n_uni)
    uy = rng.uniform(-75, 75, n_uni)
    return np.concatenate([ex, vx, ux]), np.concatenate([ey, vy, uy])


# ------------------------------------------------------------ FlatGeobuf


class _FlatBuffer:
    """Minimal front-to-back FlatBuffers writer: each table's vtable is
    written just before it and its children just after it, so every
    uoffset points forward as the format requires.

    A table is a list indexed by field slot of ``None`` or ``(kind, value)``
    with kind in u8/u16/i32/u64 (inline scalars), str, f64v, u32v, u8v
    (vectors), table and tables."""

    _SCALAR = {"u8": "<B", "u16": "<H", "i32": "<i", "u64": "<Q"}

    def __init__(self) -> None:
        self.buf = bytearray(4)  # root uoffset, patched by finish()

    def _pad(self, align: int, extra: int = 0) -> None:
        self.buf += bytes((-(len(self.buf) + extra)) % align)

    def table(self, fields: list) -> int:
        present = [(s, f[0], f[1]) for s, f in enumerate(fields) if f is not None]
        sizes = {s: struct.calcsize(self._SCALAR[k]) if k in self._SCALAR else 4 for s, k, _ in present}
        layout, off = {}, 4
        for s, _, _ in sorted(present, key=lambda t: -sizes[t[0]]):
            off += (-off) % sizes[s]
            layout[s] = off
            off += sizes[s]
        self._pad(2)
        vt_pos = len(self.buf)
        self.buf += struct.pack("<HH", 4 + 2 * len(fields), off)
        self.buf += b"".join(struct.pack("<H", layout.get(s, 0)) for s in range(len(fields)))
        self._pad(8)
        t_pos = len(self.buf)
        self.buf += bytes(off)
        struct.pack_into("<i", self.buf, t_pos, t_pos - vt_pos)
        for s, kind, val in present:
            if kind in self._SCALAR:
                struct.pack_into(self._SCALAR[kind], self.buf, t_pos + layout[s], val)
        for s, kind, val in present:
            if kind not in self._SCALAR:
                field_pos = t_pos + layout[s]
                struct.pack_into("<I", self.buf, field_pos, self._child(kind, val) - field_pos)
        return t_pos

    def _child(self, kind: str, val) -> int:
        if kind == "table":
            return self.table(val)
        if kind == "tables":
            self._pad(4)
            pos = len(self.buf)
            self.buf += struct.pack("<I", len(val)) + bytes(4 * len(val))
            for i, t in enumerate(val):
                slot = pos + 4 + 4 * i
                struct.pack_into("<I", self.buf, slot, self.table(t) - slot)
            return pos
        if kind == "str":
            data, count, align = val.encode("utf-8"), None, 4
        elif kind == "f64v":
            data, align = np.ascontiguousarray(val, dtype="<f8").tobytes(), 8
            count = len(data) // 8
        elif kind == "u32v":
            data, align = np.ascontiguousarray(val, dtype="<u4").tobytes(), 4
            count = len(data) // 4
        else:  # u8v
            data, align = bytes(val), 4
            count = len(data)
        self._pad(align, extra=4)
        pos = len(self.buf)
        self.buf += struct.pack("<I", len(data) if count is None else count) + data
        if kind == "str":
            self.buf += b"\x00"
        return pos

    def finish(self, root: list) -> bytes:
        struct.pack_into("<I", self.buf, 0, self.table(root))
        return bytes(self.buf)


def _geometry_table(parts: list[np.ndarray]) -> list:
    """FlatGeobuf Geometry (slots: ends=0 xy=1 type=6 parts=7)."""
    if len(parts) == 1:
        return [None, ("f64v", parts[0].ravel()), None, None, None, None, ("u8", 3)]
    polys = [_geometry_table([p]) for p in parts]
    return [None, None, None, None, None, None, ("u8", 6), ("tables", polys)]


def hilbert_index(x: np.ndarray, y: np.ndarray, order: int = 16) -> np.ndarray:
    x = x.astype(np.int64).copy()
    y = y.astype(np.int64).copy()
    d = np.zeros_like(x)
    s = 1 << (order - 1)
    while s > 0:
        rx = (x & s) > 0
        ry = (y & s) > 0
        d += s * s * ((3 * rx.astype(np.int64)) ^ ry.astype(np.int64))
        swap = ~ry
        flip = swap & rx
        x[flip] = s - 1 - x[flip]
        y[flip] = s - 1 - y[flip]
        x[swap], y[swap] = y[swap], x[swap].copy()
        s >>= 1
    return d


def packed_rtree(boxes: np.ndarray, offsets: np.ndarray, node_size: int = 16) -> bytes:
    """Static packed R-tree: levels root-first, 40-byte nodes (4 doubles +
    uint64). Leaf offsets are byte offsets into the feature section,
    internal offsets the node index of the first child."""
    levels = [(boxes, offsets.astype(np.uint64))]
    while len(levels[-1][0]) > 1:
        b, _ = levels[-1]
        starts = np.arange(0, len(b), node_size)
        up = np.column_stack([np.minimum.reduceat(b[:, 0], starts), np.minimum.reduceat(b[:, 1], starts),
                              np.maximum.reduceat(b[:, 2], starts), np.maximum.reduceat(b[:, 3], starts)])
        levels.append((up, starts.astype(np.uint64)))  # child index within its level; rebased below
    levels = levels[::-1]
    dt = np.dtype([("b", "<f8", 4), ("o", "<u8")])
    out, first = [], 0
    for i, (b, o) in enumerate(levels):
        rec = np.empty(len(b), dtype=dt)
        rec["b"] = b
        rec["o"] = o if i == len(levels) - 1 else o + np.uint64(first + len(b))
        first += len(b)
        out.append(rec.tobytes())
    return b"".join(out)


def flatgeobuf_bytes(shapes: Shapes, attrs: dict[str, np.ndarray]) -> bytes:
    """Indexed FlatGeobuf (node size 16) of ``shapes`` in Hilbert order,
    with long (int64), double (float64) and string (object) columns."""
    col_types = {np.dtype("int64"): 7, np.dtype("float64"): 10, np.dtype("O"): 11}
    names = list(attrs)
    ctypes = [col_types[attrs[c].dtype] for c in names]
    boxes = shapes.bboxes()
    env = [boxes[:, 0].min(), boxes[:, 1].min(), boxes[:, 2].max(), boxes[:, 3].max()]
    hmax = (1 << 16) - 1
    cx = np.floor(hmax * ((boxes[:, 0] + boxes[:, 2]) / 2 - env[0]) / (env[2] - env[0]))
    cy = np.floor(hmax * ((boxes[:, 1] + boxes[:, 3]) / 2 - env[1]) / (env[3] - env[1]))
    order = np.argsort(hilbert_index(cx, cy), kind="stable")

    feats = []
    for i in order.tolist():
        props = bytearray()
        for ci, (c, t) in enumerate(zip(names, ctypes)):
            v = attrs[c][i]
            props += struct.pack("<H", ci)
            if t == 7:
                props += struct.pack("<q", int(v))
            elif t == 10:
                props += struct.pack("<d", float(v))
            else:
                s = str(v).encode("utf-8")
                props += struct.pack("<I", len(s)) + s
        fb = _FlatBuffer().finish([("table", _geometry_table(shapes.parts[i])), ("u8v", props)])
        feats.append(struct.pack("<I", len(fb)) + fb)
    sizes = np.array([len(f) for f in feats], dtype=np.int64)
    offsets = np.concatenate([[0], np.cumsum(sizes)[:-1]])

    columns = [[("str", c), ("u8", t)] for c, t in zip(names, ctypes)]
    crs = [("str", "EPSG"), ("i32", 4326)]
    header = _FlatBuffer().finish([
        ("str", "parcels"), ("f64v", np.array(env)), ("u8", 0), None, None, None, None,
        ("tables", columns), ("u64", len(feats)), ("u16", 16), ("table", crs),
    ])
    return b"".join([b"fgb\x03fgb\x01", struct.pack("<I", len(header)), header,
                     packed_rtree(boxes[order], offsets), *feats])


KINDS = np.array(["farm", "forest", "lake", "park", "urban", "wetland"], dtype=object)


def make_parcels(rng: np.random.Generator, n: int) -> tuple[Shapes, dict[str, np.ndarray]]:
    """Small polygons and multipolygons over a continental window, with
    id/name/pop/area/kind attributes."""
    # half west of lon 7.5, half east of 12.5: the bbox cut at the middle of
    # the extent crosses no parcel, so the parcels it keeps are one
    # contiguous Hilbert run on every seed
    west = rng.uniform(-20, 7.5, n)
    east = rng.uniform(12.5, 40, n)
    cx = np.where(np.arange(n) % 2 == 0, west, east)
    parts = [random_shape(rng, float(cx[i]), float(rng.uniform(30, 60)),
                          float(rng.uniform(0.05, 0.4)), multi=rng.random() < 0.25) for i in range(n)]
    attrs = {
        "id": np.arange(n, dtype=np.int64),
        "name": np.array([f"parcel-{i:06d}-{w}" for i, w in enumerate(rng.choice(_WORDS, n))], dtype=object),
        "pop": rng.integers(0, 100_000, n).astype(np.int64),
        "area": rng.uniform(0.0, 1000.0, n),
        "kind": rng.choice(KINDS, n),
    }
    return Shapes(parts), attrs


# ---------------------------------------------------------------- digest


def digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, np.ndarray):
            if p.dtype == object:
                h.update("\x1f".join(map(str, p.tolist())).encode())
            else:
                h.update(np.ascontiguousarray(p).tobytes())
        elif isinstance(p, pa.ListArray):  # the spans: hashed by value, not by buffer
            h.update(np.diff(p.offsets.to_numpy()).tobytes())
            flat = p.flatten()
            for f in flat.type:
                col = flat.field(f.name)
                if pa.types.is_string(col.type):
                    _, offs, data = col.buffers()
                    o = np.frombuffer(offs, np.int32)[col.offset : col.offset + len(col) + 1]
                    h.update(col.is_null().to_numpy(zero_copy_only=False).tobytes())
                    h.update(np.diff(o).tobytes())
                    h.update(memoryview(data)[o[0] : o[-1]])
                else:
                    h.update(col.to_numpy().tobytes())
        elif isinstance(p, Shapes):
            for rings in p.parts:
                h.update(struct.pack("<I", len(rings)))
                for r in rings:
                    h.update(r.tobytes())
        else:
            h.update(bytes(p))
    return h.hexdigest()[:16]
