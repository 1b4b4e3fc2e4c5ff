"""Brute-force numpy oracles and output readers written for the benchmark.

Nothing here imports the engine: the point-in-polygon and nearest-neighbour
answers are computed from the generated arrays directly, and the engine's
outputs (Parquet tables, Shapefiles) are read back with pyarrow and the
readers below, so a bug shared by an engine kernel and its in-repo oracle
cannot hide.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen


def _ring_contains(ring: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Crossing-number test, one ring against many points (no point lies
    on an edge: coordinates are continuous random doubles)."""
    inside = np.zeros(px.shape[0], dtype=bool)
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    for a, b, c, d in zip(x0, y0, x1, y1):
        straddle = (b > py) != (d > py)
        if not straddle.any():
            continue
        # side of the edge the point lies on, signed by the edge direction
        cross = (c - a) * (py - b) - (d - b) * (px - a)
        inside ^= straddle & ((cross > 0) == (d > b))
    return inside


def pip_pairs(docs: gen.Docs, zones: gen.Shapes) -> np.ndarray:
    """(M, 2) int64 [doc_id, zone fid] for every doc inside a zone (parts
    of a multipolygon are disjoint, so "in any part" is the answer)."""
    out = []
    for fid, parts in enumerate(zones.parts):
        hit = np.zeros(docs.lon.shape[0], dtype=bool)
        for ring in parts:
            cand = np.flatnonzero((docs.lon >= ring[:, 0].min()) & (docs.lon <= ring[:, 0].max())
                                  & (docs.lat >= ring[:, 1].min()) & (docs.lat <= ring[:, 1].max()))
            hit[cand[_ring_contains(ring, docs.lon[cand], docs.lat[cand])]] = True
        ids = docs.doc_id[hit]
        out.append(np.column_stack([ids, np.full(ids.shape[0], fid, dtype=np.int64)]))
    pairs = np.concatenate(out)
    return pairs[np.lexsort((pairs[:, 1], pairs[:, 0]))]


def knn(docs: gen.Docs, px: np.ndarray, py: np.ndarray, k: int) -> np.ndarray:
    """(P, k) doc ids by rank: planar distance computed exactly as
    sqrt(dx*dx + dy*dy), ties broken by doc id."""
    out = np.empty((px.shape[0], k), dtype=np.int64)
    for i in range(px.shape[0]):
        dx = px[i] - docs.lon
        dy = py[i] - docs.lat
        d = np.sqrt(dx * dx + dy * dy)
        near = np.argpartition(d, k)[: 4 * k]
        near = near[np.lexsort((docs.doc_id[near], d[near]))]
        # argpartition guarantees the k smallest, but a tie at the k-th
        # distance may sit outside the 4k slice: widen until it cannot
        kth = d[near[k - 1]]
        if (d <= kth).sum() > near.shape[0]:
            near = np.flatnonzero(d <= kth)
            near = near[np.lexsort((docs.doc_id[near], d[near]))]
        out[i] = docs.doc_id[near[:k]]
    return out


# ------------------------------------------------------- vector_convert


def _ring_hits_box(ring: np.ndarray, box) -> bool:
    """Closed intersection of a polygon ring's area with an axis box."""
    x0, y0, x1, y1 = box
    xs, ys = ring[:, 0], ring[:, 1]
    if xs.max() < x0 or xs.min() > x1 or ys.max() < y0 or ys.min() > y1:
        return False
    if ((xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1)).any():
        return True
    if _ring_contains(ring, np.array([x0]), np.array([y0]))[0]:
        return True  # the polygon swallows the box
    # an edge crossing the box: clip each segment against it (Liang-Barsky)
    ax, ay, dx, dy = xs[:-1], ys[:-1], np.diff(xs), np.diff(ys)
    t0 = np.zeros(ax.shape)
    t1 = np.ones(ax.shape)
    ok = np.ones(ax.shape, dtype=bool)
    for p, q in ((-dx, ax - x0), (dx, x1 - ax), (-dy, ay - y0), (dy, y1 - ay)):
        par = p == 0
        ok &= ~(par & (q < 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(par, 0.0, q / np.where(par, 1.0, p))
        t0 = np.where(~par & (p < 0), np.maximum(t0, r), t0)
        t1 = np.where(~par & (p > 0), np.minimum(t1, r), t1)
    return bool((ok & (t0 <= t1)).any())


def _canonical_rings(rings: list[np.ndarray]) -> bytes:
    out = [struct.pack("<I", len(rings))]
    for r in rings:
        area = np.sum(r[:-1, 0] * r[1:, 1] - r[1:, 0] * r[:-1, 1])
        r = r if area > 0 else r[::-1]  # counter-clockwise; the start vertex is kept
        out.append(np.ascontiguousarray(r, dtype="<f8").tobytes())
    return b"".join(out)


def feature_digest(ids, names, kinds, rings) -> str:
    h = hashlib.sha256()
    for i in np.argsort(ids, kind="stable"):
        h.update(struct.pack("<q", int(ids[i])) + f"{names[i]}\x1f{kinds[i]}\x1e".encode())
        h.update(_canonical_rings(rings[i]))
    return h.hexdigest()[:16]


def convert_expectation(shapes: gen.Shapes, attrs: dict, bbox, min_pop: int) -> dict:
    keep = [i for i, parts in enumerate(shapes.parts)
            if attrs["pop"][i] >= min_pop and any(_ring_hits_box(r, bbox) for r in parts)]
    b = shapes.bboxes()[keep]
    return {
        "count": len(keep),
        "extent": [float(b[:, 0].min()), float(b[:, 1].min()), float(b[:, 2].max()), float(b[:, 3].max())],
        "digest": feature_digest(attrs["id"][keep], attrs["name"][keep], attrs["kind"][keep],
                                 [shapes.parts[i] for i in keep]),
    }


def read_shapefile(base: str) -> dict:
    """Polygon .shp + .dbf reader (public ESRI / dBase III layouts)."""
    with open(base + ".shp", "rb") as f:
        shp = f.read()
    extent = list(struct.unpack_from("<4d", shp, 36))
    rings, off = [], 100
    while off + 8 <= len(shp):
        (clen,) = struct.unpack_from(">i", shp, off + 4)
        body = off + 8
        (stype,) = struct.unpack_from("<i", shp, body)
        if stype != 5:
            raise ValueError(f"record at byte {off}: shape type {stype}, expected polygon")
        nparts, npts = struct.unpack_from("<ii", shp, body + 36)
        parts = list(struct.unpack_from(f"<{nparts}i", shp, body + 44)) + [npts]
        pts = np.frombuffer(shp, "<f8", 2 * npts, body + 44 + 4 * nparts).reshape(-1, 2)
        rings.append([pts[parts[j]:parts[j + 1]] for j in range(nparts)])
        off = body + 2 * clen
    with open(base + ".dbf", "rb") as f:
        dbf = f.read()
    nrec, hsize, rsize = struct.unpack_from("<IHH", dbf, 4)
    fields, pos = [], 32
    while dbf[pos] != 0x0D:
        name = dbf[pos:pos + 11].split(b"\x00")[0].decode("ascii")
        fields.append((name, chr(dbf[pos + 11]), dbf[pos + 16], dbf[pos + 17]))
        pos += 32
    cols: dict[str, list] = {f[0]: [] for f in fields}
    for r in range(nrec):
        p = hsize + r * rsize + 1
        for name, ftype, flen, dec in fields:
            raw = dbf[p:p + flen]
            p += flen
            if ftype == "N" and dec == 0:
                cols[name].append(int(raw))
            elif ftype == "N":
                cols[name].append(float(raw))
            else:
                cols[name].append(raw.decode("utf-8").rstrip(" "))
    return {"extent": extent, "rings": rings, "columns": cols, "records": nrec}


def check_shapefile(base: str, expect: dict) -> list[str]:
    got = read_shapefile(base)
    errs = []
    if len(got["rings"]) != expect["count"] or got["records"] != expect["count"]:
        errs.append(f"count {len(got['rings'])}/{got['records']} != {expect['count']}")
    elif expect["count"]:
        if got["extent"] != expect["extent"]:
            errs.append(f"extent {got['extent']} != {expect['extent']}")
        c = got["columns"]
        d = feature_digest(np.array(c["id"]), c["name"], c["kind"], got["rings"])
        if d != expect["digest"]:
            errs.append(f"content digest {d} != {expect['digest']}")
    return errs


# -------------------------------------------------------------- pip_join


def read_committed_table(path: str) -> pa.Table:
    """Current snapshot of a committed table, read from its manifest and
    Parquet files with pyarrow alone."""
    with open(os.path.join(path, "_manifest.json")) as f:
        cur = json.load(f)["current"]
    files = sorted(os.path.join(root, fn) for d in cur["data_dirs"]
                   for root, _, fns in os.walk(os.path.join(path, d)) for fn in fns if fn.endswith(".parquet"))
    return pa.concat_tables([pq.read_table(p) for p in files]) if files else None


def pair_digest(pairs: np.ndarray) -> str:
    return hashlib.sha256(np.ascontiguousarray(pairs, dtype="<i8").tobytes()).hexdigest()[:16]


def check_pairs(table: pa.Table | None, expect_pairs: np.ndarray, expect_digest: str, spans: pa.Array) -> list[str]:
    if table is None:
        return ["no committed output"]
    t = table.sort_by([("doc_id", "ascending"), ("fid", "ascending")])
    got = np.column_stack([t["doc_id"].to_numpy(), t["fid"].to_numpy()]).astype(np.int64)
    errs = []
    if got.shape != expect_pairs.shape or pair_digest(got) != expect_digest:
        errs.append(f"pair set: {got.shape[0]} pairs, digest {pair_digest(got)} != {expect_digest}")
        return errs
    # doc_id == row index of the generated docs, so the expected span
    # sequence of each pair is a gather from the input
    want = spans.take(pa.array(got[:, 0]))
    have = t["spans"].combine_chunks()
    if not have.equals(want.cast(have.type)):
        errs.append("span sequences changed in flight")
    return errs
