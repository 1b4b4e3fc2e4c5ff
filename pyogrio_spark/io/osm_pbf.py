"""OSM PBF source (read-only, mirroring the reference's OSM driver).

The reference reads ``.osm.pbf`` through GDAL's OSM driver and its test
suite pins the semantics this module reproduces
(/root/reference/pyogrio/tests/test_core.py:660-712: layers
points/lines/..., ``sample.osm.pbf`` has 8 points and 36 lines, feature
counts are -1 unless forced; test_core.py:386-389: reading without a
layer warns "More than one layer found"). Layer rules follow GDAL's
shipped ``osmconf.ini`` defaults (public):

- ``points``            nodes with >= 1 tag outside the *unsignificant* set
- ``lines``             ways that are not closed-area ways
- ``multilinestrings``  relations of ``type=route``
- ``multipolygons``     closed ways with an area key (``osm_way_id``) and
                        relations of ``type=multipolygon|boundary``
                        (``osm_id``, member ways stitched into rings)
- ``other_relations``   every other relation (geometry collection)

Spark-first plan: the PBF container is a sequence of independently
decodable blobs (4-byte length + BlobHeader + zlib payload), so the
driver builds a tiny blob index by reading ONLY headers (seeking over
payloads), and decode fans out in ``mapInPandas`` over that index — the
same embarrassingly-parallel byte-range shape as the distributed
shapefile scan. Way/relation geometry then assembles with DataFrame
joins (exploded node refs x node locations, shuffled on node id — the
canonical distributed-OSM plan), never a driver loop. Only the decode
kernel and WKB assembly run in Python (Arrow-batched), matching the
engine's other format codecs.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd

# ---------------------------------------------------------------- protobuf

# GDAL osmconf.ini defaults (public), the reference's effective config.
UNSIGNIFICANT_KEYS = frozenset(
    ["created_by", "converted_by", "source", "time", "ele", "attribution"]
)
IGNORE_KEYS = ("created_by", "converted_by", "source", "time", "ele", "note",
               "todo", "openGeoDB:", "fixme", "FIXME")
AREA_KEYS = frozenset(
    "aeroway amenity boundary building craft geological historic landuse "
    "leisure military natural office place shop sport tourism".split()
)
POINT_ATTRS = ["name", "barrier", "highway", "ref", "address", "is_in", "place", "man_made"]
LINE_ATTRS = ["name", "highway", "waterway", "aeroway", "barrier", "man_made", "railway"]
MPOLY_ATTRS = [
    "name", "type", "aeroway", "amenity", "admin_level", "barrier", "boundary",
    "building", "craft", "geological", "historic", "land_area", "landuse",
    "leisure", "man_made", "military", "natural", "office", "place", "shop",
    "sport", "tourism",
]
REL_ATTRS = ["name", "type"]
LAYERS = ["points", "lines", "multilinestrings", "multipolygons", "other_relations"]
_LAYER_GEOM = {
    "points": "Point",
    "lines": "LineString",
    "multilinestrings": "MultiLineString",
    "multipolygons": "MultiPolygon",
    "other_relations": "GeometryCollection",
}


def _varint(buf, i):
    r = 0
    s = 0
    while True:
        b = buf[i]
        i += 1
        r |= (b & 0x7F) << s
        if not b & 0x80:
            return r, i
        s += 7


def _fields(buf):
    """Iterate (field_number, wire_type, value) over a message body."""
    i = 0
    n = len(buf)
    while i < n:
        key, i = _varint(buf, i)
        fn, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _varint(buf, i)
        elif wt == 2:
            ln, i = _varint(buf, i)
            v = buf[i : i + ln]
            i += ln
        elif wt == 5:
            v = buf[i : i + 4]
            i += 4
        elif wt == 1:
            v = buf[i : i + 8]
            i += 8
        else:  # groups (3/4) never appear in OSM PBF
            raise ValueError(f"unsupported wire type {wt}")
        yield fn, wt, v


def _packed(buf, signed=False):
    i = 0
    out = []
    while i < len(buf):
        v, i = _varint(buf, i)
        out.append((v >> 1) ^ -(v & 1) if signed else v)
    return out


def _packed_np(buf, signed=False) -> np.ndarray:
    """Vectorized packed-varint decode: one numpy pass over the whole
    field instead of a Python loop per value. Bytes with the high bit
    clear terminate a varint; per-varint accumulation is
    ``add.reduceat`` over 7-bit groups shifted by their position. Used
    on the DenseNodes id/lat/lon/keys_vals arrays — the bulk of a
    planet-file decode (up to 8000 values per field per block)."""
    if not buf:
        return np.empty(0, dtype=np.int64)
    b = np.frombuffer(buf, dtype=np.uint8)
    term = (b & 0x80) == 0
    ends = np.flatnonzero(term)
    starts = np.empty(len(ends), dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # byte position within its varint (little-endian 7-bit groups)
    pos = np.arange(len(b), dtype=np.int64)
    pos -= np.repeat(starts, np.diff(np.append(starts, len(b))))
    vals = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    out = np.add.reduceat(vals, starts).astype(np.uint64)
    if signed:
        return ((out >> np.uint64(1)).astype(np.int64)) ^ -(out & np.uint64(1)).astype(np.int64)
    return out.astype(np.int64)


# ------------------------------------------------------------- blob index


def blob_index(path: str) -> list[tuple[str, int, int]]:
    """[(blob_type, payload_offset, payload_size), ...] reading only the
    4-byte length prefixes and BlobHeaders — payloads are seeked over,
    so indexing a multi-GB planet file costs one header read per blob."""
    out = []
    with open(path, "rb") as f:
        while True:
            head = f.read(4)
            if len(head) < 4:
                break
            (hlen,) = struct.unpack(">I", head)
            hdr = {fn: v for fn, _, v in _fields(f.read(hlen))}
            btype = hdr[1].decode()
            dsize = hdr[3]
            out.append((btype, f.tell(), dsize))
            f.seek(dsize, 1)
    return out


def _inflate(raw: bytes) -> bytes:
    d = {fn: v for fn, _, v in _fields(raw)}
    if 1 in d:  # raw
        return d[1]
    if 3 in d:  # zlib_data
        return zlib.decompress(d[3])
    raise ValueError(f"unsupported Blob compression (fields {sorted(d)})")


def _decode_block(raw: bytes):
    """PrimitiveBlock -> (nodes, ways, rels) plain-python rows.

    nodes: (id, lon, lat, tags)  ways: (id, refs, tags)
    rels:  (id, mtypes, mrefs, mroles, tags)
    """
    st: list[str] = []
    groups = []
    gran, lat_off, lon_off = 100, 0, 0
    for fn, _, v in _fields(raw):
        if fn == 1:
            st = [x.decode("utf-8", "replace") for g, _, x in _fields(v) if g == 1]
        elif fn == 2:
            groups.append(v)
        elif fn == 17:
            gran = v
        elif fn == 19:
            lat_off = v
        elif fn == 20:
            lon_off = v
    scale = 1e-9 * gran
    nodes, ways, rels = [], [], []
    for g in groups:
        for fn, _, v in _fields(g):
            if fn == 2:  # DenseNodes
                dn = {}
                for ff, _, vv in _fields(v):
                    dn[ff] = vv
                ids = np.cumsum(_packed_np(dn[1], True))
                lats = np.cumsum(_packed_np(dn[8], True))
                lons = np.cumsum(_packed_np(dn[9], True))
                kv = _packed_np(dn.get(10, b"")).tolist()
                j = 0
                for n in range(len(ids)):
                    tags = {}
                    while j < len(kv) and kv[j] != 0:
                        tags[st[kv[j]]] = st[kv[j + 1]]
                        j += 2
                    j += 1
                    nodes.append(
                        (int(ids[n]), lon_off * 1e-9 + scale * int(lons[n]),
                         lat_off * 1e-9 + scale * int(lats[n]), tags)
                    )
            elif fn == 1:  # plain (non-dense) Node
                nf: dict[int, list] = {}
                for ff, _, vv in _fields(v):
                    nf.setdefault(ff, []).append(vv)
                tags = {
                    st[k]: st[vv]
                    for k, vv in zip(_packed(nf.get(2, [b""])[0]), _packed(nf.get(3, [b""])[0]))
                }
                nodes.append(
                    (nf[1][0], lon_off * 1e-9 + scale * ((nf[9][0] >> 1) ^ -(nf[9][0] & 1)),
                     lat_off * 1e-9 + scale * ((nf[8][0] >> 1) ^ -(nf[8][0] & 1)), tags)
                )
            elif fn == 3:  # Way
                wf: dict[int, list] = {}
                for ff, _, vv in _fields(v):
                    wf.setdefault(ff, []).append(vv)
                refs = np.cumsum(
                    np.array(_packed(wf.get(8, [b""])[0], True), dtype=np.int64)
                ).tolist()
                tags = {
                    st[k]: st[vv]
                    for k, vv in zip(_packed(wf.get(2, [b""])[0]), _packed(wf.get(3, [b""])[0]))
                }
                ways.append((wf[1][0], refs, tags))
            elif fn == 4:  # Relation
                rf: dict[int, list] = {}
                for ff, _, vv in _fields(v):
                    rf.setdefault(ff, []).append(vv)
                tags = {
                    st[k]: st[vv]
                    for k, vv in zip(_packed(rf.get(2, [b""])[0]), _packed(rf.get(3, [b""])[0]))
                }
                roles = [st[s] for s in _packed(rf.get(8, [b""])[0])]
                memids = np.cumsum(
                    np.array(_packed(rf.get(9, [b""])[0], True), dtype=np.int64)
                ).tolist()
                mtypes = _packed(rf.get(10, [b""])[0])  # 0 node / 1 way / 2 relation
                rels.append((rf[1][0], mtypes, memids, roles, tags))
    return nodes, ways, rels


# ------------------------------------------------------------- raw reader

_RAW_SCHEMA = (
    "kind tinyint, id long, lon double, lat double, refs array<long>, "
    "mtypes array<int>, mrefs array<long>, mroles array<string>, "
    "tags map<string,string>"
)


def read_osm_raw(spark, path: str):
    """All entities as one DataFrame (kind 0=node 1=way 2=relation) —
    one distributed decode pass, one task per OSMData blob; layers
    project/filter from it."""
    from pyogrio_spark.io.reader import scan_chunks

    chunks = [  # (byte_lo, byte_hi, no fid: entity ids live inside the blob)
        (off, off + size, None)
        for btype, off, size in blob_index(path)
        if btype == "OSMData"
    ]
    if not chunks:
        raise ValueError(f"{path}: no OSMData blobs")

    def decode(chunk):
        off, end, _ = chunk
        with open(path, "rb") as f:
            f.seek(off)
            raw = f.read(end - off)
        nodes, ways, rels = _decode_block(_inflate(raw))
        rows = []
        for nid, lon, lat, tags in nodes:
            rows.append((0, nid, lon, lat, None, None, None, None, tags))
        for wid, refs, tags in ways:
            rows.append((1, wid, None, None, refs, None, None, None, tags))
        for rid, mtypes, mrefs, mroles, tags in rels:
            rows.append((2, rid, None, None, None, mtypes, mrefs, mroles, tags))
        return pd.DataFrame(
            rows,
            columns=["kind", "id", "lon", "lat", "refs", "mtypes", "mrefs", "mroles", "tags"],
        )

    return scan_chunks(spark, path, chunks, decode, _RAW_SCHEMA)


# --------------------------------------------------------- layer assembly


def _other_tags_expr(exclude: list[str]):
    """hstore-style '"k"=>"v",...' of tags minus promoted attributes and
    the GDAL ignore list — built entirely from JVM map/array functions."""
    from pyspark.sql import functions as F

    excluded = F.array(*[F.lit(k) for k in exclude])
    kept = F.map_filter(
        F.col("tags"),
        lambda k, v: ~F.array_contains(excluded, k)
        & ~k.startswith("openGeoDB:")
        & ~F.array_contains(F.array(*[F.lit(i) for i in IGNORE_KEYS]), k),
    )
    pair = F.transform(
        F.map_entries(kept),
        lambda e: F.concat(
            F.lit('"'), F.regexp_replace(F.regexp_replace(e["key"], r"\\", r"\\\\"), '"', r'\\"'),
            F.lit('"=>"'),
            F.regexp_replace(F.regexp_replace(e["value"], r"\\", r"\\\\"), '"', r'\\"'),
            F.lit('"'),
        ),
    )
    return F.when(F.size(pair) > 0, F.array_join(F.sort_array(pair), ",")).otherwise(F.lit(None))


def _attr_cols(attrs: list[str]):
    from pyspark.sql import functions as F

    return [F.col("tags").getItem(a).alias(a.replace(":", "_")) for a in attrs]


def _significant():
    from pyspark.sql import functions as F

    uns = F.array(*[F.lit(k) for k in sorted(UNSIGNIFICANT_KEYS)])
    return F.exists(F.map_keys(F.col("tags")), lambda k: ~F.array_contains(uns, k))


def _is_closed():
    from pyspark.sql import functions as F

    return (F.size("refs") > 2) & (
        F.element_at("refs", 1) == F.element_at("refs", F.size("refs"))
    )


def _is_area():
    """GDAL closed_ways_are_polygons: any area key present; area=yes
    forces polygon, area=no forces line."""
    from pyspark.sql import functions as F

    keys = F.array(*[F.lit(k) for k in sorted(AREA_KEYS)])
    has_area_key = F.exists(F.map_keys(F.col("tags")), lambda k: F.array_contains(keys, k))
    tag_area = F.col("tags").getItem("area")
    return F.when(tag_area == "yes", F.lit(True)).when(tag_area == "no", F.lit(False)).otherwise(has_area_key)


# GDAL OSM driver highway ranks for the computed z_order attribute
# (public driver behavior; _link classes share their parent's rank)
_Z_HIGHWAY = {
    "minor": 3, "road": 3, "unclassified": 3, "residential": 3,
    "tertiary_link": 4, "tertiary": 4,
    "secondary_link": 6, "secondary": 6,
    "primary_link": 7, "primary": 7,
    "trunk_link": 8, "trunk": 8,
    "motorway_link": 9, "motorway": 9,
}


def _z_order():
    """GDAL's computed lines attribute: highway rank (rank table above,
    unknown classes rank 0) + 10*layer, +10 bridge, -10 tunnel, +5 when
    railway is present."""
    from pyspark.sql import functions as F

    hw = F.col("tags").getItem("highway")
    rank_map = F.create_map(
        *[F.lit(x) for kv in _Z_HIGHWAY.items() for x in kv]
    )
    base = F.coalesce(F.element_at(rank_map, F.coalesce(hw, F.lit(""))), F.lit(0))
    layer = F.coalesce(F.col("tags").getItem("layer").try_cast("int"), F.lit(0))
    bridge = F.col("tags").getItem("bridge")
    tunnel = F.col("tags").getItem("tunnel")
    return (
        base
        + 10 * layer
        + F.when(bridge.isNotNull() & (bridge != "no"), 10).otherwise(0)
        + F.when(tunnel.isNotNull() & (tunnel != "no"), -10).otherwise(0)
        + F.when(F.col("tags").getItem("railway").isNotNull(), 5).otherwise(0)
    ).cast("int")


def _way_coords(raw):
    """(id, refs, tags, coords array<struct<lon,lat>>) — exploded refs
    shuffled against node locations on node id, reassembled in ref
    order. One shuffle join + one aggregation; at planet scale both
    sides partition on the join key, no driver involvement."""
    from pyspark.sql import functions as F

    nodes = raw.filter(F.col("kind") == 0).select(
        F.col("id").alias("nid"), "lon", "lat"
    )
    ways = raw.filter(F.col("kind") == 1).select("id", "refs", "tags")
    exploded = ways.select("id", F.posexplode("refs").alias("pos", "nid"))
    seq = (
        exploded.join(nodes, "nid")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "lon", "lat"))),
                lambda s: F.struct(s["lon"].alias("lon"), s["lat"].alias("lat")),
            ).alias("coords")
        )
    )
    return ways.join(seq, "id", "left")


def _wkb_from_coords(df, kind: str, out_col: str = "geometry_wkb"):
    """coords -> WKB via the shared numpy encoders (Arrow-batched)."""
    from pyspark.sql import functions as F

    from pyogrio_spark.geometry import wkb as W

    keep = [c for c in df.columns if c != "coords"]
    fields = ", ".join(f"`{c}` {t}" for c, t in df.dtypes if c != "coords")
    schema = f"{fields}, `{out_col}` binary"

    def enc(pdfs):
        for pdf in pdfs:
            out = pdf[keep].copy()
            wkbs = []
            for cs in pdf["coords"]:
                if cs is None or len(cs) == 0:
                    wkbs.append(None)
                    continue
                arr = np.array([(c["lon"], c["lat"]) for c in cs], dtype=np.float64)
                if kind == "line":
                    wkbs.append(W.encode_linestring(arr))
                else:  # closed way polygon: ensure ring closure
                    if not np.array_equal(arr[0], arr[-1]):
                        arr = np.vstack([arr, arr[:1]])
                    wkbs.append(W.encode_polygon([arr]))
            out[out_col] = wkbs
            yield out

    return df.mapInPandas(enc, schema=schema)


def _points_layer(raw):
    from pyspark.sql import functions as F

    from pyogrio_spark.geometry import wkb as W

    pts = raw.filter((F.col("kind") == 0) & _significant()).select(
        F.col("id").cast("string").alias("osm_id"),
        *_attr_cols(POINT_ATTRS),
        _other_tags_expr(POINT_ATTRS).alias("other_tags"),
        "lon",
        "lat",
    )
    fields = ", ".join(f"`{c}` {t}" for c, t in pts.dtypes if c not in ("lon", "lat"))

    def enc(pdfs):
        for pdf in pdfs:
            out = pdf.drop(columns=["lon", "lat"])
            out["geometry_wkb"] = list(
                W.encode_points(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
            )
            yield out

    return pts.mapInPandas(enc, schema=f"{fields}, `geometry_wkb` binary")


def _lines_layer(raw):
    from pyspark.sql import functions as F

    wc = _way_coords(raw).filter(~(_is_closed() & _is_area()))
    wc = wc.select(
        F.col("id").cast("string").alias("osm_id"),
        *_attr_cols(LINE_ATTRS),
        _z_order().alias("z_order"),
        _other_tags_expr(LINE_ATTRS).alias("other_tags"),
        "coords",
    )
    return _wkb_from_coords(wc, "line")


def _way_polygons(raw):
    from pyspark.sql import functions as F

    wc = _way_coords(raw).filter(_is_closed() & _is_area())
    wc = wc.select(
        F.lit(None).cast("string").alias("osm_id"),
        F.col("id").cast("string").alias("osm_way_id"),
        *_attr_cols(MPOLY_ATTRS),
        _other_tags_expr(MPOLY_ATTRS).alias("other_tags"),
        "coords",
    )
    return _wkb_from_coords(wc, "polygon")


def _rel_members_with_way_coords(raw, rel_filter):
    """relation rows (post-filter) exploded to way members joined with
    member way coordinate sequences.

    Nested relation members (type=relation) are resolved ONE level, the
    same depth GDAL's driver resolves: a member relation contributes its
    own way members at the parent's position, ordered by their position
    within the sub-relation, carrying their own roles (falling back to
    the parent member's role when empty). Deeper nesting is ignored —
    GDAL's documented behavior for the multipolygon/boundary stitcher."""
    from pyspark.sql import functions as F

    rels = raw.filter((F.col("kind") == 2) & rel_filter)
    m = rels.select(
        "id",
        "tags",
        F.posexplode(F.arrays_zip("mtypes", "mrefs", "mroles")).alias("pos", "m"),
    ).select(
        "id", "tags", "pos",
        F.col("m.mtypes").alias("mtype"),
        F.col("m.mrefs").alias("mref"),
        F.col("m.mroles").alias("mrole"),
    )
    # composite order key: parent slot * 2^32 + slot inside the nested
    # relation (+1 so a nested member never ties its parent's slot)
    direct = m.filter(F.col("mtype") == 1).select(
        "id", "tags",
        (F.col("pos").cast("long") * (1 << 32)).alias("pos"),
        "mref", "mrole",
    )
    sub = (
        raw.filter(F.col("kind") == 2)
        .select(
            F.col("id").alias("subrel_id"),
            F.posexplode(F.arrays_zip("mtypes", "mrefs", "mroles")).alias("subpos", "sm"),
        )
        .filter(F.col("sm.mtypes") == 1)
        .select(
            "subrel_id", "subpos",
            F.col("sm.mrefs").alias("submref"),
            F.col("sm.mroles").alias("submrole"),
        )
    )
    nested = (
        m.filter(F.col("mtype") == 2)
        .join(sub, F.col("mref") == F.col("subrel_id"))
        .select(
            "id", "tags",
            (F.col("pos").cast("long") * (1 << 32) + F.col("subpos") + 1).alias("pos"),
            F.col("submref").alias("mref"),
            F.when(F.col("submrole") == "", F.col("mrole"))
            .otherwise(F.col("submrole"))
            .alias("mrole"),
        )
    )
    members = direct.unionByName(nested)
    ways = _way_coords(raw).select(F.col("id").alias("mref"), F.col("coords").alias("wcoords"))
    return members.join(ways, "mref", "left")


def _stitch_rings(way_arrays: list[np.ndarray]) -> list[np.ndarray]:
    """Greedy ring assembly: chain member ways end-to-end (reversing
    when needed) until each chain closes. Open leftovers are dropped —
    the documented GDAL behavior for broken multipolygon relations."""
    segs = [a for a in way_arrays if a is not None and len(a) >= 2]
    rings: list[np.ndarray] = []
    while segs:
        ring = segs.pop(0)
        while not np.array_equal(ring[0], ring[-1]):
            for i, s in enumerate(segs):
                if np.array_equal(s[0], ring[-1]):
                    ring = np.vstack([ring, s[1:]])
                    segs.pop(i)
                    break
                if np.array_equal(s[-1], ring[-1]):
                    ring = np.vstack([ring, s[::-1][1:]])
                    segs.pop(i)
                    break
            else:
                ring = None  # open chain: unmatched endpoint
                break
        if ring is not None and len(ring) >= 4:
            rings.append(ring)
    return rings


def _rel_multipolygons(raw):
    from pyspark.sql import functions as F

    from pyogrio_spark.geometry import wkb as W

    tag_type = F.col("tags").getItem("type")
    mem = _rel_members_with_way_coords(raw, tag_type.isin("multipolygon", "boundary"))
    grouped = mem.groupBy("id").agg(
        F.first("tags").alias("tags"),
        F.array_sort(F.collect_list(F.struct("pos", "mrole", "wcoords"))).alias("members"),
    )
    out_attrs = grouped.select(
        F.col("id").cast("string").alias("osm_id"),
        F.lit(None).cast("string").alias("osm_way_id"),
        *_attr_cols(MPOLY_ATTRS),
        _other_tags_expr(MPOLY_ATTRS).alias("other_tags"),
        F.col("members"),
    )
    fields = ", ".join(f"`{c}` {t}" for c, t in out_attrs.dtypes if c != "members")

    def enc(pdfs):
        for pdf in pdfs:
            out = pdf.drop(columns=["members"])
            wkbs = []
            for ms in pdf["members"]:
                outers, inners = [], []
                for m in ms:
                    cs = m["wcoords"]
                    arr = (
                        np.array([(c["lon"], c["lat"]) for c in cs], dtype=np.float64)
                        if cs is not None and len(cs)
                        else None
                    )
                    (inners if m["mrole"] == "inner" else outers).append(arr)
                oring = _stitch_rings(outers)
                iring = _stitch_rings(inners)
                if not oring:
                    wkbs.append(None)
                    continue
                # hole assignment: an inner ring belongs to the SMALLEST
                # outer ring that contains it (point-in-ring test on the
                # inner's first vertex) — with nested outers (donut in a
                # donut) the largest-containing-bbox rule would attach
                # the hole to the outermost polygon (round-3 ADVICE)
                polys = [[o] for o in sorted(oring, key=lambda r: -_ring_area(r))]
                by_area_asc = sorted(polys, key=lambda p: _ring_area(p[0]))
                for ir in iring:
                    for p in by_area_asc:
                        if _bbox_contains(p[0], ir) and _point_in_ring(p[0], ir[0]):
                            p.append(ir)
                            break
                wkbs.append(W.encode_multipolygon(polys))
            out["geometry_wkb"] = wkbs
            yield out

    return out_attrs.mapInPandas(enc, schema=f"{fields}, `geometry_wkb` binary")


def _ring_area(r: np.ndarray) -> float:
    x, y = r[:, 0], r[:, 1]
    return 0.5 * abs(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))


def _point_in_ring(ring: np.ndarray, pt: np.ndarray) -> bool:
    """Ray-cast containment of one point in one closed ring."""
    from pyogrio_spark.geometry.predicates import points_in_ring

    return bool(points_in_ring(np.array([pt[0]]), np.array([pt[1]]), ring)[0])


def _bbox_contains(outer: np.ndarray, inner: np.ndarray) -> bool:
    return bool(
        outer[:, 0].min() <= inner[:, 0].min()
        and outer[:, 0].max() >= inner[:, 0].max()
        and outer[:, 1].min() <= inner[:, 1].min()
        and outer[:, 1].max() >= inner[:, 1].max()
    )


def _multilinestrings_layer(raw):
    from pyspark.sql import functions as F

    from pyogrio_spark.geometry import wkb as W

    mem = _rel_members_with_way_coords(raw, F.col("tags").getItem("type") == "route")
    grouped = mem.groupBy("id").agg(
        F.first("tags").alias("tags"),
        F.array_sort(F.collect_list(F.struct("pos", "wcoords"))).alias("members"),
    )
    out_attrs = grouped.select(
        F.col("id").cast("string").alias("osm_id"),
        *_attr_cols(REL_ATTRS),
        _other_tags_expr(REL_ATTRS).alias("other_tags"),
        "members",
    )
    fields = ", ".join(f"`{c}` {t}" for c, t in out_attrs.dtypes if c != "members")

    def enc(pdfs):
        for pdf in pdfs:
            out = pdf.drop(columns=["members"])
            wkbs = []
            for ms in pdf["members"]:
                lines = [
                    np.array([(c["lon"], c["lat"]) for c in m["wcoords"]], dtype=np.float64)
                    for m in ms
                    if m["wcoords"] is not None and len(m["wcoords"]) >= 2
                ]
                wkbs.append(W.encode_multilinestring(lines) if lines else None)
            out["geometry_wkb"] = wkbs
            yield out

    return out_attrs.mapInPandas(enc, schema=f"{fields}, `geometry_wkb` binary")


def _other_relations_layer(raw):
    from pyspark.sql import functions as F

    from pyogrio_spark.geometry import wkb as W

    tag_type = F.col("tags").getItem("type")
    keep = tag_type.isNull() | ~tag_type.isin("multipolygon", "boundary", "route")
    rels = raw.filter((F.col("kind") == 2) & keep)
    m = rels.select(
        "id", "tags",
        F.posexplode(F.arrays_zip("mtypes", "mrefs", "mroles")).alias("pos", "mm"),
    ).select(
        "id", "tags", "pos",
        F.col("mm.mtypes").alias("mtype"), F.col("mm.mrefs").alias("mref"),
    )
    nodes = raw.filter(F.col("kind") == 0).select(
        F.col("id").alias("mref"), F.col("lon").alias("nlon"), F.col("lat").alias("nlat")
    )
    ways = _way_coords(raw).select(F.col("id").alias("wref"), F.col("coords").alias("wcoords"))
    m = (
        m.join(nodes, "mref", "left")
        .join(ways, F.col("mref") == F.col("wref"), "left")
        .drop("wref")
    )
    grouped = m.groupBy("id").agg(
        F.first("tags").alias("tags"),
        F.array_sort(
            F.collect_list(F.struct("pos", "mtype", "nlon", "nlat", "wcoords"))
        ).alias("members"),
    )
    out_attrs = grouped.select(
        F.col("id").cast("string").alias("osm_id"),
        *_attr_cols(REL_ATTRS),
        _other_tags_expr(REL_ATTRS).alias("other_tags"),
        "members",
    )
    fields = ", ".join(f"`{c}` {t}" for c, t in out_attrs.dtypes if c != "members")

    def enc(pdfs):
        for pdf in pdfs:
            out = pdf.drop(columns=["members"])
            wkbs = []
            for ms in pdf["members"]:
                parts = []
                for mm in ms:
                    if mm["mtype"] == 0 and mm["nlon"] is not None and not pd.isna(mm["nlon"]):
                        parts.append(W.encode_point(mm["nlon"], mm["nlat"]))
                    elif mm["mtype"] == 1 and mm["wcoords"] is not None and len(mm["wcoords"]) >= 2:
                        arr = np.array(
                            [(c["lon"], c["lat"]) for c in mm["wcoords"]], dtype=np.float64
                        )
                        parts.append(W.encode_linestring(arr))
                wkbs.append(W.encode_collection(parts) if parts else None)
            out["geometry_wkb"] = wkbs
            yield out

    return out_attrs.mapInPandas(enc, schema=f"{fields}, `geometry_wkb` binary")


# --------------------------------------------------------------- public


def list_layers(path: str) -> list[list[str]]:
    """GDAL's OSM driver always exposes the same five layers."""
    blob_index(path)  # validates the container
    return [[name, _LAYER_GEOM[name]] for name in LAYERS]


def read_osm(spark, path: str, layer: str | None = None, **read_table_kwargs):
    """One OSM layer -> engine DataFrame, composable with read_table
    filters. Reading without an explicit layer warns and uses the first
    (points) — the reference's behavior for multi-layer sources
    (/root/reference/pyogrio/tests/test_core.py:386-389,707-712)."""
    from pyogrio_spark.io.reader import read_table

    if layer is None:
        import warnings

        warnings.warn(
            f"More than one layer found in '{path}': using the first layer 'points'.",
            UserWarning,
            stacklevel=2,
        )
        layer = "points"
    if isinstance(layer, int):
        layer = LAYERS[layer]
    if layer not in LAYERS:
        raise ValueError(f"unknown OSM layer {layer!r}; expected one of {LAYERS}")
    raw = read_osm_raw(spark, path)
    df = {
        "points": _points_layer,
        "lines": _lines_layer,
        "multilinestrings": _multilinestrings_layer,
        "multipolygons": lambda r: _way_polygons(r).unionByName(_rel_multipolygons(r)),
        "other_relations": _other_relations_layer,
    }[layer](raw)
    return read_table(spark, df, **read_table_kwargs)


def osm_info(path: str, layer: str | None = None, force_feature_count: bool = False, spark=None) -> dict:
    """read_info parity: feature count is -1 unless forced (GDAL cannot
    count an OSM layer without scanning; neither can we); no declared
    fields or bounds, WGS84 by definition."""
    if layer is None:
        import warnings

        warnings.warn(
            f"More than one layer found in '{path}': using the first layer 'points'.",
            UserWarning,
            stacklevel=2,
        )
        layer = "points"
    if isinstance(layer, int):  # same normalization as read_osm
        layer = LAYERS[layer]
    if layer not in LAYERS:
        raise ValueError(f"unknown OSM layer {layer!r}; expected one of {LAYERS}")
    features = -1
    if force_feature_count:
        if spark is None:
            raise ValueError("force_feature_count=True needs a SparkSession")
        features = read_osm(spark, path, layer=layer).count()
    return {
        "layer_name": layer,
        "geometry_type": _LAYER_GEOM[layer],
        "features": features,
        "driver": "OSM",
        "crs": "EPSG:4326",
        "encoding": "UTF-8",
        "fields": [],
        "dtypes": [],
        "total_bounds": None,
    }


# ------------------------------------------------- encoder (test support)


def _enc_varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zz(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _tagv(field: int, v: int) -> bytes:
    return _enc_varint(field << 3) + _enc_varint(v)


def _tagb(field: int, b: bytes) -> bytes:
    return _enc_varint((field << 3) | 2) + _enc_varint(len(b)) + b


def _packed_field(field: int, vals, signed=False) -> bytes:
    body = b"".join(_enc_varint(_zz(v) if signed else v) for v in vals)
    return _tagb(field, body)


def write_osm_pbf(path: str, nodes, ways=(), rels=(), nodes_per_blob: int = 8000) -> None:
    """Minimal OSM PBF writer (dense nodes, ways, relations; one
    zlib-compressed PrimitiveBlock per blob). The reference's OSM driver
    is read-only — this exists to synthesize multi-blob inputs for the
    distributed-reader and ring-stitching tests.

    nodes: [(id, lon, lat, {tags})], ways: [(id, [refs], {tags})],
    rels: [(id, [(mtype, mref, role)], {tags})].
    """

    def block(node_chunk, way_chunk, rel_chunk) -> bytes:
        strings = [b""]
        sidx: dict[str, int] = {}

        def s(x: str) -> int:
            if x not in sidx:
                sidx[x] = len(strings)
                strings.append(x.encode())
            return sidx[x]

        groups = b""
        if node_chunk:
            ids = [n[0] for n in node_chunk]
            lons = [round(n[1] / 1e-7) for n in node_chunk]
            lats = [round(n[2] / 1e-7) for n in node_chunk]
            kv: list[int] = []
            for n in node_chunk:
                for k, v in n[3].items():
                    kv += [s(k), s(v)]
                kv.append(0)
            dense = (
                _packed_field(1, np.diff([0] + ids).tolist(), signed=True)
                + _packed_field(8, np.diff([0] + lats).tolist(), signed=True)
                + _packed_field(9, np.diff([0] + lons).tolist(), signed=True)
                + _packed_field(10, kv)
            )
            groups += _tagb(2, _tagb(2, dense))
        for wid, refs, tags in way_chunk:
            body = _tagv(1, wid)
            body += _packed_field(2, [s(k) for k in tags])
            body += _packed_field(3, [s(v) for v in tags.values()])
            body += _packed_field(8, np.diff([0] + list(refs)).tolist(), signed=True)
            groups += _tagb(2, _tagb(3, body))
        for rid, members, tags in rel_chunk:
            body = _tagv(1, rid)
            body += _packed_field(2, [s(k) for k in tags])
            body += _packed_field(3, [s(v) for v in tags.values()])
            body += _packed_field(8, [s(role) for _, _, role in members])
            body += _packed_field(9, np.diff([0] + [m for _, m, _ in members]).tolist(), signed=True)
            body += _packed_field(10, [t for t, _, _ in members])
            groups += _tagb(2, _tagb(4, body))
        st = _tagb(1, b"".join(_tagb(1, x) for x in strings))
        return st + groups + _tagv(17, 100)

    def blob(btype: str, payload: bytes) -> bytes:
        z = zlib.compress(payload)
        b = _tagv(2, len(payload)) + _tagb(3, z)
        hdr = _tagb(1, btype.encode()) + _tagv(3, len(b))
        return struct.pack(">I", len(hdr)) + hdr + b

    header = _tagb(4, b"OsmSchema-V0.6") + _tagb(4, b"DenseNodes")
    chunks = []
    nodes = list(nodes)
    for lo in range(0, len(nodes), nodes_per_blob):
        chunks.append((nodes[lo : lo + nodes_per_blob], (), ()))
    if ways or rels:
        chunks.append(((), list(ways), list(rels)))
    if not chunks:
        chunks = [((), (), ())]
    with open(path, "wb") as f:
        f.write(blob("OSMHeader", header))
        for nc, wc, rc in chunks:
            f.write(blob("OSMData", block(nc, wc, rc)))
