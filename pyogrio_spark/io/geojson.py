"""GeoJSON (``.geojson``: a FeatureCollection, a Feature or a bare
geometry) and GeoJSONSeq (``.geojsonl``/``.geojsons``: one feature per
line; readers tell the two apart by content, writers by the driver or
extension) source and sink, RFC 7946 with stdlib json. Geometries are the
engine's ISO WKB; coordinates are (lon, lat[, z]).

One decoder reads a chunk: a line-aligned byte range of a GeoJSONSeq file
or a whole FeatureCollection. JSON declares no schema, so a header pass
on the driver reads every feature once, as OGR's GeoJSON driver does, to
cut the chunks and type the properties with ``property_types``, the one
typing rule over Arrow types. The writers mirror it: one part encoder
typed by the same rule, and one stitch (``io/sink.py``)."""

from __future__ import annotations

import base64
import datetime
import itertools
import json
import os
import re
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa

from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.io.reader import NUMPY_DTYPE, chunk_frame

# bytes of a GeoJSONSeq file per chunk, cut at the next line end
CHUNK_BYTES = 32 << 20
SEQ_EXTS = (".geojsonl", ".geojsons")
# the inferred type of a value only JSON text holds: an object, or a list
# holding a null, a nested value or values of two types
_JSON = pa.struct([])
_SCALARS = {type(None): pa.null(), bool: pa.bool_(), int: pa.int64(), float: pa.float64(), str: pa.string()}


def _is_seq(path: str) -> bool:
    return path.lower().endswith(SEQ_EXTS)


def holds_seq(path: str) -> bool:
    """Whether a file reads as GeoJSONSeq, by content as OGR decides it:
    a first line that is a whole Feature with more text after it. A file
    of one line is one JSON text; a first line that is no JSON text (a
    pretty-printed document, a blank line) leaves it to the extension."""
    with open(path, "rb") as f:
        first = f.readline()
        if first.strip() and not f.read(1 << 16).strip():
            return False
    try:
        doc = json.loads(first)
    except ValueError:
        return _is_seq(path)
    return isinstance(doc, dict) and doc.get("type") == "Feature"


def _crs_member(doc) -> str:
    """The 2008-spec 'crs' member GDAL writes for non-WGS84 data ->
    'EPSG:<code>'; RFC 7946 data is WGS84 by definition."""
    c = doc.get("crs") if isinstance(doc, dict) else None
    name = str((c.get("properties") or {}).get("name") or "") if isinstance(c, dict) else ""
    m = re.search(r"EPSG:{1,2}(\d+)", name)
    return f"EPSG:{m.group(1)}" if m else "EPSG:4326"


def _scalar(t: pa.DataType) -> str | None:
    if pa.types.is_boolean(t) or pa.types.is_integer(t) or pa.types.is_floating(t):
        return "boolean" if pa.types.is_boolean(t) else "bigint" if pa.types.is_integer(t) else "double"
    return "string" if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_null(t) else None


def property_types(schema: pa.Schema) -> list[tuple[str, str]]:
    """The one GeoJSON typing rule, over the Arrow types of the
    properties -> (name, Spark type) each: integers bigint, floats
    double, a list of scalars an array of them (of strings when empty),
    objects, other lists and a field tagged ``ogr_subtype=OFSTJSON``
    "json" (JSON text, GDAL's OFSTJSON), anything else string."""
    out = []
    for f in schema:
        t = f.type
        if (f.metadata or {}).get(b"ogr_subtype") == b"OFSTJSON":
            spark = "json"
        elif pa.types.is_list(t) or pa.types.is_large_list(t):
            spark = f"array<{_scalar(t.value_type)}>" if _scalar(t.value_type) else "json"
        else:
            spark = "json" if pa.types.is_nested(t) else _scalar(t) or "string"
        out.append((f.name, spark))
    return out


def _unify(a: pa.DataType, b: pa.DataType, mixed: pa.DataType = pa.string()) -> pa.DataType:
    """The type of values of types ``a`` and ``b``: int and float are double,
    lists unify their items, a list or object mix JSON, other mixes ``mixed``."""
    if a == b or b == pa.null():
        return a
    if a == pa.null():
        return b
    if {a, b} == {pa.int64(), pa.float64()}:
        return pa.float64()
    if pa.types.is_list(a) and pa.types.is_list(b):
        item = _unify(a.value_type, b.value_type, _JSON)
        return _JSON if item == _JSON else pa.list_(item)
    return _JSON if pa.types.is_nested(a) or pa.types.is_nested(b) else mixed


def _json_type(v) -> pa.DataType:
    """One parsed JSON value -> its Arrow type (an integer beyond int64
    is a double)."""
    if not isinstance(v, list):
        big = type(v) is int and not -(1 << 63) <= v < 1 << 63
        return pa.float64() if big else _SCALARS.get(type(v), _JSON)
    item = pa.null()
    for t in map(_json_type, v):
        if t == pa.null() or pa.types.is_nested(t):
            return _JSON
        item = _unify(item, t, _JSON)
    return _JSON if item == _JSON else pa.list_(item)


_ENCODE = {"Point": lambda c: W.encode_point(*c[:3]), "LineString": W.encode_linestring,
           "Polygon": W.encode_polygon, "MultiPoint": W.encode_multipoint,
           "MultiLineString": W.encode_multilinestring, "MultiPolygon": W.encode_multipolygon}


def _coords_to_geom(gj: dict) -> bytes | None:
    if gj is None:
        return None
    if gj["type"] == "GeometryCollection":
        return W.encode_collection([_coords_to_geom(g) for g in gj["geometries"]])
    if gj["type"] not in _ENCODE:
        raise ValueError(f"unsupported GeoJSON geometry type {gj['type']}")
    return _ENCODE[gj["type"]](gj["coordinates"])


def _type_name(gj) -> str | None:
    """A GeoJSON geometry's type as ``W.geom_type_name`` names its WKB."""
    if gj is None:
        return None
    c = gj.get("coordinates")
    while isinstance(c, list) and c and isinstance(c[0], list):
        c = c[0]
    return gj["type"] + (" Z" if isinstance(c, list) and len(c) > 2 else "")


def _position_lists(gj):
    """A GeoJSON geometry's positions as non-empty lists of them (a ring,
    a line, a Point's one), none for a null or empty geometry."""
    if gj is None:
        return
    if gj["type"] == "GeometryCollection":
        for g in gj["geometries"]:
            yield from _position_lists(g)
        return
    stack = [gj["coordinates"]]
    while stack:
        c = stack.pop()
        if not c:
            continue
        if not isinstance(c[0], list):
            yield [c]
        elif c[0] and not isinstance(c[0][0], list):
            yield c
        else:
            stack.extend(c)


def _at(fid: int, line: int | None, exc: Exception) -> ValueError:
    return ValueError(f"feature {fid}{'' if line is None else f' (line {line})'}: {type(exc).__name__}: {exc}")


def _features(data: bytes, seq: bool, fid: int, line: int):
    """One chunk's bytes -> (CRS, iterator of (fid, line, feature)): the
    non-blank lines of a GeoJSONSeq range from ``fid`` and ``line`` (a
    line that does not parse raises ValueError naming it), or the
    features of a FeatureCollection, Feature or bare geometry."""
    if not seq:
        doc = json.loads(data)
        kind = doc.get("type")
        feats = (doc["features"] if kind == "FeatureCollection" else [doc] if kind == "Feature"
                 else [{"type": "Feature", "properties": {}, "geometry": doc}])
        return _crs_member(doc), ((i, None, feat) for i, feat in enumerate(feats))

    def lines(fid, line):
        for text in data.split(b"\n"):
            if text := text.strip():
                try:
                    feat = json.loads(text)
                except ValueError as exc:
                    raise _at(fid, line, exc) from exc
                yield fid, line, feat
                fid += 1
            line += 1

    return "EPSG:4326", lines(fid, line)


def _read(path: str, lo: int, hi: int) -> bytes:
    with open(path, "rb") as f:
        f.seek(lo)
        return f.read(hi - lo)


def _layout(path: str, bounds: bool = False) -> tuple[list, list, int, str, str, tuple | None]:
    """The header pass, every feature once on the driver -> ((name,
    Spark type) fields, chunks ``(byte_lo, byte_hi, first fid, first
    line)`` of about ``CHUNK_BYTES``, feature count, layer geometry type
    (``W.layer_type``), CRS, and with ``bounds`` the (xmin, ymin, xmax,
    ymax) of every position, else or with none None). The first line is
    None for a FeatureCollection, whatever the extension (``holds_seq``).
    A feature that does not parse raises FeatureError naming the path,
    the chunk's byte range and the feature."""
    from pyogrio_spark.errors import FeatureError

    seq, size = holds_seq(path), os.path.getsize(path)
    cuts = [0]
    with open(path, "rb") as f:
        while seq and cuts[-1] + CHUNK_BYTES < size:
            f.seek(cuts[-1] + CHUNK_BYTES)
            f.readline()
            cuts.append(f.tell())
    cuts += [size] if cuts[-1] < size or not seq else []
    types, gtypes, chunks, n, line, crs = {}, set(), [], 0, 1, "EPSG:4326"
    x0 = y0 = np.inf
    x1 = y1 = -np.inf
    for lo, hi in zip(cuts, cuts[1:]):
        data = _read(path, lo, hi)
        chunks.append((lo, hi, n, line if seq else None))
        try:
            crs, feats = _features(data, seq, n, line)
            for fid, ln, feat in feats:
                try:
                    for k, v in (feat.get("properties") or {}).items():
                        types[k] = _unify(types.get(k, pa.null()), _json_type(v))
                    gtypes.add(_type_name(feat.get("geometry")))
                    for ps in _position_lists(feat.get("geometry")) if bounds else ():
                        xs, ys = tuple(zip(*ps))[:2]
                        x0, y0, x1, y1 = min(x0, min(xs)), min(y0, min(ys)), max(x1, max(xs)), max(y1, max(ys))
                except Exception as exc:
                    raise _at(fid, ln, exc) from exc
                n += 1
        except Exception as exc:
            raise FeatureError(f"{path}: cannot decode bytes [{lo}, {hi}): {type(exc).__name__}: {exc}") from exc
        line += data.count(b"\n")
    total_bounds = (float(x0), float(y0), float(x1), float(y1)) if x0 <= x1 else None
    return property_types(pa.schema(list(types.items()))), chunks, n, W.layer_type(gtypes), crs, total_bounds


def _spark_fields(fields: list) -> list[tuple[str, str]]:
    return [(n, "string" if t == "json" else t) for n, t in fields]


def _decoder(path: str, fields: list):
    """The one GeoJSON decoder: ``decode(chunk)`` reads only the chunk's
    bytes -> a ``chunk_frame``; json values, and non-string values in a
    string column (mixed scalars), become JSON text."""
    def decode(chunk) -> pd.DataFrame:
        fids, props, geoms = [], [], []
        for fid, line, feat in _features(_read(path, chunk[0], chunk[1]), chunk[3] is not None, *chunk[2:])[1]:
            try:
                geoms.append(_coords_to_geom(feat.get("geometry")))
            except Exception as exc:
                raise _at(fid, line, exc) from exc
            props.append(feat.get("properties") or {})
            fids.append(fid)
        values = [[json.dumps(v) if v is not None and (t == "json" or t == "string" and not isinstance(v, str))
                   else v for v in (p.get(name) for p in props)] for name, t in fields]
        return chunk_frame(fids, _spark_fields(fields), values, geoms)

    return decode


def read_geojson(spark, path: str, distributed: bool = False, **read_table_kwargs):
    """GeoJSON(Seq) -> engine DataFrame (fid, properties, geometry_wkb)
    with every read_table filter. ``distributed`` places the decode
    (``reader.scan_chunks``): one Spark task per chunk, or the driver.
    JSON columns are tagged ``ogr_subtype=OFSTJSON`` for the facade."""
    from pyspark.sql import functions as F

    from pyogrio_spark.io.reader import chunk_schema, scan_chunks

    fields, chunks = _layout(path)[:2]
    df = scan_chunks(spark, path, chunks, _decoder(path, fields), chunk_schema(_spark_fields(fields)),
                     distributed=distributed, **read_table_kwargs)
    json_cols = {n for n, t in fields if t == "json"}
    if not json_cols & set(df.columns):
        return df
    return df.select(*[F.col(f"`{c}`").alias(c, metadata={"ogr_subtype": "OFSTJSON"}) if c in json_cols
                       else F.col(f"`{c}`") for c in df.columns])


def read_geojson_pdf(path: str) -> pd.DataFrame:
    """The whole file through the one decoder -> pandas frame in numpy
    dtypes (JSON columns hold JSON text)."""
    from pyogrio_spark.io.reader import numpy_dtypes

    whole = (0, os.path.getsize(path), 0, 1 if holds_seq(path) else None)
    return numpy_dtypes(_decoder(path, _layout(path)[0])(whole))


def geojson_info(path: str, force_total_bounds: bool = False) -> dict:
    """read_info fields from the header pass; the driver is GeoJSONSeq
    for a file that ``holds_seq``, whose total bounds are None unless
    forced, as in the reference (its test_core.py:698-706)."""
    seq = holds_seq(path)
    fields, _, count, gtype, crs, total_bounds = _layout(path, bounds=force_total_bounds or not seq)
    lists = {"boolean": "bool", "bigint": "int64", "double": "float64", "string": "str"}
    return {
        "layer_name": os.path.splitext(os.path.basename(path))[0],
        "features": count,
        "fields": [n for n, _ in fields],
        "dtypes": [f"list({lists[t[6:-1]]})" if t.startswith("array<") else NUMPY_DTYPE.get(t, t)
                   for _, t in fields],
        "total_bounds": total_bounds,
        "geometry_type": gtype,
        "crs": crs,
        "encoding": "UTF-8",
        "driver": "GeoJSONSeq" if seq else "GeoJSON",
    }


def _geom_to_coords(g) -> dict:
    if g.type == "GeometryCollection":
        return {"type": g.type, "geometries": [_geom_to_coords(p) for p in g.coords]}
    c = (g.coords.tolist() if g.type in ("Point", "LineString") else [r.tolist() for r in g.coords]
         if g.type == "Polygon" else [_geom_to_coords(p)["coordinates"] for p in g.coords])
    return {"type": g.type, "coordinates": c}


def _json_safe(v, t: str = ""):
    """A value of a column of Spark type ``t`` -> JSON: arrays become
    lists, NaN/±Inf/None/NA null (not non-RFC tokens), a bigint an int
    (Spark hands a nullable one over as float), JSON text its value,
    dates ISO 8601 and binary base64 text, as GDAL writes them."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_json_safe(e) for e in v]
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NA or v is pd.NaT or (isinstance(v, float) and not np.isfinite(v)):
        return None
    if t == "bigint":
        return int(v)
    if t == "json" and isinstance(v, str):
        return json.loads(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(v).decode("ascii")
    return v


def _encode_part(frames, part: str, geom_col: str, cols: list[str], types: list[str]) -> dict:
    """The one GeoJSON part encoder: ``frames`` -> ``part``, one Feature
    per line (json.dumps writes repr-exact floats)."""
    n = 0
    with open(part, "w") as f:
        for pdf in frames:
            rows = zip(*(pdf[c].tolist() for c in cols)) if cols else itertools.repeat(())
            for b, values in zip(pdf[geom_col].tolist(), rows):
                props = {c: _json_safe(v, t) for c, t, v in zip(cols, types, values)}
                geom = None if b is None else _geom_to_coords(W.parse_wkb(bytes(b)))
                f.write(json.dumps({"type": "Feature", "properties": props, "geometry": geom}) + "\n")
                n += 1
    return {"n": n}


def _stitch(path: str, metas: list[dict], epsg, append: bool, seq: bool) -> None:
    """The one GeoJSON stitch: GeoJSONSeq concatenates the parts' lines;
    a FeatureCollection wraps them (after the old features on append)
    with a 2008-spec ``crs`` member for a non-4326 CRS."""
    if seq:
        with open(path, "ab" if append else "wb") as out:
            for m in metas:
                with open(m["part"], "rb") as f:
                    shutil.copyfileobj(f, out, 1 << 20)
        return
    head, lines = {"type": "FeatureCollection"}, []
    if append:
        with open(path) as f:
            doc = json.load(f)
        if doc.get("type") != "FeatureCollection":
            raise ValueError(f"append=True needs a FeatureCollection in {path}")
        head = {k: v for k, v in doc.items() if k != "features"}
        lines = [json.dumps(feat) for feat in doc["features"]]
    elif epsg is not None and epsg != 4326:
        head["crs"] = {"type": "name", "properties": {"name": f"urn:ogc:def:crs:EPSG::{epsg}"}}

    def encoded():
        for m in metas:
            with open(m["part"]) as f:
                yield from (line.rstrip("\n") for line in f)

    with open(path, "w") as out:
        out.write(json.dumps(head)[:-1] + ', "features": [')
        for i, line in enumerate(itertools.chain(lines, encoded())):
            out.write((", " if i else "") + line)
        out.write("]}")


def write_geojson(pdf, path: str, geom_col: str = "geometry_wkb", crs=None, append: bool = False,
                  seq: bool | None = None) -> None:
    """Frame with WKB geometry -> FeatureCollection or GeoJSONSeq (``seq``,
    or by extension when None, as the facade's ``driver`` picks it); a
    pandas frame is one part, encoded in process without
    Spark. Floats are repr-exact. A non-4326 ``crs`` becomes the 2008-spec
    'crs' member, as GDAL writes it; GeoJSONSeq refuses one. ``append``
    adds GeoJSONSeq lines in place and rewrites a FeatureCollection."""
    from pyogrio_spark.crs import crs_to_epsg
    from pyogrio_spark.io.sink import attribute_schema, encoded_parts

    epsg = crs_to_epsg(crs) if crs is not None else None
    seq = _is_seq(path) if seq is None else seq
    if epsg is not None and epsg != 4326 and seq:
        raise ValueError("GeoJSONSeq has no 'crs' member; data must be EPSG:4326")
    if append and not os.path.exists(path):
        raise ValueError(f"append=True but {path} does not exist")
    # a ``fid`` column is the engine's row-id convention, not a property
    cols = [c for c in pdf.columns if c not in (geom_col, "fid")]
    types = [t for _, t in property_types(attribute_schema(pdf, cols))]

    def encode(frames, part):
        return _encode_part(frames, part, geom_col, cols, types)

    with encoded_parts(pdf, path, encode, [("n", "bigint")]) as metas:
        _stitch(path, metas, epsg, append, seq)


def write_geojson_distributed(df, path: str, geom_col: str = "geometry_wkb", crs=None) -> None:
    """``write_geojson`` for a Spark DataFrame in one job with no
    exchange: one part per partition (executors must see ``path``'s
    directory), one file; one partition gives the same bytes."""
    write_geojson(df, path, geom_col, crs)
