"""Pure-Python GeoPackage source (SQLite container + GPKG geometry blobs).

GPKG is an OGC standard: an SQLite database with ``gpkg_contents`` /
``gpkg_geometry_columns`` registry tables and a documented geometry
BLOB header (magic 'GP', flags byte with an envelope indicator,
srs_id, then ISO WKB). Python's stdlib sqlite3 reads the container;
the engine's WKB codec handles the payload — including curve types,
which parse to their linear downgrades exactly like the reference's
scan (list_layers on curve.gpkg reports LineString,
/root/reference/pyogrio/tests/test_core.py:311-316).

One decoder reads a half-open primary-key window of a layer; the Spark
reader splits the layer into such windows (one task each, or all on
the driver) and ``read_geopackage_pdf`` reads the whole layer as one.
Spark types come from the column declarations (nullable INTEGER is
BIGINT). The pandas reader keeps the reference's raw-read null typing
(/root/reference/pyogrio/tests/test_raw_io.py:968-979): numeric
columns containing nulls surface as float64 with NaN (float32 stays
float32); null-free integer columns stay int64.
"""

from __future__ import annotations

import sqlite3
import struct

import numpy as np
import pandas as pd

from pyogrio_spark.geometry import wkb as W

# gpkg_geometry_columns type name -> reported (downgraded) layer type
_GPKG_TYPE = {
    "POINT": "Point",
    "LINESTRING": "LineString",
    "POLYGON": "Polygon",
    "MULTIPOINT": "MultiPoint",
    "MULTILINESTRING": "MultiLineString",
    "MULTIPOLYGON": "MultiPolygon",
    "GEOMETRYCOLLECTION": "GeometryCollection",
    "CIRCULARSTRING": "LineString",
    "COMPOUNDCURVE": "LineString",
    "CURVE": "LineString",
    "CURVEPOLYGON": "Polygon",
    "SURFACE": "Polygon",
    "MULTICURVE": "MultiLineString",
    "MULTISURFACE": "MultiPolygon",
    "GEOMETRY": "Unknown",
}

_ENVELOPE_LEN = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}


def gpkg_blob_to_wkb(blob: bytes | None) -> bytes | None:
    """GPKG geometry BLOB -> the ISO WKB it wraps."""
    if blob is None:
        return None
    if blob[:2] != b"GP":
        raise ValueError("not a GPKG geometry blob")
    env_ind = (blob[3] >> 1) & 0x07
    return bytes(blob[8 + _ENVELOPE_LEN[env_ind]:])


def list_layers(path: str) -> list[list[str]]:
    """[[layer_name, geometry_type], ...] — curve/surface layers report
    their linear downgrade, matching the reference."""
    con = sqlite3.connect(path)
    try:
        rows = con.execute(
            "SELECT c.table_name, g.geometry_type_name FROM gpkg_contents c "
            "LEFT JOIN gpkg_geometry_columns g ON g.table_name = c.table_name "
            "WHERE c.data_type = 'features'"
        ).fetchall()
    finally:
        con.close()
    return [[t, _GPKG_TYPE.get((g or "").upper(), g)] for t, g in rows]


def _srs_display(con, srs_id) -> str | None:
    """srs_id -> reference-convention CRS string: 'EPSG:<code>' when the
    registry row carries an EPSG organization (or the definition WKT
    identifies), else the definition WKT itself."""
    from pyogrio_spark.crs import display_crs

    if srs_id is None or srs_id <= 0:
        return None
    row = con.execute(
        "SELECT organization, organization_coordsys_id, definition "
        "FROM gpkg_spatial_ref_sys WHERE srs_id = ?",
        (srs_id,),
    ).fetchone()
    if row is None:
        return f"EPSG:{srs_id}"
    org, org_id, definition = row
    if (org or "").upper() == "EPSG" and org_id:
        return f"EPSG:{org_id}"
    disp = display_crs(definition) if definition and definition != "undefined" else None
    return disp or f"EPSG:{srs_id}"


def _spark_type(decl: str) -> str:
    """GPKG declared column type -> the Spark type of its column."""
    if decl in ("TINYINT", "SMALLINT", "MEDIUMINT", "INT", "INTEGER", "BOOLEAN"):
        return "bigint"
    if decl == "FLOAT":
        return "float"
    if decl in ("REAL", "DOUBLE"):
        return "double"
    if decl == "BLOB":
        return "binary"
    return "string"


def _layer_meta(con, path: str, layer: str | None):
    """Registry lookup of one feature layer (default: the first) ->
    (layer, geometry column, geometry type name, srs_id, z flag, primary
    key, [(attribute, declared type), ...])."""
    layers = list_layers(path)
    if not layers:
        raise ValueError(f"no feature layers in {path}")
    if layer is None:
        layer = layers[0][0]
    row = con.execute(
        "SELECT column_name, geometry_type_name, srs_id, z FROM gpkg_geometry_columns WHERE table_name = ?",
        (layer,),
    ).fetchone()
    if row is None:
        raise ValueError(f"{path}: no feature layer {layer!r}")
    gcol, gtype, srs, zflag = row
    tinfo = list(con.execute(f'PRAGMA table_info("{layer}")'))
    pk = next((r[1] for r in tinfo if r[5] == 1), "rowid")
    attrs = [(r[1], (r[2] or "").upper()) for r in tinfo if r[1] not in (pk, gcol)]
    return layer, gcol, gtype, srs, zflag, pk, attrs


def _pk_range(con, layer: str, pk: str) -> tuple[int, int]:
    """Half-open primary-key range of the layer's rows ((0, 0) when empty)."""
    lo, hi = con.execute(f'SELECT min("{pk}"), max("{pk}") FROM "{layer}"').fetchone()
    return (0, 0) if lo is None else (int(lo), int(hi) + 1)


def _decoder(path: str, layer: str, gcol: str, pk: str, attrs):
    """The one GeoPackage decoder: (Spark fields, ``decode``), where
    ``decode((pk_lo, pk_hi, first fid))`` opens the file read-only and
    range-scans that half-open pk window (a rowid B-tree seek, so no
    task touches pages outside its chunk)."""
    from pyogrio_spark.io.reader import chunk_frame

    fields = [(c, _spark_type(d)) for c, d in attrs]
    sel = ", ".join([f'"{pk}"'] + [f'"{c}"' for c, _ in attrs] + [f'"{gcol}"'])

    def decode(chunk) -> pd.DataFrame:
        pk_lo, pk_hi, _ = chunk
        con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
        try:
            rows = con.execute(
                f'SELECT {sel} FROM "{layer}" WHERE "{pk}" >= ? AND "{pk}" < ? ORDER BY "{pk}"',
                (pk_lo, pk_hi),
            ).fetchall()
        finally:
            con.close()
        cols = [list(c) for c in zip(*rows)] or [[] for _ in range(len(fields) + 2)]
        return chunk_frame(cols[0], fields, cols[1:-1], [gpkg_blob_to_wkb(b) for b in cols[-1]])

    return fields, decode


def geopackage_info(path: str, layer: str | None = None) -> dict:
    """read_info fields from the REGISTRY tables only (gpkg_contents
    bounds, gpkg_geometry_columns type/srs, table_info decls) plus an
    sqlite COUNT(*) (B-tree walk, no geometry decode) — the metadata
    cost profile the reference's GPKG driver capabilities advertise
    (fast_feature_count/fast_total_bounds). Dtypes are DECL-derived, so
    nullable integer columns report int64, not post-pandas float64."""
    from pyogrio_spark.io.reader import NUMPY_DTYPE

    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        layer, gcol, gtype, srs, zflag, pk, attrs = _layer_meta(con, path, layer)
        bounds_row = con.execute(
            "SELECT min_x, min_y, max_x, max_y FROM gpkg_contents WHERE table_name = ?",
            (layer,),
        ).fetchone()
        (nrec,) = con.execute(f'SELECT COUNT(*) FROM "{layer}"').fetchone()
        crs = _srs_display(con, srs)
        # layer metadata: GDAL surfaces gpkg_contents identifier/
        # description as IDENTIFIER/DESCRIPTION, plus any gpkg_metadata
        # rows referenced at table scope (reference returns these dicts
        # from read_info; _io.pyx:2391-2397)
        ident_row = con.execute(
            "SELECT identifier, description FROM gpkg_contents WHERE table_name = ?",
            (layer,),
        ).fetchone()
        layer_md: dict = {}
        if ident_row:
            if ident_row[0] and ident_row[0] != layer:
                layer_md["IDENTIFIER"] = ident_row[0]
            if ident_row[1]:
                layer_md["DESCRIPTION"] = ident_row[1]
        dataset_md: dict = {}
        has_md = con.execute(
            "SELECT 1 FROM sqlite_master WHERE type='table' AND name='gpkg_metadata'"
        ).fetchone()
        if has_md:
            import json as _json

            for scope, table_name, md in con.execute(
                "SELECT r.reference_scope, r.table_name, m.metadata "
                "FROM gpkg_metadata_reference r JOIN gpkg_metadata m ON m.id = r.md_file_id"
            ):
                target = dataset_md if scope == "geopackage" else (
                    layer_md if table_name == layer else None
                )
                if target is None:
                    continue
                try:  # JSON rows (our writer's layout) merge as key/value pairs
                    parsed = _json.loads(md)
                except (ValueError, TypeError):
                    parsed = None
                if isinstance(parsed, dict) and all(isinstance(v, str) for v in parsed.values()):
                    target.update(parsed)
                else:
                    target["GPKG_METADATA_ITEM_%d" % len(target)] = md
        has_rtree = con.execute(
            "SELECT 1 FROM sqlite_master WHERE type='table' AND name = ?",
            (f"rtree_{layer}_{gcol}",),
        ).fetchone() is not None
    finally:
        con.close()
    total_bounds = (
        tuple(float(v) for v in bounds_row)
        if bounds_row is not None and all(v is not None for v in bounds_row)
        else None
    )
    return {
        "layer_name": layer,
        "features": int(nrec),
        "fields": [n for n, _ in attrs],
        "dtypes": [NUMPY_DTYPE[_spark_type(d)] for _, d in attrs],
        "total_bounds": total_bounds,
        "geometry_type": _GPKG_TYPE.get((gtype or "").upper(), gtype)
        + (" Z" if zflag == 1 else ""),
        "crs": crs,
        "encoding": "UTF-8",
        "fid_column": pk,
        "geometry_name": gcol,
        "layer_metadata": layer_md or None,
        "dataset_metadata": dataset_md or None,
        "has_spatial_index": has_rtree,
    }


def read_geopackage_pdf(path: str, layer: str | None = None) -> tuple[pd.DataFrame, dict]:
    """One GPKG feature layer through the one decoder -> (pandas frame
    with fid/attrs/geometry_wkb in numpy dtypes, info dict). Defaults to
    the first feature layer."""
    from pyogrio_spark.io.reader import numpy_dtypes

    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        layer, gcol, gtype, srs, _, pk, attrs = _layer_meta(con, path, layer)
        lo, hi = _pk_range(con, layer, pk)
        crs = _srs_display(con, srs)
    finally:
        con.close()
    pdf = numpy_dtypes(_decoder(path, layer, gcol, pk, attrs)[1]((lo, hi, lo)))

    # keep the " Z" suffix: the reference reports e.g. "LineString Z"
    # for 3-D layers (test_core.py:304-310); without one type the
    # declared type stands
    inferred = W.layer_type(map(W.geom_type_name, pdf["geometry_wkb"]))
    if inferred == "Unknown":
        inferred = _GPKG_TYPE.get((gtype or "").upper(), "Unknown")
    info = {
        "layer_name": layer,
        "features": len(pdf),
        "fields": [c for c, _ in attrs],
        "geometry_type": inferred,
        "crs": crs,
        "encoding": "UTF-8",
    }
    return pdf, info


_DTYPE_TO_GPKG = {
    "int8": "TINYINT", "int16": "SMALLINT", "int32": "MEDIUMINT", "int64": "INTEGER",
    "uint8": "TINYINT", "uint16": "SMALLINT", "uint32": "MEDIUMINT", "uint64": "INTEGER",
    "float32": "FLOAT", "float64": "REAL", "bool": "BOOLEAN", "object": "TEXT",
    # pandas' nullable dtypes
    "Int32": "MEDIUMINT", "Int64": "INTEGER", "Float64": "REAL", "boolean": "BOOLEAN",
}


def write_geopackage(
    pdf: pd.DataFrame,
    path: str,
    layer: str = "layer",
    geom_col: str = "geometry_wkb",
    geometry_type: str | None = None,
    srs_id: int | None = None,
    crs=None,
    append: bool = False,
    spatial_index: bool = True,
    layer_metadata: dict | None = None,
    dataset_metadata: dict | None = None,
) -> None:
    """Write a frame with a WKB geometry column as a valid GeoPackage:
    standard registry tables + GP-headered geometry blobs (envelope
    indicator 1, little-endian). The write-side half of the reference's
    round-trip contract — ``read_geopackage_pdf(write_geopackage(df))``
    returns the same rows, and external GPKG readers see a conformant
    file.

    ``crs`` (int EPSG / 'EPSG:<n>' / WKT) is registered in
    ``gpkg_spatial_ref_sys`` and referenced by the layer — the reference
    persists the caller's CRS (_io.pyx:2810-2816). A WKT that doesn't
    identify to an EPSG code registers as a custom SRS (organization
    NONE, srs_id 100000). ``srs_id`` remains as a back-compat alias for
    an EPSG code. With neither, the layer references the spec's
    undefined cartesian SRS (srs_id -1) and reads back with no CRS.

    ``append=True`` INSERTs into the existing layer table (schema must
    match) and widens the gpkg_contents bounds — the reference's
    write_dataframe(append=True) semantics (raw.py:668).

    ``spatial_index=True`` (the GDAL default) writes the standard
    ``gpkg_rtree_index`` extension: an SQLite R*Tree virtual table over
    the feature envelopes, registered in ``gpkg_extensions`` — the
    driver capability behind OLCFastSpatialFilter, which the
    distributed scan uses for bbox byte-range pruning.

    ``layer_metadata`` / ``dataset_metadata`` (str->str dicts, the
    reference's write surface, _io.pyx:2873-2874): IDENTIFIER and
    DESCRIPTION map onto the gpkg_contents columns; remaining pairs are
    stored as one JSON gpkg_metadata row at table/geopackage scope and
    round-trip through ``geopackage_info``."""
    import os as _os

    if append:
        if not _os.path.exists(path):
            raise ValueError(f"append=True but {path} does not exist")
        return _append_geopackage(pdf, path, layer=layer, geom_col=geom_col)
    from pyogrio_spark.crs import crs_to_epsg, crs_to_wkt

    crs = srs_id if crs is None else crs
    if crs is None:
        srs_id, srs_row = -1, ("Undefined cartesian SRS", -1, "NONE", -1, "undefined")
    elif (epsg := crs_to_epsg(crs)) is not None:
        srs_id = epsg
        srs_row = (f"EPSG:{epsg}", epsg, "EPSG", epsg, crs_to_wkt(epsg))
    else:  # unidentifiable WKT: custom SRS entry carrying the definition
        srs_id = 100000
        srs_row = ("custom", 100000, "NONE", 100000, str(crs))
    if geometry_type is None:
        # GPKG requires every feature to match the declared type, so a
        # mix (even Polygon/MultiPolygon) declares GEOMETRY
        seen = {W.geom_type_name(g) for g in pdf[geom_col] if g is not None}
        geometry_type = next(iter(seen)).split(" ")[0].upper() if len(seen) == 1 else "GEOMETRY"
    data_cols = [c for c in pdf.columns if c not in (geom_col, "fid")]
    rows, entries, bounds = _encode_features(pdf, geom_col, data_cols, srs_id, start_fid=1)
    minx, miny, maxx, maxy = bounds if bounds is not None else (0.0, 0.0, 0.0, 0.0)
    cols_sql = ", ".join(f'"{c}" {_DTYPE_TO_GPKG.get(str(pdf[c].dtype), "TEXT")}' for c in data_cols)

    con = sqlite3.connect(path)
    try:
        cur = con.cursor()
        cur.execute("PRAGMA application_id = 0x47504B47")  # 'GPKG'
        cur.execute("PRAGMA user_version = 10300")
        cur.execute(
            "CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY, "
            "organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL, definition TEXT NOT NULL, description TEXT)"
        )
        cur.executemany(
            "INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES (?, ?, ?, ?, ?, NULL)",
            [
                # spec-mandated baseline rows (undefined + WGS84) ...
                ("Undefined cartesian SRS", -1, "NONE", -1, "undefined"),
                ("Undefined geographic SRS", 0, "NONE", 0, "undefined"),
                ("EPSG:4326", 4326, "EPSG", 4326, crs_to_wkt(4326)),
                # ... plus the layer's actual SRS
                srs_row,
            ],
        )
        cur.execute(
            "CREATE TABLE IF NOT EXISTS gpkg_contents (table_name TEXT PRIMARY KEY, data_type TEXT NOT NULL, "
            "identifier TEXT UNIQUE, description TEXT DEFAULT '', last_change DATETIME, "
            "min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)"
        )
        cur.execute(
            "CREATE TABLE IF NOT EXISTS gpkg_geometry_columns (table_name TEXT UNIQUE NOT NULL, "
            "column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL, "
            "z TINYINT NOT NULL, m TINYINT NOT NULL, PRIMARY KEY (table_name, column_name))"
        )
        cur.execute(
            f'CREATE TABLE "{layer}" (fid INTEGER PRIMARY KEY AUTOINCREMENT, "{geom_col}" BLOB'
            + (", " + cols_sql if cols_sql else "")
            + ")"
        )
        cur.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier, min_x, min_y, max_x, max_y, srs_id) "
            "VALUES (?, 'features', ?, ?, ?, ?, ?, ?)",
            (layer, layer, minx, miny, maxx, maxy, srs_id),
        )
        cur.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?, ?, ?, ?, 0, 0)",
            (layer, geom_col, geometry_type, srs_id),
        )
        _insert(cur, layer, geom_col, data_cols, rows)
        if spatial_index:
            _write_rtree(cur, layer, geom_col, entries)
        _write_metadata(cur, layer, layer_metadata, dataset_metadata)
        con.commit()
    finally:
        con.close()


def _sql_value(v):
    """A frame cell -> the value sqlite3 binds (None for a null)."""
    if pd.isna(v):
        return None
    if isinstance(v, (bool, np.bool_)):
        return int(v)
    return v.item() if isinstance(v, np.generic) else v


def _encode_features(pdf: pd.DataFrame, geom_col: str, cols: list[str], srs_id: int, start_fid: int):
    """The one feature encoder of the fresh write and the append, fed by
    one ``W.bounds_many`` pass -> (INSERT rows: the GP blob, then the
    values of ``cols``; R-tree entries (fid from ``start_fid``, minx,
    maxx, miny, maxy) of the non-null geometries; their (minx, miny,
    maxx, maxy), None when there is none). Blob flags 0x03: a
    little-endian header with an xy envelope (indicator 1)."""
    geoms = list(pdf[geom_col])
    env = W.bounds_many(geoms)
    head = b"GP\x00\x03" + struct.pack("<i", srs_id)
    blobs = [None if g is None else head + struct.pack("<4d", x0, x1, y0, y1) + bytes(g)
             for g, (x0, y0, x1, y1) in zip(geoms, env.tolist())]
    values = pdf[cols].itertuples(index=False, name=None) if cols else [()] * len(geoms)
    rows = [(b, *map(_sql_value, vals)) for b, vals in zip(blobs, values)]
    have = np.flatnonzero([g is not None for g in geoms])
    entries = [(start_fid + int(i), *env[i, [0, 2, 1, 3]].tolist()) for i in have]
    if not len(have):
        return rows, entries, None
    # min/max, not nanmin: an empty geometry's NaN envelope carries over
    return rows, entries, (*env[have, :2].min(axis=0).tolist(), *env[have, 2:].max(axis=0).tolist())


def _insert(con, layer: str, gcol: str, cols: list[str], rows) -> None:
    names = "".join(f', "{c}"' for c in cols)
    marks = ", ".join("?" * (1 + len(cols)))
    con.executemany(f'INSERT INTO "{layer}" ("{gcol}"{names}) VALUES ({marks})', rows)


def _write_rtree(cur, layer: str, geom_col: str, entries) -> None:
    """gpkg_rtree_index extension: R*Tree virtual table over feature
    envelopes (ids = fids), registered in gpkg_extensions."""
    rt = f"rtree_{layer}_{geom_col}"
    cur.execute(
        f'CREATE VIRTUAL TABLE IF NOT EXISTS "{rt}" USING rtree(id, minx, maxx, miny, maxy)'
    )
    cur.execute(
        "CREATE TABLE IF NOT EXISTS gpkg_extensions (table_name TEXT, column_name TEXT, "
        "extension_name TEXT NOT NULL, definition TEXT NOT NULL, scope TEXT NOT NULL, "
        "CONSTRAINT ge_tce UNIQUE (table_name, column_name, extension_name))"
    )
    cur.execute(
        "INSERT OR IGNORE INTO gpkg_extensions VALUES (?, ?, 'gpkg_rtree_index', "
        "'http://www.geopackage.org/spec120/#extension_rtree', 'write-only')",
        (layer, geom_col),
    )
    cur.executemany(f'INSERT INTO "{rt}" VALUES (?, ?, ?, ?, ?)', entries)


def _write_metadata(cur, layer: str, layer_metadata, dataset_metadata) -> None:
    import json as _json

    for md in (layer_metadata, dataset_metadata):
        if md is None:
            continue
        for k, v in md.items():
            if not isinstance(k, str) or not isinstance(v, str):
                raise ValueError("metadata must be a dict of strings")
    if layer_metadata:
        layer_metadata = dict(layer_metadata)
        ident = layer_metadata.pop("IDENTIFIER", None)
        desc = layer_metadata.pop("DESCRIPTION", None)
        if ident is not None:
            cur.execute(
                "UPDATE gpkg_contents SET identifier = ? WHERE table_name = ?", (ident, layer)
            )
        if desc is not None:
            cur.execute(
                "UPDATE gpkg_contents SET description = ? WHERE table_name = ?", (desc, layer)
            )
    pairs = [(layer_metadata, "table", layer), (dataset_metadata, "geopackage", None)]
    if not any(md for md, *_ in pairs):
        return
    cur.execute(
        "CREATE TABLE IF NOT EXISTS gpkg_metadata (id INTEGER PRIMARY KEY, md_scope TEXT NOT NULL, "
        "md_standard_uri TEXT NOT NULL, mime_type TEXT NOT NULL, metadata TEXT NOT NULL)"
    )
    cur.execute(
        "CREATE TABLE IF NOT EXISTS gpkg_metadata_reference (reference_scope TEXT NOT NULL, "
        "table_name TEXT, column_name TEXT, row_id_value INTEGER, "
        "timestamp DATETIME DEFAULT CURRENT_TIMESTAMP, md_file_id INTEGER NOT NULL, md_parent_id INTEGER)"
    )
    for md, scope, tname in pairs:
        if not md:
            continue
        cur.execute(
            "INSERT INTO gpkg_metadata (md_scope, md_standard_uri, mime_type, metadata) "
            "VALUES ('dataset', 'http://www.json.org', 'application/json', ?)",
            (_json.dumps(md, sort_keys=True),),
        )
        cur.execute(
            "INSERT INTO gpkg_metadata_reference (reference_scope, table_name, md_file_id) "
            "VALUES (?, ?, last_insert_rowid())",
            (scope, tname),
        )


def _append_geopackage(
    pdf: pd.DataFrame, path: str, layer: str = "layer", geom_col: str = "geometry_wkb"
) -> None:
    """INSERT new features into an existing GPKG layer: the fresh
    write's feature encoder, layer srs_id reused, gpkg_contents bounds
    widened to cover the union."""
    con = sqlite3.connect(path)
    try:
        row = con.execute(
            "SELECT column_name, srs_id FROM gpkg_geometry_columns WHERE table_name = ?",
            (layer,),
        ).fetchone()
        if row is None:
            raise ValueError(f"append=True: layer {layer!r} not found in {path}")
        gcol, srs_id = row
        tinfo = list(con.execute(f'PRAGMA table_info("{layer}")'))
        pk = next((r[1] for r in tinfo if r[5] == 1), tinfo[0][1])
        existing = [r[1] for r in tinfo if r[1] not in (pk, gcol)]
        incoming = [c for c in pdf.columns if c not in (geom_col, "fid")]
        if set(incoming) != set(existing):
            raise ValueError(
                f"append=True: column mismatch — layer has {existing}, frame has {incoming}"
            )
        # one transaction, so the appended fids are the consecutive
        # range after prev_max
        prev_max = con.execute(f'SELECT COALESCE(MAX("{pk}"), 0) FROM "{layer}"').fetchone()[0]
        rows, entries, bounds = _encode_features(pdf, geom_col, existing, srs_id, int(prev_max) + 1)
        _insert(con, layer, gcol, existing, rows)
        # maintain the spatial index when present
        rt = f"rtree_{layer}_{gcol}"
        if con.execute(
            "SELECT 1 FROM sqlite_master WHERE type='table' AND name = ?", (rt,)
        ).fetchone():
            _write_rtree(con.cursor(), layer, gcol, entries)
        if bounds is not None:
            con.execute(
                "UPDATE gpkg_contents SET min_x = min(min_x, ?), min_y = min(min_y, ?), "
                "max_x = max(max_x, ?), max_y = max(max_y, ?) WHERE table_name = ?",
                (*bounds, layer),
            )
        con.commit()
    finally:
        con.close()


def read_geopackage(
    spark, path: str, layer: str | None = None, distributed: bool = False,
    chunk_rows: int = 100_000, **read_table_kwargs,
):
    """GPKG layer -> engine DataFrame (fid, attributes, geometry_wkb),
    composable with every read_table filter. The driver reads only the
    registry tables and the layer's primary-key range and splits it into
    windows of ``chunk_rows``; ``distributed`` places the decode
    (``reader.scan_chunks``): one Spark task per window, or the driver
    (needed when executors cannot see the path). A zero-feature layer
    gives the empty frame with the declared schema.

    Typing comes from the declarations: INTEGER-family columns are
    nullable BIGINT, FLOAT is float, REAL/DOUBLE double, BLOB binary,
    anything else string."""
    from pyogrio_spark.io.reader import chunk_schema, id_runs, scan_chunks, storage_prune_box

    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        layer, gcol, _, _, _, pk, attrs = _layer_meta(con, path, layer)
        lo, hi = _pk_range(con, layer, pk)
        # bbox pushdown to the STORAGE layer: when the file carries the
        # gpkg_rtree_index extension, prune whole pk ranges on the
        # driver from the R-tree (superset of the exact answer — the
        # exact refine still runs on what is read). Same plan shape as
        # the FlatGeobuf leaf-bbox pruning.
        cand_ids = None
        bbox = storage_prune_box(read_table_kwargs)
        rt = f"rtree_{layer}_{gcol}"
        if bbox is not None and con.execute(
            "SELECT 1 FROM sqlite_master WHERE type='table' AND name = ?", (rt,)
        ).fetchone():
            qx0, qy0, qx1, qy1 = bbox
            cand_ids = np.array(
                [r[0] for r in con.execute(
                    f'SELECT id FROM "{rt}" WHERE maxx >= ? AND minx <= ? '
                    "AND maxy >= ? AND miny <= ? ORDER BY id",
                    (qx0, qx1, qy0, qy1),
                )],
                dtype=np.int64,
            )
    finally:
        con.close()

    # chunks are half-open pk windows (pk_lo, pk_hi, first fid = pk_lo);
    # none when the layer is empty or the bbox pruned everything
    if cand_ids is not None:
        chunks = [(int(seg[0]), int(seg[-1]) + 1, int(seg[0])) for seg in id_runs(cand_ids, int(chunk_rows))]
    else:
        chunks = [(start, min(start + int(chunk_rows), hi), start) for start in range(lo, hi, int(chunk_rows))]
    fields, decode = _decoder(path, layer, gcol, pk, attrs)
    return scan_chunks(spark, path, chunks, decode, chunk_schema(fields), unit="pk",
                       distributed=distributed, **read_table_kwargs)
