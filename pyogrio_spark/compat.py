"""pyogrio-shaped facade: the reference's public API surface with the
reference's signatures, backed by the Spark engine.

A pyogrio user switching to this repo can keep their call sites:

    from pyogrio_spark.compat import (
        read_dataframe, write_dataframe, read_info, read_bounds, list_layers)

Signature parity anchors: ``read_dataframe``
/root/reference/pyogrio/geopandas.py:138-161, ``read_info`` +
``read_bounds`` + ``list_layers`` /root/reference/pyogrio/core.py:152-327,
``write_dataframe`` /root/reference/pyogrio/geopandas.py:541-627.

Declared divergences (documented, not silent):
- The geometry column holds **WKB bytes**, not shapely objects — this
  container carries no GEOS. Returned frames are plain pandas; decode
  with ``pyogrio_spark.geometry.wkb`` or wrap with geopandas/shapely
  on your side (``gpd.GeoSeries.from_wkb``).
- ``use_arrow``/``encoding``/``arrow_to_pandas_kwargs`` are accepted
  and ignored: transfer is always Arrow, strings are UTF-8.
- ``sql_dialect=None`` means Spark SQL (not a driver-native dialect);
  ``'OGRSQL'`` routes through the engine's OGRSQL translator and
  ``'SQLITE'``/``'INDIRECT_SQLITE'`` through the Spatialite subset
  (correlated ST_Intersects rewrite) — see pyogrio_spark/sql_dialect.py
  for the exact supported surface.
- These helpers run through a local SparkSession (created lazily, or
  pass ``spark=``) and collect to pandas — they are the reference's
  single-node interchange workflow; corpus-scale work should use
  ``open_table``/``read_table`` and stay distributed.
"""

from __future__ import annotations

import os
import warnings

import numpy as np
import pandas as pd

_SPARK = None


def _spark(spark=None):
    global _SPARK
    if spark is not None:
        return spark
    if _SPARK is None:
        from pyogrio_spark.session import get_spark

        _SPARK = get_spark("pyogrio_compat", master="local[*]", shuffle_partitions=8)
    return _SPARK


def _norm_mask(mask):
    """Accept WKB bytes (engine-native) or a GeoJSON-like dict (the
    reference also takes shapely/GeoJSON, util.py:199-235)."""
    if mask is None or isinstance(mask, (bytes, bytearray)):
        return mask
    if isinstance(mask, dict):
        from pyogrio_spark.io.geojson import _coords_to_geom

        return _coords_to_geom(mask)
    raise TypeError("mask must be WKB bytes or a GeoJSON-like dict")


def read_dataframe(
    path_or_buffer,
    /,
    layer=None,
    encoding=None,
    columns=None,
    read_geometry=True,
    force_2d=False,
    skip_features=0,
    max_features=None,
    where=None,
    bbox=None,
    mask=None,
    fids=None,
    sql=None,
    sql_dialect=None,
    fid_as_index=False,
    use_arrow=None,
    on_invalid="raise",
    spark=None,
    **kwargs,
) -> pd.DataFrame:
    """Reference: read_dataframe (geopandas.py:138-476). Returns pandas
    with a ``geometry`` column of WKB bytes (see module divergences)."""
    from pyogrio_spark.io.dispatch import open_table

    if sql is not None and layer is not None:
        # reference geopandas.py/raw.py exclusivity rule
        raise ValueError("'sql' parameter cannot be combined with 'layer'")
    df = open_table(
        _spark(spark),
        path_or_buffer,
        layer=layer,
        columns=list(columns) if columns is not None else None,
        read_geometry=read_geometry,
        where=where,
        bbox=tuple(bbox) if bbox is not None else None,
        mask=_norm_mask(mask),
        fids=list(fids) if fids is not None else None,
        skip_features=int(skip_features),
        max_features=max_features,
        sql=sql,
        sql_dialect=sql_dialect,
        force_2d=force_2d,
        on_invalid=on_invalid,
    )
    pdf = df.toPandas()
    # List-type fields: Spark array<T> columns arrive as numpy arrays —
    # return plain Python lists like the reference's .geojson read
    # (tests/test_geopandas_io.py:390-509); OFSTJSON-tagged string
    # columns (a list with an interior null degrades to JSON, GDAL
    # behavior) parse back to Python objects like the reference.
    from pyspark.sql.types import ArrayType, StringType

    for f in df.schema.fields:
        if f.name not in pdf.columns:
            continue
        if isinstance(f.dataType, ArrayType):
            pdf[f.name] = pdf[f.name].map(
                lambda v: None if v is None else (v.tolist() if isinstance(v, np.ndarray) else list(v))
            )
        elif (
            isinstance(f.dataType, StringType)
            and f.metadata.get("ogr_subtype") == "OFSTJSON"
        ):
            import json as _json

            pdf[f.name] = pdf[f.name].map(
                lambda v: None if v is None else _json.loads(v)
            )
    if "geometry_wkb" in pdf.columns:
        pdf = pdf.rename(columns={"geometry_wkb": "geometry"})
        pdf["geometry"] = [None if b is None else bytes(b) for b in pdf["geometry"]]
    if fid_as_index and "fid" in pdf.columns:
        pdf = pdf.set_index("fid")
        pdf.index.name = "fid"
    elif "fid" in pdf.columns and not kwargs.get("_keep_fid"):
        # reference read_dataframe exposes fids only via fid_as_index
        # (geopandas.py: read(..., return_fids=fid_as_index)); the raw
        # read() facade asks for them with the internal _keep_fid flag
        pdf = pdf.drop(columns=["fid"])
    # surface the layer CRS the way a frame without a geo accessor can:
    # pandas .attrs (geopandas users re-wrap with gpd.GeoSeries.from_wkb
    # + this value)
    try:
        pdf.attrs["crs"] = _layer_info(path_or_buffer, layer).get("crs")
    except (ValueError, OSError, TypeError):
        pass  # committed tables / non-file sources carry no layer CRS here
    return pdf


def _layer_info(path, layer) -> dict:
    """``dataset_info`` for a read that also opens the layer: the open
    warns of a defaulted layer (OSM), so this lookup does not repeat it."""
    from pyogrio_spark.io.dispatch import dataset_info

    with warnings.catch_warnings():
        warnings.filterwarnings("ignore", "More than one layer found")
        return dataset_info(str(path), layer=layer)


def list_layers(path_or_buffer, /) -> np.ndarray:
    """Reference: list_layers (core.py:152-169) — ndarray [[name, geometry_type], ...]."""
    from pyogrio_spark.io.dispatch import dataset_layers

    return np.array(dataset_layers(str(path_or_buffer)), dtype=object)


def read(path_or_buffer, /, return_fids=False, read_geometry=True, **kwargs):
    """Reference: the raw numpy read API (raw.py:39-218) — returns
    ``(meta, fids, geometry, field_data)``: fids ndarray or None
    (``return_fids``), geometry as an object ndarray of WKB bytes or
    None (``read_geometry=False``), and one ndarray per attribute
    field in source order. Same filter surface as ``read_dataframe``."""
    path = str(path_or_buffer)
    try:
        info = _layer_info(path, kwargs.get("layer"))
    except ValueError:
        # sources without header metadata (committed tables): meta
        # derives from the materialized result below
        info = {"crs": "EPSG:4326", "fields": [], "dtypes": [], "geometry_type": None}
    pdf = read_dataframe(
        path_or_buffer, read_geometry=read_geometry, _keep_fid=True, **kwargs
    )
    if info["geometry_type"] is None:
        from pyogrio_spark.geometry import wkb as _W

        info["geometry_type"] = _W.layer_type(map(_W.geom_type_name, pdf.get("geometry", [])))
    fids = None
    if "fid" in pdf.columns:
        fid_vals = pdf["fid"].to_numpy(dtype=np.int64)
        pdf = pdf.drop(columns=["fid"])
        if return_fids:
            fids = fid_vals
    geometry = None
    if read_geometry and "geometry" in pdf.columns:
        geometry = np.array(
            [None if b is None else bytes(b) for b in pdf["geometry"]], dtype=object
        )
        pdf = pdf.drop(columns=["geometry"])
    fields = list(pdf.columns)
    # a field the header does not declare (OSM layers, tables) takes its
    # frame dtype
    dtype_of = {c: str(pdf[c].dtype) for c in fields} | dict(zip(info["fields"], info["dtypes"]))
    field_data = tuple(pdf[c].to_numpy() for c in fields)
    meta = {
        "crs": info.get("crs"),
        "fields": np.array(fields, dtype=object),
        "dtypes": np.array([dtype_of[c] for c in fields], dtype=object),
        "ogr_types": [_OGR_TYPE.get(dtype_of[c], ("OFTString", "OFSTNone"))[0] for c in fields],
        "ogr_subtypes": [_OGR_TYPE.get(dtype_of[c], ("OFTString", "OFSTNone"))[1] for c in fields],
        "encoding": info.get("encoding", "UTF-8"),
        "geometry_type": info["geometry_type"],
    }
    return meta, fids, geometry, field_data


def write(
    path,
    geometry,
    field_data,
    fields,
    layer=None,
    driver=None,
    geometry_type=None,
    crs=None,
    encoding=None,
    append=False,
    dataset_metadata=None,
    layer_metadata=None,
    metadata=None,
    **kwargs,
) -> None:
    """Reference: the raw numpy write API (raw.py write) — geometry as
    an iterable of WKB bytes, one array per field. Thin shim over
    ``write_dataframe`` (same drivers, crs, append, metadata surface);
    the exact inverse of :func:`read`."""
    if len(fields) != len(field_data):
        raise ValueError("fields and field_data must have the same length")
    pdf = pd.DataFrame({name: np.asarray(col) for name, col in zip(fields, field_data)})
    pdf["geometry"] = [None if g is None else bytes(g) for g in geometry]
    write_dataframe(
        pdf, path, layer=layer, driver=driver, crs=crs, append=append,
        metadata=metadata, layer_metadata=layer_metadata,
        dataset_metadata=dataset_metadata, **kwargs,
    )


_GDAL_URL = "https://gdal.org/en/stable"
# read_info capability keys, in the reference's order
_CAPABILITIES = ("random_read", "fast_set_next_by_index", "fast_spatial_filter",
                 "fast_feature_count", "fast_total_bounds")


def list_drivers(read: bool = False, write: bool = False, append: bool = False) -> dict:
    """Reference: list_drivers (core.py:53-109) — {name: 'raw'|'rw'|'r'|...}
    for the engine's native drivers (the format table in io/dispatch.py);
    ``read=``/``write=``/``append=`` filter like the reference."""
    from pyogrio_spark.io.dispatch import _DRIVERS

    want = "r" * read + "w" * write + "a" * append
    return {name: d.modes for name, (d, _) in _DRIVERS.items() if all(m in d.modes for m in want)}


def list_drivers_details() -> dict:
    """Reference: list_drivers_details (core.py:112-?, _ogr.pyx:293-339)
    — {name: {long_name, read, append, write, supports_vsi,
    help_topic_url, extensions}} with dotted extension lists and GDAL
    doc URLs. ``supports_vsi`` is True for every native driver: the
    engine's dispatch layer resolves zip chains and Hadoop URIs for all
    formats (io/dispatch.py resolve_archive)."""
    from pyogrio_spark.io.dispatch import _DRIVERS

    return {
        name: {
            "long_name": d.long_name,
            "read": "r" in d.modes,
            "append": "a" in d.modes,
            "write": "w" in d.modes,
            "supports_vsi": True,
            "help_topic_url": f"{_GDAL_URL}/drivers/vector/{d.help_slug}.html",
            "extensions": [f".{ext}" for ext in d.extensions],
        }
        for name, (d, _) in _DRIVERS.items()
    }


def detect_write_driver(path) -> str:
    """Reference: detect_write_driver (core.py:112-149) — infer the
    single WRITE-capable driver for a path by its extension (the longest
    in the format table, so .shp.zip before .zip), with the reference's
    exact zero-driver / multiple-driver error semantics."""
    from pyogrio_spark.io.dispatch import _DRIVERS, _match

    ext = _match(path)[0]
    drivers = [name for name, (d, _) in _DRIVERS.items() if "w" in d.modes and ext in d.extensions]
    if len(drivers) == 0:
        raise ValueError(
            f"Could not infer driver from path: {path}; please specify driver "
            "explicitly"
        )
    elif len(drivers) > 1:
        raise ValueError(
            f"Could not infer driver from path: {path}; multiple drivers are "
            f"available for that extension: {', '.join(drivers)}.  Please "
            "specify driver explicitly."
        )
    return drivers[0]


def read_info(
    path_or_buffer,
    /,
    layer=None,
    encoding=None,
    force_feature_count=False,
    force_total_bounds=False,
    spark=None,
    **kwargs,
) -> dict:
    """Reference: read_info (core.py:241-327) — same dict keys, same
    cost profile: metadata comes from format HEADERS (.shp/.dbf
    headers, GPKG registry, FlatGeobuf header), no feature scan and no
    Spark job. Dtypes are derived from the format's declared column
    types (a nullable int64 column reports int64, never the post-pandas
    float64). A layer whose header holds no count (OSM) reports
    features=-1 unless forced, like the reference's driver
    (test_core.py:676-688); forcing counts a scan of it."""
    from pyogrio_spark.io.dispatch import _DRIVERS, dataset_info, open_table

    path = str(path_or_buffer)
    info = dataset_info(path, layer=layer, force_total_bounds=force_total_bounds)
    if force_feature_count and info["features"] < 0:
        info["features"] = open_table(_spark(spark), path, layer=info["layer_name"]).count()
    caps = {c: c in _DRIVERS[info["driver"]][0].capabilities for c in _CAPABILITIES}
    caps["fast_spatial_filter"] = bool(info.get("has_spatial_index"))
    return {
        "layer_name": info["layer_name"],
        "crs": info.get("crs"),
        "encoding": info.get("encoding", "UTF-8"),
        "fields": np.array(info["fields"], dtype=object),
        # a JSON-degraded column is an OFTString/OFSTJSON "object"
        # column, reference FIELD_TYPES (_io.pyx:48-63)
        "dtypes": np.array(
            ["object" if d == "json" else d for d in info["dtypes"]], dtype=object
        ),
        "ogr_types": [_OGR_TYPE.get(d, ("OFTString", "OFSTNone"))[0] for d in info["dtypes"]],
        "ogr_subtypes": [_OGR_TYPE.get(d, ("OFTString", "OFSTNone"))[1] for d in info["dtypes"]],
        # fid_column/geometry_name are ''/'' for formats where the fid /
        # geometry column is not physically stored or nameable
        # (reference test_core.py:560-566); GPKG reports its real names
        "fid_column": info.get("fid_column", ""),
        "geometry_name": info.get("geometry_name", ""),
        "geometry_type": info["geometry_type"],
        "features": info["features"],
        "total_bounds": info["total_bounds"],
        "driver": info["driver"],
        "capabilities": caps,
        "layer_metadata": info.get("layer_metadata"),
        "dataset_metadata": info.get("dataset_metadata"),
    }


def read_bounds(
    path_or_buffer,
    /,
    layer=None,
    skip_features=0,
    max_features=None,
    where=None,
    bbox=None,
    mask=None,
    spark=None,
) -> tuple[np.ndarray, np.ndarray]:
    """Reference: read_bounds (core.py:172-238) — (fids shape (n,),
    bounds shape (4, n))."""
    if max_features is not None and max_features < 0:
        raise ValueError("'max_features' must be >= 0")
    from pyogrio_spark.geometry import wkb as W
    from pyogrio_spark.io.dispatch import dataset_layers, open_table

    path = str(path_or_buffer)
    if layer is None and len(dataset_layers(path)) > 1:
        warnings.warn(
            f"More than one layer found in '{os.path.basename(path)}': using the first.",
            UserWarning,
            stacklevel=2,
        )
    df = open_table(
        _spark(spark), path, layer=layer, where=where,
        bbox=tuple(bbox) if bbox is not None else None, mask=_norm_mask(mask),
        skip_features=int(skip_features), max_features=max_features,
    )
    pdf = df.toPandas()
    fid_col = "fid" if "fid" in pdf.columns else None
    fids = (
        pdf[fid_col].to_numpy(dtype=np.int64)
        if fid_col
        else np.arange(len(pdf), dtype=np.int64)
    )
    bs = W.bounds_many([None if b is None else bytes(b) for b in pdf.geometry_wkb])
    bounds = bs.T if len(bs) else np.empty((4, 0))
    return fids, bounds


_OGR_TYPE = {
    "int64": ("OFTInteger64", "OFSTNone"),
    "int32": ("OFTInteger", "OFSTNone"),
    "float64": ("OFTReal", "OFSTNone"),
    "float32": ("OFTReal", "OFSTFloat32"),
    "bool": ("OFTInteger", "OFSTBoolean"),
    "object": ("OFTString", "OFSTNone"),
    # list dtypes use the reference's spellings (_io.pyx:48-63); a list
    # with an interior null degrades to a JSON string column for
    # .geojson, GDAL behavior (tests/test_geopandas_io.py:432-441)
    "list(int32)": ("OFTIntegerList", "OFSTNone"),
    "list(int64)": ("OFTInteger64List", "OFSTNone"),
    "list(float64)": ("OFTRealList", "OFSTNone"),
    "list(str)": ("OFTStringList", "OFSTNone"),
    "list(bool)": ("OFTIntegerList", "OFSTBoolean"),
    "json": ("OFTString", "OFSTJSON"),
}


def _open_arrow_impl(
    path_or_buffer,
    layer=None,
    encoding=None,
    columns=None,
    read_geometry=True,
    force_2d=False,
    skip_features=0,
    max_features=None,
    where=None,
    bbox=None,
    mask=None,
    fids=None,
    sql=None,
    sql_dialect=None,
    return_fids=False,
    batch_size=65_536,
    use_pyarrow=False,
    spark=None,
    **kwargs,
):
    import pyarrow as pa

    from pyogrio_spark.io.dispatch import open_table

    path = str(path_or_buffer)
    info = _layer_info(path, layer)
    df = open_table(
        _spark(spark),
        path,
        layer=layer,
        columns=list(columns) if columns is not None else None,
        read_geometry=read_geometry,
        where=where,
        bbox=tuple(bbox) if bbox is not None else None,
        mask=_norm_mask(mask),
        fids=list(fids) if fids is not None else None,
        skip_features=int(skip_features),
        max_features=max_features,
        sql=sql,
        sql_dialect=sql_dialect,
        force_2d=force_2d,
    )
    if not return_fids and "fid" in df.columns:
        df = df.drop("fid")
    # combine first: Spark yields one chunk per partition and
    # to_batches(max_chunksize) only ever splits, never merges
    table = df.toArrow().combine_chunks()
    if "geometry_wkb" in table.column_names:
        # reference parity: ogr_open_arrow annotates the geometry field
        # as geoarrow.wkb with PROJJSON crs metadata for GDAL >= 3.8
        # (_io.pyx:2145-2151, tests/test_arrow.py:290-296)
        import json as _json

        from pyogrio_spark.crs import crs_to_projjson

        ext_meta: dict = {}
        pj = crs_to_projjson(info.get("crs"))
        if pj is not None:
            ext_meta["crs"] = pj
        gi = table.schema.get_field_index("geometry_wkb")
        fld = table.schema.field(gi).with_metadata(
            {
                b"ARROW:extension:name": b"geoarrow.wkb",
                b"ARROW:extension:metadata": _json.dumps(ext_meta).encode(),
            }
        )
        table = table.cast(table.schema.set(gi, fld))
    batches = table.to_batches(max_chunksize=max(1, int(batch_size)))
    if not batches:  # zero rows: a single empty batch keeps the schema
        batches = [pa.RecordBatch.from_pylist([], schema=table.schema)]
    reader = pa.RecordBatchReader.from_batches(table.schema, iter(batches))
    meta = {
        "crs": info.get("crs"),
        "fields": np.array(info["fields"], dtype=object),
        "dtypes": np.array(info["dtypes"], dtype=object),
        "ogr_types": [_OGR_TYPE.get(d, ("OFTString", "OFSTNone"))[0] for d in info["dtypes"]],
        "ogr_subtypes": [_OGR_TYPE.get(d, ("OFTString", "OFSTNone"))[1] for d in info["dtypes"]],
        "encoding": info.get("encoding", "UTF-8"),
        "geometry_type": info["geometry_type"],
        "geometry_name": "geometry_wkb" if read_geometry else "",
        "fid_column": "fid" if return_fids else "",
    }
    return meta, reader


class _ArrowSource:
    """Context manager mirroring the reference's ``ogr_open_arrow``
    yield shape: ``with open_arrow(p) as (meta, reader)``. A pyarrow
    RecordBatchReader implements the Arrow PyCapsule stream protocol
    (``__arrow_c_stream__``), so it serves both the default and the
    ``use_pyarrow=True`` contract."""

    def __init__(self, meta, reader):
        self._pair = (meta, reader)

    def __enter__(self):
        return self._pair

    def __exit__(self, *exc):
        self._pair[1].close()
        return False


def open_arrow(path_or_buffer, /, **kwargs):
    """Reference: open_arrow (raw.py:350-470) — context manager yielding
    ``(meta, reader)`` where reader is a pyarrow RecordBatchReader
    streaming record batches of at most ``batch_size`` features.

    Divergence (module docstring): batches are produced from the engine
    result via Arrow transfer on the driver — this is the reference's
    single-node interchange workflow; corpus-scale work should stay in
    ``open_table``."""
    meta, reader = _open_arrow_impl(path_or_buffer, **kwargs)
    return _ArrowSource(meta, reader)


def read_arrow(path_or_buffer, /, **kwargs):
    """Reference: read_arrow (raw.py:221-347) — ``(meta, pyarrow.Table)``.
    ``skip_features``/``max_features`` slice exactly like the reference
    (they push into the engine scan, the same semantics GDAL >= 3.8
    applies in-driver)."""
    if kwargs.get("skip_features", 0) < 0:
        raise ValueError("'skip_features' must be >= 0")
    max_features = kwargs.get("max_features")
    if max_features is not None and max_features < 0:
        raise ValueError("'max_features' must be >= 0")
    if max_features is not None:
        kwargs.setdefault("batch_size", 65_536)
        kwargs["batch_size"] = min(kwargs["batch_size"], max(1, int(max_features)))
    with open_arrow(path_or_buffer, **kwargs) as (meta, reader):
        table = reader.read_all()
    return meta, table


# arrow extension names the reference recognizes as WKB geometry
# (raw.py write_arrow geometry inference; _io.pyx ogr_write_arrow)
_WKB_EXTENSION_NAMES = (b"geoarrow.wkb", b"ogc.wkb")
# fallback geometry column names for un-annotated streams (the shape
# this engine's own read_arrow produces: meta["geometry_name"] =
# "geometry_wkb"; the reference's GDAL default is "wkb_geometry")
_GEOMETRY_NAME_FALLBACKS = ("geometry_wkb", "wkb_geometry", "geometry")


def write_arrow(
    arrow_obj,
    path,
    layer=None,
    driver=None,
    geometry_name=None,
    geometry_type=None,
    crs=None,
    encoding=None,
    append=False,
    dataset_metadata=None,
    layer_metadata=None,
    metadata=None,
    **kwargs,
):
    """Reference: write_arrow (raw.py:755-897) — write any Arrow
    PyCapsule stream object (``__arrow_c_stream__``: pyarrow Table,
    RecordBatchReader, polars frame, ...) to a vector format.

    Parity points with the reference: non-Arrow input raises the same
    ValueError; ``promote_to_multi`` is rejected; ``geometry_name``
    without ``geometry_type`` raises; a missing ``crs`` warns. Geometry
    inference: a column annotated ``geoarrow.wkb``/``ogc.wkb`` wins,
    else the engine's own interchange names (``geometry_wkb`` /
    ``wkb_geometry`` / ``geometry``). Routes through
    :func:`write_dataframe`, so driver support, append capability, CRS
    persistence, and metadata validation are shared with it."""
    import pyarrow as pa

    if not hasattr(arrow_obj, "__arrow_c_stream__"):
        raise ValueError(
            "The provided data is not recognized as Arrow data. The object "
            "should implement the Arrow PyCapsule Protocol (i.e. have a "
            "'__arrow_c_stream__' method)."
        )
    if "promote_to_multi" in kwargs:
        raise ValueError(
            "The 'promote_to_multi' option is not supported when writing using Arrow"
        )
    if geometry_name is not None and geometry_type is None:
        raise ValueError("'geometry_type' keyword is required")
    if geometry_name is not None and crs is None:
        warnings.warn(
            "'crs' was not provided.  The output dataset will not have "
            "projection information defined and may not be usable in other "
            "systems.",
            stacklevel=2,
        )

    table = pa.table(arrow_obj)
    geom_col = geometry_name
    if geom_col is None:
        for field in table.schema:
            md = field.metadata or {}
            if md.get(b"ARROW:extension:name") in _WKB_EXTENSION_NAMES:
                geom_col = field.name
                break
    if geom_col is None:
        for cand in _GEOMETRY_NAME_FALLBACKS:
            if cand in table.schema.names:
                geom_col = cand
                break
    if geom_col is None or geom_col not in table.schema.names:
        raise ValueError(
            f"geometry column {geom_col!r} not found in the Arrow data; "
            "pass 'geometry_name' explicitly"
        )
    pdf = table.to_pandas()
    pdf[geom_col] = [None if g is None else bytes(g) for g in pdf[geom_col]]
    write_dataframe(
        pdf,
        path,
        layer=layer,
        driver=driver,
        encoding=encoding,
        geometry_column=geom_col,
        crs=crs,
        append=append,
        metadata=metadata,
        layer_metadata=layer_metadata,
        dataset_metadata=dataset_metadata,
        **kwargs,
    )


def write_dataframe(
    df: pd.DataFrame,
    path,
    /,
    layer=None,
    driver=None,
    encoding=None,
    geometry_column: str = "geometry",
    crs=None,
    append: bool = False,
    metadata=None,
    layer_metadata=None,
    dataset_metadata=None,
    **kwargs,
) -> None:
    """Reference: write_dataframe (geopandas.py:541-627). ``df`` is
    pandas with WKB bytes in ``geometry`` (or ``geometry_wkb``);
    format from ``driver`` or the path extension. ``crs`` (int EPSG /
    'EPSG:<n>' / WKT) is persisted per format — .prj, GPKG srs
    registry, FlatGeobuf Crs table, GeoJSON 'crs' member; with none,
    the file reads back with no CRS (GeoJSON: WGS84 by definition).
    ``append=True`` adds features to an existing dataset
    (raw.py:668); FlatGeobuf refuses, matching the reference driver's
    missing append capability. Zip archives are read but not written. ``metadata``/``layer_metadata``/
    ``dataset_metadata`` follow the reference's validation
    (raw.py:490-505) and persist for GPKG (the reference's
    metadata-bearing driver)."""
    from pyogrio_spark.io.dispatch import _ARCHIVES, _DRIVERS
    from pyogrio_spark.uri import vsimem_to_local

    if metadata is not None:
        if layer_metadata is not None:
            raise ValueError("Cannot pass both metadata and layer_metadata")
        layer_metadata = metadata
    # the in-memory namespace (reference /vsimem/ writes, core.py:380+)
    # is backed by the engine's local vsimem root; others pass through
    path = vsimem_to_local(str(path))
    pdf = df.copy()
    if geometry_column in pdf.columns and geometry_column != "geometry_wkb":
        pdf = pdf.rename(columns={geometry_column: "geometry_wkb"})
    if "geometry_wkb" not in pdf.columns:
        raise ValueError(f"no geometry column {geometry_column!r} in frame")
    if path.lower().endswith(_ARCHIVES):
        raise ValueError(f"{path}: zip archives are read, not written; write the dataset and zip it")
    if driver is None:
        drv, fmt = _DRIVERS[detect_write_driver(path)]
    else:
        drv, fmt = next(((d, f) for d, f in _DRIVERS.values() if driver.lower() in (d.name.lower(), f.name)),
                        (None, None))
        if drv is None or "w" not in drv.modes:
            raise ValueError(f"cannot write {path!r} with driver={driver!r}")
    if append and "a" not in drv.modes:
        raise ValueError(f"append is not supported for {drv.name} (reference driver parity)")
    if not fmt.list_fields:
        # List-type fields round-trip via GeoJSON (OGR list types) and
        # parquet only; the binary formats here have no list field type
        # (DBF/GPKG SQL/FGB scalar columns) — refuse with direction
        # rather than stringify silently.
        for c in pdf.columns:
            if c != "geometry_wkb" and any(isinstance(v, (list, tuple, np.ndarray)) for v in pdf[c]):
                raise ValueError(
                    f"list-type field {c!r} is not supported by this driver; "
                    "write to GeoJSON (.geojson/.geojsonl) or parquet instead"
                )
    fmt.write(pdf, path, drv.name, layer, crs, append, layer_metadata, dataset_metadata, **kwargs)
