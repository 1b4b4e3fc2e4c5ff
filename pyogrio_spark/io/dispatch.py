"""Format dispatch: one pyogrio-style entry point over every source.

The reference opens every dataset through GDAL's driver registry
(/root/reference/pyogrio/_ogr.pyx:256-290). The engine's analogue is
one format table, ``_FORMATS``: a record per format with its GDAL
driver(s), their extensions, access modes and capabilities, and the
format's read, info, layers and write functions. Every routing answer
is a lookup in it — ``detect_format``, ``open_table``, ``dataset_info``,
``dataset_layers``, ``convert_dataset`` here, and the facade's
``list_drivers``, ``detect_write_driver``, ``read_info`` and
``write_dataframe`` — so a format's facts live in one place. Paths
with no table extension are Parquet directories or committed tables,
and every route composes with the full ``read_table`` filter surface
(columns/where/bbox/mask/fids/skip/max/force_2d/on_invalid).
"""

from __future__ import annotations

import importlib
import os
from typing import Callable, NamedTuple

from pyogrio_spark.errors import check_dataset_path

# extracted-archive cache: one temp dir per (path, mtime) so repeated
# opens of the same archive don't re-extract
_ZIP_CACHE: dict[tuple[str, float], str] = {}


def _extracted_root(path: str) -> str:
    """Extract the archive once per (path, mtime) into a temp dir that
    lives until the process exits. zipfile's extract sanitizes member
    names (no zip-slip)."""
    import zipfile

    from pyogrio_spark.uri import process_temp_dir

    key = (os.path.abspath(path), os.path.getmtime(path))
    root = _ZIP_CACHE.get(key)
    if root is None or not os.path.isdir(root):
        root = process_temp_dir("pyogrio_spark_zip_")
        with zipfile.ZipFile(path) as z:
            z.extractall(root)
        _ZIP_CACHE[key] = root
    return root


def _unzip_member(path: str, want_exts: tuple[str, ...]) -> str:
    """Extract a zipped dataset (reference: .shp.zip/.shz/.gpkg.zip and
    the /vsizip/ chain, /root/reference/pyogrio/util.py:94-175) and
    return the single member matching ``want_exts``."""
    hits = []
    for dirpath, _, files in os.walk(_extracted_root(path)):
        hits.extend(
            os.path.join(dirpath, f) for f in files if f.lower().endswith(want_exts)
        )
    if len(hits) != 1:
        raise ValueError(
            f"{path}: expected exactly one {'/'.join(want_exts)} member, found {len(hits)}"
        )
    return hits[0]


def _unzip_named_member(path: str, member: str) -> str:
    """Extract the archive and return the explicitly-requested member
    (the ``zip://a.zip!inner.shp`` chain); reuses the per-archive cache."""
    hit = os.path.join(_extracted_root(path), member.lstrip("/"))
    if not os.path.exists(hit):
        raise ValueError(f"{path}: archive has no member {member!r}")
    return hit


def resolve_uri(path: str) -> str:
    """URI grammar (pyogrio_spark.uri grammar: file://, zip://...!member,
    remote schemes) -> the path the format codecs read. Plain local
    paths pass through untouched; remote schemes map to the Hadoop-FS
    connector URI (consumed by the parquet/table reader)."""
    p = str(path)
    if p.startswith("/vsimem/"):
        from pyogrio_spark.uri import vsimem_to_local

        return vsimem_to_local(p)
    if "://" not in p and "!" not in p:
        return p
    from pyogrio_spark.uri import storage_path

    local, member = storage_path(p)
    if member is not None:
        check_dataset_path(local)  # reference missing-file semantics pre-extract
        return _unzip_named_member(local, member)
    return local


# archive dataset variants; a bare .zip holds one dataset of any of
# ``_ZIP_MEMBERS``
_ARCHIVES = (".zip", ".shz")
_ZIP_MEMBERS = (".shp", ".gpkg", ".geojson", ".fgb")


def resolve_archive(path: str) -> str:
    """Zip-archive dataset variants -> path of the extracted dataset: the
    member with the first extension of the archive's format (.shz and
    .shp.zip hold a .shp, .gpkg.zip a .gpkg); non-archive paths pass
    through unchanged."""
    if not str(path).lower().endswith(_ARCHIVES):
        return str(path)
    fmt = _match(path)[1]
    return _unzip_member(str(path), (f".{fmt.drivers[0].extensions[0]}",) if fmt else _ZIP_MEMBERS)


class _Driver(NamedTuple):
    """One GDAL driver's registry facts (reference _ogr.pyx:293-339):
    access modes in the reference's "r"+"a"+"w" order ("a" is what
    ``write_dataframe(append=True)`` supports), the GDAL DMD_EXTENSIONS,
    and the read_info capabilities every file of the driver has
    (``fast_spatial_filter`` is per file: the info's
    ``has_spatial_index``)."""

    name: str
    long_name: str
    help_slug: str  # the GDAL doc page drivers/vector/<slug>.html
    modes: str
    extensions: tuple[str, ...]
    capabilities: tuple[str, ...] = ()


class _Format(NamedTuple):
    """One format: ``name`` is ``detect_format``'s answer and ``drivers``
    its GDAL drivers, the first the default. ``read(spark, path, layer,
    distributed, **read_table_kwargs)`` opens it; ``info(path, layer,
    force_total_bounds)`` reads its header metadata; ``layers(path)``
    lists [[name, geometry type], ...], None for a single-layer format
    (the info's one layer); ``write(pdf, path, driver, layer, crs,
    append, layer_metadata, dataset_metadata, **kwargs)`` and
    ``write_distributed(df, path, crs=)`` write it. ``unread``: advertised
    extensions the codec cannot read; ``list_fields``: whether it has
    list-type fields."""

    name: str
    drivers: tuple[_Driver, ...]
    read: Callable
    info: Callable | None = None
    layers: Callable | None = None
    write: Callable | None = None
    write_distributed: Callable | None = None
    unread: tuple[str, ...] = ()
    list_fields: bool = False


def _io(module: str):
    """``pyogrio_spark.io.<module>``, imported on first use, so the table
    names every codec without importing them all."""
    return importlib.import_module(f"pyogrio_spark.io.{module}")


_FAST = ("random_read", "fast_set_next_by_index", "fast_feature_count", "fast_total_bounds")

# the one place a format's facts live: every routing function below and
# the facade's driver listing, read_info and write_dataframe read it
_FORMATS = {f.name: f for f in (
    _Format(
        "shapefile",
        (_Driver("ESRI Shapefile", "ESRI Shapefile", "shapefile", "raw", ("shp", "dbf", "shz", "shp.zip"), _FAST),),
        read=lambda spark, path, layer, distributed, **kw: _io("shapefile").read_shapefile(
            spark, path, distributed=distributed, **kw),
        info=lambda path, layer, force_total_bounds: _io("shapefile").shapefile_info(path),
        write=lambda pdf, path, driver, layer, crs, append, *_, **__: _io("shapefile").write_shapefile(
            pdf, path, crs=crs, append=append),
        write_distributed=lambda df, path, crs: _io("shapefile").write_shapefile_distributed(df, path, crs=crs),
    ),
    _Format(
        "geopackage",
        (_Driver("GPKG", "GeoPackage", "gpkg", "raw", ("gpkg", "gpkg.zip"), _FAST),),
        read=lambda spark, path, layer, distributed, **kw: _io("geopackage").read_geopackage(
            spark, path, layer=layer, distributed=distributed, **kw),
        info=lambda path, layer, force_total_bounds: _io("geopackage").geopackage_info(path, layer=layer),
        layers=lambda path: _io("geopackage").list_layers(path),
        write=lambda pdf, path, driver, layer, crs, append, layer_md, dataset_md, **kw: _io(
            "geopackage").write_geopackage(pdf, path, layer=layer or "layer", crs=crs, append=append,
                                           layer_metadata=layer_md, dataset_metadata=dataset_md, **kw),
    ),
    _Format(
        "geojson",
        (_Driver("GeoJSON", "GeoJSON", "geojson", "raw", ("json", "geojson"), ("random_read",)),
         _Driver("GeoJSONSeq", "GeoJSON Sequence", "geojsonseq", "raw", ("geojsonl", "geojsons"))),
        read=lambda spark, path, layer, distributed, **kw: _io("geojson").read_geojson(
            spark, path, distributed=distributed, **kw),
        info=lambda path, layer, force_total_bounds: _io("geojson").geojson_info(
            path, force_total_bounds=force_total_bounds),
        write=lambda pdf, path, driver, layer, crs, append, *_, **__: _io("geojson").write_geojson(
            pdf, path, crs=crs, append=append, seq=driver == "GeoJSONSeq"),
        write_distributed=lambda df, path, crs: _io("geojson").write_geojson_distributed(df, path, crs=crs),
        list_fields=True,
    ),
    _Format(
        "flatgeobuf",
        (_Driver("FlatGeobuf", "FlatGeobuf", "flatgeobuf", "rw", ("fgb",),
                 ("random_read", "fast_feature_count", "fast_total_bounds")),),
        read=lambda spark, path, layer, distributed, **kw: _io("flatgeobuf").read_flatgeobuf(
            spark, path, distributed=distributed, **kw),
        info=lambda path, layer, force_total_bounds: _io("flatgeobuf").flatgeobuf_info(path),
        write=lambda pdf, path, driver, layer, crs, append, *_, **kw: _io("flatgeobuf").write_flatgeobuf(
            pdf, path, layer_name=layer, crs=crs, **kw),
        write_distributed=lambda df, path, crs: _io("flatgeobuf").write_flatgeobuf_distributed(df, path, crs=crs),
    ),
    # always distributed: one decode task per PBF blob; OSM XML is not read
    _Format(
        "osm",
        (_Driver("OSM", "OpenStreetMap XML and PBF", "osm", "r", ("osm", "pbf")),),
        read=lambda spark, path, layer, distributed, **kw: _io("osm_pbf").read_osm(spark, path, layer=layer, **kw),
        info=lambda path, layer, force_total_bounds: _io("osm_pbf").osm_info(path, layer=layer),
        layers=lambda path: _io("osm_pbf").list_layers(path),
        unread=("osm",),
    ),
    # no extension: a Parquet directory or a committed snapshot table
    _Format("table", (), read=lambda spark, path, layer, distributed, **kw: _io("reader").read_table(
        spark, path, **kw)),
)}
_DRIVERS = {d.name: (d, f) for f in _FORMATS.values() for d in f.drivers}
# extension -> format, longest first: "shp.zip" before any shorter match
_BY_EXT = dict(sorted(((e, f) for f in _FORMATS.values() for d in f.drivers for e in d.extensions),
                      key=lambda p: -len(p[0])))


def _match(path: str) -> tuple[str | None, _Format | None]:
    low = str(path).lower()
    return next(((e, f) for e, f in _BY_EXT.items() if low.endswith("." + e)), (None, None))


def detect_format(path: str) -> str:
    """The format that reads ``path``: the one its longest table
    extension names (an archive is extracted and its member decides),
    else ``table`` (a Parquet directory or committed snapshot table). An
    advertised extension the codec cannot read raises, naming it."""
    if str(path).lower().endswith(_ARCHIVES):
        return detect_format(resolve_archive(path))
    ext, fmt = _match(path)
    if fmt is None:
        return "table"
    if ext in fmt.unread:
        readable = ", ".join(f"'.{e}'" for d in fmt.drivers for e in d.extensions if e not in fmt.unread)
        raise ValueError(f"{path}: the {fmt.drivers[0].name} reader cannot read '.{ext}' files, only {readable}")
    return fmt.name


def _open(path) -> tuple[str, _Format]:
    """URI grammar first (file:// / zip://...!member / remote schemes),
    then existence: a missing path raises the reference's
    DataSourceError('...No such file or directory') whatever its
    extension, not a format-detection ValueError (reference
    errors.check_dataset_path semantics); then archive extraction and
    the format's record."""
    path = resolve_uri(str(path))
    check_dataset_path(path)
    path = resolve_archive(path)
    return path, _FORMATS[detect_format(path)]


def open_table(
    spark, path, layer: str | None = None, distributed: bool = False, **read_table_kwargs
):
    """Any supported source -> engine DataFrame with read_table filters.
    Zip-archive variants (.shp.zip/.shz/.gpkg.zip/.zip) extract to a
    cached temp dir first; a committed table reads its current snapshot.

    Shapefile, GeoPackage, FlatGeobuf and GeoJSON each have one chunk
    decoder (shapefile .shx record ranges, GeoPackage pk ranges,
    FlatGeobuf R-tree leaves, GeoJSONSeq line-aligned byte ranges, a
    FeatureCollection as one chunk); ``distributed`` chooses where it
    runs, not which decoder: one Spark task per chunk (the file must be
    executor-visible), or the driver (the default; needed for archives
    extracted on the driver). Both give the same schema and rows. OSM is
    always distributed."""
    fmt = _FORMATS["table"]
    if isinstance(path, (str, os.PathLike)):
        path, fmt = _open(path)
    if read_table_kwargs.get("sql") is not None and (layer is not None or isinstance(path, str)):
        # sql= statements reference the layer by name (reference
        # semantics: file stem / dataset layer name), not the engine's
        # internal view name — thread it through to the dialect layer
        stem = str(layer) if layer is not None else os.path.basename(path).split(".", 1)[0]
        read_table_kwargs.setdefault("layer_name", stem)
    return fmt.read(spark, path, layer, distributed, **read_table_kwargs)


def dataset_info(path: str, layer=None, force_total_bounds: bool = False) -> dict:
    """Header-only metadata for any file-based source (the read_info
    backend): .shp/.dbf headers, GPKG registry tables, the FlatGeobuf
    header, the OSM layer's declared type — no feature scan. GeoJSON
    FeatureCollections are one JSON document (parsed by definition);
    GeoJSONSeq reports total_bounds None unless forced, like the
    reference."""
    path, fmt = _open(path)
    if fmt.info is None:
        raise ValueError(f"dataset_info needs a file-based source, got {path}")
    info = fmt.info(path, layer, force_total_bounds)
    info.setdefault("driver", fmt.drivers[0].name)
    info["format"] = fmt.name
    return info


def dataset_layers(path: str) -> list[list[str]]:
    """[[layer_name, geometry_type], ...] for file-based sources; a
    single-layer format's one layer comes from its header info."""
    resolved, fmt = _open(path)
    if fmt.layers is not None:
        return fmt.layers(resolved)
    info = dataset_info(path)
    return [[info["layer_name"], info["geometry_type"]]]


def convert_dataset(
    spark,
    src: str,
    dst: str,
    layer: str | None = None,
    crs=None,
    distributed: bool = True,
    **read_table_kwargs,
):
    """ogr2ogr-style conversion: read any supported source, write any
    supported sink, composing the scan-side filter surface
    (columns/where/bbox/mask/fids/skip/max) with format codecs.

    ``distributed=True`` keeps BOTH halves on executors where the
    formats allow it: the source's one chunk decoder runs one task per
    chunk (``distributed`` chooses where that decoder runs, not which
    one), feeding a distributed single-file sink (Shapefile, FlatGeobuf
    and GeoJSON: part encode per partition plus driver byte stitch), so
    the conversion never materializes the dataset on the driver. A
    file source into a shapefile, unindexed FlatGeobuf or GeoJSON sink
    is ONE Spark job with one task per scan chunk and no shuffle: each
    task decodes its chunk, applies the exact bbox/mask refine (without
    ``sql=``), the ``where`` filter and the projection, and encodes its
    part file. A GeoPackage sink (single-writer SQLite) uses the
    driver-side codec with a toPandas boundary, same as the reference's
    single-process write.

    ``crs=None`` carries the source CRS through (the ogr2ogr default);
    pass a crs to override.
    """
    if crs is None:
        try:
            crs = dataset_info(src, layer=layer).get("crs")
        except (ValueError, OSError, KeyError):
            crs = None
    df = open_table(spark, src, layer=layer, distributed=distributed, **read_table_kwargs)
    sink = _FORMATS[detect_format(dst)].write_distributed if distributed else None
    if sink is not None:
        sink(df.drop("fid"), dst, crs=crs)
    else:
        from pyogrio_spark.compat import write_dataframe

        pdf = df.toPandas()
        if "fid" in pdf.columns:
            pdf = pdf.drop(columns=["fid"])
        write_dataframe(pdf, dst, layer=layer, geometry_column="geometry_wkb", crs=crs)
    return dataset_info(dst)
