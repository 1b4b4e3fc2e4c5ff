"""Format dispatch: one pyogrio-style entry point over every source.

The reference's ``read_dataframe``/``read_info``/``list_layers`` accept
any path and let the driver registry pick the format
(/root/reference/pyogrio/raw.py:39-50). The engine's analogue routes by
extension to the native sources (Shapefile, GeoPackage, GeoJSON) or to
the Parquet/committed-table reader, and every route composes with the
full ``read_table`` filter surface (columns/where/bbox/mask/fids/
skip/max/force_2d/on_invalid).
"""

from __future__ import annotations

import os

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
        _check_exists(local)  # reference missing-file semantics pre-extract
        return _unzip_named_member(local, member)
    return local


def resolve_archive(path: str) -> str:
    """Zip-archive dataset variants -> path of the extracted dataset;
    non-archive paths pass through unchanged."""
    low = str(path).lower()
    if low.endswith((".shp.zip", ".shz")):
        return _unzip_member(str(path), (".shp",))
    if low.endswith(".gpkg.zip"):
        return _unzip_member(str(path), (".gpkg",))
    if low.endswith(".zip"):
        return _unzip_member(str(path), (".shp", ".gpkg", ".geojson", ".fgb"))
    return str(path)


def detect_format(path: str) -> str:
    low = str(path).lower()
    if low.endswith((".shp.zip", ".shz", ".zip")):
        return detect_format(resolve_archive(path))
    if low.endswith(".shp"):
        return "shapefile"
    if low.endswith(".gpkg"):
        return "geopackage"
    if low.endswith((".geojson", ".geojsonl", ".geojsons", ".json")):
        return "geojson"
    if low.endswith(".fgb"):
        return "flatgeobuf"
    if low.endswith((".osm.pbf", ".pbf")):
        return "osm"
    return "table"  # parquet directory or committed snapshot table


def open_table(
    spark, path, layer: str | None = None, distributed: bool = False, **read_table_kwargs
):
    """Any supported source -> engine DataFrame with read_table filters.
    Zip-archive variants (.shp.zip/.shz/.gpkg.zip/.zip) extract to a
    cached temp dir first.

    Shapefile, GeoPackage, FlatGeobuf and GeoJSON each have one chunk
    decoder (shapefile .shx record ranges, GeoPackage pk ranges,
    FlatGeobuf R-tree leaves, GeoJSONSeq line-aligned byte ranges, a
    FeatureCollection as one chunk); ``distributed`` chooses where it
    runs, not which decoder: one Spark task per chunk (the file must be
    executor-visible), or the driver (the default; needed for archives
    extracted on the driver). Both give the same schema and rows. OSM is
    always distributed."""
    if isinstance(path, (str, os.PathLike)):
        # URI grammar first (file:// / zip://...!member / remote
        # schemes), then existence: a missing path must surface the
        # reference's DataSourceError('...No such file or directory')
        # regardless of extension, not a format-detection ValueError
        # (round-5 ADVICE; reference errors.check_dataset_path semantics)
        path = resolve_uri(str(path))
        _check_exists(str(path))
        path = resolve_archive(str(path))
        fmt = detect_format(path)
    else:
        fmt = "table"
    if read_table_kwargs.get("sql") is not None and "layer_name" not in read_table_kwargs:
        # sql= statements reference the layer by name (reference
        # semantics: file stem / dataset layer name), not the engine's
        # internal view name — thread it through to the dialect layer
        if layer is not None:
            read_table_kwargs["layer_name"] = str(layer)
        elif isinstance(path, (str, os.PathLike)):
            read_table_kwargs["layer_name"] = os.path.basename(str(path)).split(".", 1)[0]
    if fmt == "shapefile":
        from pyogrio_spark.io.shapefile import read_shapefile

        return read_shapefile(spark, str(path), distributed=distributed, **read_table_kwargs)
    if fmt == "geopackage":
        from pyogrio_spark.io.geopackage import read_geopackage

        return read_geopackage(spark, str(path), layer=layer, distributed=distributed, **read_table_kwargs)
    if fmt == "flatgeobuf":
        from pyogrio_spark.io.flatgeobuf import read_flatgeobuf

        return read_flatgeobuf(spark, str(path), distributed=distributed, **read_table_kwargs)
    if fmt == "geojson":
        from pyogrio_spark.io.geojson import read_geojson

        return read_geojson(spark, str(path), distributed=distributed, **read_table_kwargs)
    if fmt == "osm":
        from pyogrio_spark.io.osm_pbf import read_osm

        return read_osm(spark, str(path), layer=layer, **read_table_kwargs)
    from pyogrio_spark.io.reader import read_table

    return read_table(spark, path, **read_table_kwargs)


def _check_exists(path: str) -> None:
    """Reference open semantics (tests/test_core.py:750): missing local
    paths raise DataSourceError; see errors.check_dataset_path."""
    from pyogrio_spark.errors import check_dataset_path

    check_dataset_path(path)


# reference (GDAL) driver names, as read_info/list_drivers report them
DRIVER_NAMES = {
    "shapefile": "ESRI Shapefile",
    "geopackage": "GPKG",
    "geojson": "GeoJSON",
    "geojsonseq": "GeoJSONSeq",
    "flatgeobuf": "FlatGeobuf",
    "osm": "OSM",
}


def dataset_info(path: str, layer=None, force_total_bounds: bool = False) -> dict:
    """Header-only metadata for any file-based source (the read_info
    backend): .shp/.dbf headers, GPKG registry tables, the FlatGeobuf
    header — no feature scan. GeoJSON FeatureCollections are one JSON
    document (parsed by definition); GeoJSONSeq reports total_bounds
    None unless forced, like the reference."""
    path = resolve_uri(path)
    _check_exists(path)  # before format detection: missing-file semantics
    path = resolve_archive(path)
    fmt = detect_format(path)
    if fmt == "shapefile":
        from pyogrio_spark.io.shapefile import shapefile_info

        info = shapefile_info(path)
    elif fmt == "geopackage":
        from pyogrio_spark.io.geopackage import geopackage_info

        info = geopackage_info(path, layer=layer)
    elif fmt == "flatgeobuf":
        from pyogrio_spark.io.flatgeobuf import flatgeobuf_info

        info = flatgeobuf_info(path)
    elif fmt == "geojson":
        from pyogrio_spark.io.geojson import geojson_info, holds_seq

        info = geojson_info(path, force_total_bounds=force_total_bounds)
        if holds_seq(path):
            fmt = "geojsonseq"
    else:
        raise ValueError(f"dataset_info needs a file-based source, got {path}")
    info["driver"] = DRIVER_NAMES[fmt]
    info["format"] = fmt
    return info


def dataset_layers(path: str) -> list[list[str]]:
    """[[layer_name, geometry_type], ...] for file-based sources."""
    path = resolve_uri(path)
    _check_exists(path)  # before format detection: missing-file semantics
    path = resolve_archive(path)
    fmt = detect_format(path)
    if fmt == "geopackage":
        from pyogrio_spark.io.geopackage import list_layers as gpkg_layers

        return gpkg_layers(path)
    if fmt == "shapefile":
        from pyogrio_spark.io.shapefile import shapefile_info

        info = shapefile_info(path)
        return [[info["layer_name"], info["geometry_type"]]]
    if fmt == "flatgeobuf":
        from pyogrio_spark.io.flatgeobuf import list_layers as fgb_layers

        return fgb_layers(path)
    if fmt == "osm":
        from pyogrio_spark.io.osm_pbf import list_layers as osm_layers

        return osm_layers(path)
    if fmt == "geojson":
        from pyogrio_spark.io.geojson import list_layers as geojson_layers

        return geojson_layers(path)
    raise ValueError(f"dataset_layers needs a file-based source, got {path}")


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
    from pyogrio_spark.io.flatgeobuf import write_flatgeobuf_distributed
    from pyogrio_spark.io.geojson import write_geojson_distributed
    from pyogrio_spark.io.shapefile import write_shapefile_distributed

    if crs is None:
        try:
            crs = dataset_info(src, layer=layer).get("crs")
        except (ValueError, OSError, KeyError):
            crs = None
    df = open_table(spark, src, layer=layer, distributed=distributed, **read_table_kwargs)
    sinks = {"flatgeobuf": write_flatgeobuf_distributed, "geojson": write_geojson_distributed,
             "shapefile": write_shapefile_distributed}
    sink = sinks.get(detect_format(dst)) if distributed else None
    if sink is not None:
        sink(df.drop("fid"), dst, crs=crs)
    else:
        from pyogrio_spark.compat import write_dataframe

        pdf = df.toPandas()
        if "fid" in pdf.columns:
            pdf = pdf.drop(columns=["fid"])
        write_dataframe(pdf, dst, layer=layer, geometry_column="geometry_wkb", crs=crs)
    return dataset_info(dst)
