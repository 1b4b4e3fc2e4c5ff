"""Bulk scan API — the Spark re-expression of ``pyogrio.raw.read``.

Reference contract: /root/reference/pyogrio/raw.py:39-218 and the Cython
scan ``ogr_read`` (/root/reference/pyogrio/_io.pyx:1621-1875). Parameter
semantics preserved:

- ``columns``: exact-name projection, **source order preserved**,
  duplicates dropped (/root/reference/pyogrio/_io.pyx:1741-1763; order
  tested at /root/reference/pyogrio/tests/test_raw_io.py:167-173).
- ``where``: restricted SQL predicate; pyogrio pushes it into the OGR
  driver (/root/reference/pyogrio/_io.pyx:823-859); here Catalyst pushes
  it into the Parquet scan. OGRSQL's operator set is a strict subset of
  Spark SQL, so any valid reference ``where`` runs unchanged.
- ``bbox``: *intersects* semantics (/root/reference/pyogrio/_io.pyx:862-884,
  exactness note core.py:207-212) — coarse envelope-column predicate
  (prunable by Parquet min/max stats) + exact refine for non-point rows.
- ``mask``: arbitrary-geometry intersects (/root/reference/pyogrio/_io.pyx:887-908)
  — coarse covering-cell predicate + exact vectorized refine.
  ``bbox`` and ``mask`` are mutually exclusive (_io.pyx:1682-1683).
- ``fids``: point lookups, exclusive with every other filter
  (/root/reference/pyogrio/_io.pyx:1658-1670).
- ``skip_features``/``max_features``: row range over an explicit
  deterministic ordering — Spark has no source order, so the engine
  defines it as (cell_id, doc_id)/(fid) (SURVEY.md §7 hard part 2).
- ``sql`` then filters: pyogrio applies where/bbox *after* a ``sql``
  result (/root/reference/pyogrio/raw.py:128-135); we preserve that
  composition order (Catalyst may still fuse them — same results).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.geometry.predicates import PreparedPolygon, batch_intersects, batch_intersects_box
from pyogrio_spark.index.cover import cover_table

DEFAULT_RES = 7

GEOMETRY_COL = "geometry_wkb"
BOUNDS_COLS = ("xmin", "ymin", "xmax", "ymax")


def _load(spark: SparkSession, source) -> DataFrame:
    """A DataFrame as is; a committed table (a directory holding
    ``_manifest.json``) through ``read_committed``; else Parquet."""
    if isinstance(source, DataFrame):
        return source
    if os.path.exists(os.path.join(str(source), "_manifest.json")):
        from pyogrio_spark.io.writer import read_committed

        return read_committed(spark, str(source))
    return spark.read.parquet(str(source))


def _order_cols(df: DataFrame) -> list[str]:
    for cand in (["cell_id", "doc_id"], ["doc_id"], ["fid"]):
        if all(c in df.columns for c in cand):
            return cand
    return [df.columns[0]]


def read_table(
    spark: SparkSession,
    source,
    columns: list[str] | None = None,
    read_geometry: bool = True,
    where: str | None = None,
    bbox: tuple[float, float, float, float] | None = None,
    mask: bytes | None = None,
    fids: list | None = None,
    fid_column: str = "doc_id",
    skip_features: int = 0,
    max_features: int | None = None,
    sql: str | None = None,
    sql_dialect: str | None = None,
    layer_name: str | None = None,
    res: int = DEFAULT_RES,
    force_2d: bool = False,
    on_invalid: str = "raise",
) -> DataFrame:
    """Bulk columnar scan with pyogrio's filter semantics (see module doc).

    ``force_2d`` strips Z at read (reference _io.pyx:1012-1013) by
    re-encoding the geometry column (2-D point rows pass through
    untouched); ``on_invalid`` is the raise/warn/ignore/fix policy of
    /root/reference/pyogrio/geopandas.py:273-285 applied during that
    normalization."""
    _check_filters(where, bbox, mask, fids, skip_features, max_features)
    df = _load(spark, source)

    sql_order = None
    if sql is not None:
        from pyogrio_spark.sql_dialect import apply_sql_dialect

        if layer_name is None:
            if isinstance(source, DataFrame):
                layer_name = "layer"
            else:
                stem = os.path.basename(str(source))
                layer_name = stem.split(".", 1)[0] or "layer"
        eff_fid = fid_column if fid_column in df.columns else "fid"
        df, sql_order = apply_sql_dialect(
            spark, df, sql, sql_dialect, layer_name=layer_name,
            geometry_col=GEOMETRY_COL, fid_column=eff_fid,
        )

    # file sources carry the reference's "fid" column; the default
    # fid_column targets the testdata tables' doc_id — fall back so
    # fids=/skip/max work unchanged through every dispatch route
    if fid_column not in df.columns and "fid" in df.columns:
        fid_column = "fid"

    if fids is not None:
        df = df.filter(F.col(fid_column).isin(list(fids)))

    if where:
        df = df.filter(F.expr(where))

    if bbox is not None:
        df = _apply_bbox(df, bbox)

    if mask is not None:
        df = _apply_mask(df, mask, res)

    if skip_features or max_features is not None:
        df = _apply_range(df, skip_features, max_features, order=sql_order)

    if columns is not None:
        # exact-name match, source order, dedup (reference _io.pyx:1741-1763)
        seen: set[str] = set()
        keep = [c for c in df.columns if c in set(columns) and not (c in seen or seen.add(c))]
        extra = ([GEOMETRY_COL] if read_geometry and GEOMETRY_COL in df.columns and GEOMETRY_COL not in keep else [])
        df = df.select(*keep, *extra)
    elif not read_geometry and GEOMETRY_COL in df.columns:
        df = df.drop(GEOMETRY_COL)

    if force_2d and GEOMETRY_COL in df.columns:
        from pyogrio_spark.functions.arrow_stages import normalize_geometry_arrow

        df = normalize_geometry_arrow(df, GEOMETRY_COL, force_2d=True, on_invalid=on_invalid)
    return df


def _check_filters(where=None, bbox=None, mask=None, fids=None, skip_features=0, max_features=None, **_) -> None:
    if bbox is not None and (len(bbox) != 4 or bbox[0] > bbox[2] or bbox[1] > bbox[3]):
        # an inverted box (or one across the antimeridian) would match nothing
        raise ValueError(f"bbox must be (xmin, ymin, xmax, ymax) with xmin <= xmax and ymin <= ymax, got {bbox!r}")
    if bbox is not None and mask is not None:
        # mirror the reference's pyogrio/_io.pyx:1682-1683
        raise ValueError("cannot set both 'bbox' and 'mask'")
    if fids is not None and (where or bbox is not None or mask is not None or skip_features or max_features):
        # mirror the reference's pyogrio/_io.pyx:1658-1670
        raise ValueError("'fids' may not be combined with other filters or ranges")


def scan_chunks(spark: SparkSession, path: str, chunks: list, decode, schema: StructType,
                unit: str = "bytes", distributed: bool = True, **read_table_kwargs) -> DataFrame:
    """The one Spark read of a chunked file format. ``chunks`` are tuples
    whose first three fields are the chunk's range ``lo``, ``hi`` (in
    ``unit``) and its first fid (or None); the whole tuple goes to
    ``decode(chunk) -> pandas frame`` in ``schema`` order. A decode error
    is re-raised as ``FeatureError`` naming the path and the chunk's
    range and first fid.

    ``distributed`` only places the decode. True: one Spark task per
    chunk and no shuffle; the chunk table travels in the task closure and
    ``spark.range(n, numPartitions=n)`` hands each task its index, so the
    plan is ``Range -> MapInPandas`` (the path must be executor-visible).
    False: the driver decodes the same chunks and hands the frame to
    ``createDataFrame`` with the same schema. No chunks give the empty
    frame either way.

    Without ``sql=``, the exact ``bbox``/``mask`` refine runs right after
    each chunk's decode with ``read_table``'s kernels, and ``read_table``
    applies the remaining filters. With ``sql=``, ``read_table`` applies
    everything, bbox after the statement's result as the reference does."""
    from pyogrio_spark.errors import FeatureError

    keep = None
    if read_table_kwargs.get("sql") is None:
        _check_filters(**read_table_kwargs)
        keep = _refine_fn(read_table_kwargs.pop("bbox", None), read_table_kwargs.pop("mask", None))

    def decode_one(chunk) -> pd.DataFrame:
        try:
            pdf = decode(chunk)
        except Exception as exc:  # re-raised with the chunk's location
            fid = "" if chunk[2] is None else f" (first fid {chunk[2]})"
            raise FeatureError(
                f"{path}: cannot decode {unit} [{chunk[0]}, {chunk[1]}){fid}: "
                f"{type(exc).__name__}: {exc}"
            ) from exc
        if keep is not None and len(pdf):
            pdf = pdf[keep(pdf[GEOMETRY_COL].to_numpy())]
        return pdf

    if distributed:
        def scan(batches):
            for batch in batches:
                for i in batch["id"].tolist():
                    yield decode_one(chunks[i])

        n = len(chunks)
        df = spark.range(n, numPartitions=max(n, 1)).mapInPandas(scan, schema=schema)
    else:
        frames = [decode_one(chunk) for chunk in chunks]
        df = spark.createDataFrame(pd.concat(frames, ignore_index=True) if frames else [], schema=schema)
    return read_table(spark, df, **read_table_kwargs)


# Spark type of a decoded attribute -> the numpy dtype name read_info reports
NUMPY_DTYPE = {"bigint": "int64", "float": "float32", "double": "float64", "boolean": "bool",
               "string": "object", "binary": "object"}


_SPARK_TYPES = {"bigint": LongType(), "int": IntegerType(), "float": FloatType(), "double": DoubleType(),
                "boolean": BooleanType(), "string": StringType(), "binary": BinaryType()}


def spark_schema(fields: list[tuple[str, str]]) -> StructType:
    """(name, Spark SQL type name) pairs -> their nullable StructType, built
    in Python: a DDL string would cost each ``mapInPandas`` a JVM parse."""
    def dtype(t: str) -> DataType:
        return ArrayType(dtype(t[6:-1])) if t.startswith("array<") else _SPARK_TYPES[t]

    return StructType([StructField(n, dtype(t)) for n, t in fields])


def chunk_schema(fields: list[tuple[str, str]]) -> StructType:
    """Schema of a chunk decoder's frame: ``fid``, the (name, Spark type)
    attribute ``fields`` in file order, then the geometry."""
    return spark_schema([("fid", "bigint"), *fields, (GEOMETRY_COL, "binary")])


def chunk_frame(fids, fields: list[tuple[str, str]], values: list[list], geoms: list) -> pd.DataFrame:
    """Decoded values (None for null) -> the frame ``chunk_schema(fields)``
    describes: nullable Int64 and boolean, float with NaN, objects for
    strings and binary."""
    out = pd.DataFrame({"fid": np.asarray(fids, dtype=np.int64)})
    for (name, t), vals in zip(fields, values):
        if t == "bigint":
            out[name] = pd.array(vals, dtype="Int64")
        elif t in ("float", "double"):
            out[name] = np.array([np.nan if v is None else v for v in vals], dtype=NUMPY_DTYPE[t])
        elif t == "boolean":
            out[name] = pd.array(vals, dtype="boolean")
        else:
            out[name] = vals
    out[GEOMETRY_COL] = geoms
    return out


def numpy_dtypes(pdf: pd.DataFrame) -> pd.DataFrame:
    """A decoded frame in the ``*_pdf`` readers' numpy dtypes: a nullable
    integer column is int64 when it holds no null, else float64 with
    NaN; a nullable boolean column is bool, else objects with None."""
    for c in pdf.columns:
        s = pdf[c]
        if s.dtype == "Int64":
            pdf[c] = s.astype("int64" if s.notna().all() else "float64")
        elif s.dtype == "boolean":
            pdf[c] = s.astype(bool) if s.notna().all() else [None if v is pd.NA else bool(v) for v in s]
    return pdf


def id_runs(ids: np.ndarray, size: int) -> list[np.ndarray]:
    """Ascending ids -> their runs of consecutive ids, each cut into
    pieces of at most ``size``: the chunks of a scan that reads only
    what a storage index kept."""
    runs = np.split(ids, np.flatnonzero(np.diff(ids) > 1) + 1) if len(ids) else []
    return [run[i : i + size] for run in runs for i in range(0, len(run), size)]


def storage_prune_box(read_table_kwargs: dict):
    """Envelope a file scan may prune storage by (a spatial index) before
    decoding: the bbox, or a mask's envelope — a superset, the exact
    refine still runs on what is read. None with ``sql=``: the bbox then
    applies to the statement's result, not to the source rows."""
    _check_filters(**read_table_kwargs)
    if read_table_kwargs.get("sql") is not None:
        return None
    if read_table_kwargs.get("mask") is not None:
        return W.bounds(bytes(read_table_kwargs["mask"]))
    return read_table_kwargs.get("bbox")


def _refine_fn(bbox, mask):
    """geometry values -> keep flags for the exact bbox or mask refine
    (None when neither is set); validates a mask on the driver."""
    if bbox is not None:
        box = tuple(float(v) for v in bbox)
        return lambda vals: _box_keep(box, vals)
    if mask is not None:
        PreparedPolygon(mask)  # validates polygonal mask early
        return lambda vals: _mask_keep(PreparedPolygon(mask), vals)
    return None


def _box_keep(box, vals) -> np.ndarray:
    xmin, ymin, xmax, ymax = box
    # point fast path: skip the parse for uniform 2-D point batches
    if all(isinstance(b, (bytes, bytearray)) and len(b) == 21 for b in vals):
        lon, lat = W.decode_points(vals, on_invalid="ignore")
        return (lon >= xmin) & (lon <= xmax) & (lat >= ymin) & (lat <= ymax)
    # envelopes decide first: one inside the (closed) box keeps the row,
    # one disjoint from it drops it, and no vertex drops an empty or null
    # row. Only rows whose envelope straddles the box edge (or holds NaN)
    # reach the exact closed-interval intersects, which is
    # boundary-inclusive like GEOS
    flat = W.flat_from_wkb(vals)
    env = W.flat_bounds(flat)
    keep = (env[:, 0] >= xmin) & (env[:, 2] <= xmax) & (env[:, 1] >= ymin) & (env[:, 3] <= ymax)
    disjoint = (env[:, 0] > xmax) | (env[:, 2] < xmin) | (env[:, 1] > ymax) | (env[:, 3] < ymin)
    edge = np.flatnonzero(~keep & ~disjoint & (np.diff(flat.geom_vertex_off()) > 0))
    if len(edge):
        keep[edge] = batch_intersects_box(xmin, ymin, xmax, ymax, [vals[i] for i in edge])
    return keep


def _mask_keep(prep: PreparedPolygon, vals) -> np.ndarray:
    if all(isinstance(b, (bytes, bytearray)) and len(b) == 21 for b in vals):
        lon, lat = W.decode_points(vals, on_invalid="ignore")
        return prep.contains_points(lon, lat)
    # batch kernel: point rows go through the same contains_points
    # ray-cast as the uniform fast path; lines/polygons are refined
    # with whole-batch numpy ops, no per-row Python
    return batch_intersects(prep, vals)


def _coarse_bbox_pred(xmin, ymin, xmax, ymax):
    return (
        (F.col("xmin") <= F.lit(xmax))
        & (F.col("xmax") >= F.lit(xmin))
        & (F.col("ymin") <= F.lit(ymax))
        & (F.col("ymax") >= F.lit(ymin))
    )


def _apply_bbox(df: DataFrame, bbox) -> DataFrame:
    xmin, ymin, xmax, ymax = (float(v) for v in bbox)
    if all(c in df.columns for c in BOUNDS_COLS):
        df = df.filter(_coarse_bbox_pred(xmin, ymin, xmax, ymax))
    if GEOMETRY_COL not in df.columns:
        return df

    @pandas_udf("boolean")
    def _refine(wkb: pd.Series) -> pd.Series:
        return pd.Series(_box_keep((xmin, ymin, xmax, ymax), wkb.to_numpy()))

    return df.filter(_refine(F.col(GEOMETRY_COL)))


def _apply_mask(df: DataFrame, mask_wkb: bytes, res: int) -> DataFrame:
    prep_check = PreparedPolygon(mask_wkb)  # validates polygonal mask early
    mxmin, mymin, mxmax, mymax = prep_check.bbox
    if all(c in df.columns for c in BOUNDS_COLS):
        df = df.filter(_coarse_bbox_pred(mxmin, mymin, mxmax, mymax))
    if "cell_id" in df.columns:
        cells = cover_table([0], [mask_wkb], res)["cell_id"]
        df = df.filter(F.col("cell_id").isin(cells.to_pylist()))

    @pandas_udf("boolean")
    def _refine(wkb: pd.Series) -> pd.Series:
        return pd.Series(_mask_keep(PreparedPolygon(mask_wkb), wkb.to_numpy()))

    if GEOMETRY_COL in df.columns:
        df = df.filter(_refine(F.col(GEOMETRY_COL)))
    return df


def _apply_range(
    df: DataFrame,
    skip: int,
    maxf: int | None,
    order: list[tuple[str, bool]] | None = None,
) -> DataFrame:
    """``order`` overrides the deterministic-key ranking with an
    explicit [(column, ascending), ...] — used by the ``sql=`` path so
    skip/max ranges follow the statement's ORDER BY (reference
    semantics: ranges apply to the SQL result order)."""
    if order:
        order = [(c, asc) for c, asc in order if c in df.columns]
    order_exprs = (
        [F.col(c).asc() if asc else F.col(c).desc() for c, asc in order]
        if order
        else [F.col(c) for c in _order_cols(df)]
    )
    if maxf is not None:
        # sort+offset+limit compiles to one TakeOrderedAndProject(limit =
        # skip + max, offset = skip): per-partition top-(skip + max), then
        # one merge — one job, no full global sort
        return df.sort(*order_exprs).offset(int(skip)).limit(int(maxf))
    # skip only: a distributed global rank. Range-shuffle into ordered
    # partitions and sort each one; monotonically_increasing_id is then
    # (partition index << 33) + the row's rank in its partition. One tiny
    # collect of per-partition counts turns skip into the id of the first
    # kept row. A bare offset(skip) would need the whole result in one
    # partition, so every later stage would run as one task.
    #
    # The ids are assigned per job, so the counts job and the final job
    # must read the same materialized partitions. The local checkpoint
    # holds them for this call only: Spark frees its blocks once the
    # result is no longer referenced, and a lost block fails the job
    # instead of being recomputed with new ids.
    # explicit count: adaptive execution would fold a small frame into one
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parts = (
        df.repartitionByRange(n_parts, *order_exprs)
        .sortWithinPartitions(*order_exprs)
        .withColumn("_skip_id", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    pid = F.shiftright("_skip_id", 33).alias("_pid")
    counts = sorted((r["_pid"], r["count"]) for r in parts.groupBy(pid).count().collect())
    for p, n in counts:
        if skip < n:
            return parts.filter(F.col("_skip_id") >= (p << 33) + skip).drop("_skip_id")
        skip -= n
    return parts.limit(0).drop("_skip_id")


# ------------------------------------------------------------- metadata ops

@dataclass
class LayerInfo:
    """Mirror of pyogrio.read_info output
    (/root/reference/pyogrio/_io.pyx:2308-2405, core.py:241-327)."""

    layer_name: str
    crs: str
    fields: list[str] = field(default_factory=list)
    dtypes: list[str] = field(default_factory=list)
    geometry_type: str | None = None
    geometry_name: str | None = None
    fid_column: str = ""
    features: int = -1
    total_bounds: tuple | None = None
    driver: str = "parquet"
    capabilities: dict = field(default_factory=dict)


def read_info(
    spark: SparkSession,
    source,
    layer_name: str = "layer",
    force_feature_count: bool = False,
    force_total_bounds: bool = False,
    crs: str = "EPSG:4326",
) -> LayerInfo:
    # committed tables carry CRS as a table property
    # (the reference stores CRS per layer, /root/reference/pyogrio/_io.pyx:426-478)
    df = None
    if isinstance(source, str):
        import os as _os

        from pyogrio_spark.io.writer import _read_manifest, read_committed

        if _os.path.exists(_os.path.join(source, "_manifest.json")):
            crs = _read_manifest(source)["properties"].get("crs", crs)
            df = read_committed(spark, source)
    if df is None:
        df = _load(spark, source)
    non_geom = [f for f in df.schema.fields if f.name != GEOMETRY_COL]
    geom_type = None
    if GEOMETRY_COL in df.columns:
        first = df.select(GEOMETRY_COL).filter(F.col(GEOMETRY_COL).isNotNull()).head(1)
        if first:
            geom_type = W.geom_type_name(bytes(first[0][0]))
    info = LayerInfo(
        layer_name=layer_name,
        crs=crs,
        fields=[f.name for f in non_geom],
        dtypes=[f.dataType.simpleString() for f in non_geom],
        geometry_type=geom_type,
        geometry_name=GEOMETRY_COL if GEOMETRY_COL in df.columns else None,
        fid_column="doc_id" if "doc_id" in df.columns else ("fid" if "fid" in df.columns else ""),
        capabilities={
            "fast_feature_count": True,  # parquet footer row counts
            "fast_total_bounds": all(c in df.columns for c in BOUNDS_COLS),
            "fast_spatial_filter": "cell_id" in df.columns,
            "fast_set_next_by_index": False,
        },
    )
    if force_feature_count:
        info.features = df.count()
    if force_total_bounds:
        info.total_bounds = total_bounds(df)
    return info


def total_bounds(df: DataFrame) -> tuple:
    """Extent aggregate (reference ``get_total_bounds``,
    /root/reference/pyogrio/_io.pyx:584-610); min/max over persisted
    envelope columns — satisfied from Parquet column stats when possible."""
    r = df.agg(
        F.min("xmin").alias("xmin"),
        F.min("ymin").alias("ymin"),
        F.max("xmax").alias("xmax"),
        F.max("ymax").alias("ymax"),
    ).head()
    return (r["xmin"], r["ymin"], r["xmax"], r["ymax"])


def read_bounds(
    spark: SparkSession,
    source,
    skip_features: int = 0,
    max_features: int | None = None,
    where: str | None = None,
    bbox=None,
    mask: bytes | None = None,
    fid_column: str = "doc_id",
) -> DataFrame:
    """(fid, xmin, ymin, xmax, ymax) scan without geometry/attributes —
    2-3x cheaper than a full read in the reference
    (/root/reference/pyogrio/core.py:172-238); here it additionally
    column-prunes the parquet scan to 5 columns."""
    df = read_table(
        spark, source, where=where, bbox=bbox, mask=mask,
        skip_features=skip_features, max_features=max_features,
        read_geometry=True,
    )
    if not all(c in df.columns for c in BOUNDS_COLS):
        from pyogrio_spark.functions.geo import bounds_columns

        df = bounds_columns(df)
    return df.select(fid_column, *BOUNDS_COLS)


def list_layers(spark: SparkSession, sources: dict) -> list[tuple[str, str | None]]:
    """(name, geometry_type) per layer (reference ``ogr_list_layers``,
    /root/reference/pyogrio/_io.pyx:2408-2440); sources: name -> path/DataFrame."""
    out = []
    for name, src in sources.items():
        info = read_info(spark, src, layer_name=name)
        out.append((name, info.geometry_type))
    return out
