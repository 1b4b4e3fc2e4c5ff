"""pyogrio_spark — a PySpark-native bulk vector I/O + spatial join engine.

A from-scratch re-expression of the query semantics of pyogrio
(reference: /root/reference, pyogrio 0.13.0) on Spark DataFrames:

- bulk columnar scans with column projection, attribute ``where``
  predicates, spatial bbox/mask filters, FID lookup and row ranges
  (reference contract: pyogrio/raw.py:39-218, pyogrio/_io.pyx:1621-1875)
- geometry carried as WKB ``binary`` columns, decoded in vectorized
  batches (reference: pyogrio/_io.pyx:977-1025 process_geometry)
- a hierarchical grid cell index (H3/S2 stand-in, pure integer math so
  cell assignment runs JVM-side inside whole-stage codegen)
- spatial operators pyogrio users get from geopandas/shapely on one
  node, rebuilt for a cluster: point-in-polygon join, kNN join, range
  join, zonal stats, tile assignment — with explicit partitioning,
  hot-cell salting and checkpoint/lineage.

Nothing here binds GDAL; storage is Parquet (Iceberg-shaped commit
protocol in pyogrio_spark.io.writer).
"""

__version__ = "0.1.0"

from pyogrio_spark.session import get_spark  # noqa: F401
from pyogrio_spark.io.dispatch import (  # noqa: F401
    convert_dataset,
    dataset_info,
    dataset_layers,
    detect_format,
    open_table,
)
from pyogrio_spark.io.reader import read_bounds, read_info, read_table  # noqa: F401
from pyogrio_spark.io.writer import read_committed, write_table  # noqa: F401

# pyogrio-shaped facade at the package root (the names that don't
# collide with the engine-native API above; compat module carries the
# full set incl. its read_info/read_bounds, which here are the
# engine-native spark-first versions)
from pyogrio_spark.compat import (  # noqa: F401
    detect_write_driver,
    list_drivers,
    list_drivers_details,
    list_layers,
    open_arrow,
    read_arrow,
    read_dataframe,
    write_arrow,
    write_dataframe,
)
from pyogrio_spark.runtime import (  # noqa: F401
    __gdal_geos_version__,
    __gdal_version__,
    __gdal_version_string__,
    get_gdal_config_option,
    get_gdal_data_path,
    set_gdal_config_options,
    vsi_curl_clear_cache,
    vsi_listtree,
    vsi_rmtree,
    vsi_unlink,
)
