"""Error hierarchy matching the reference's public ``pyogrio.errors``
(/root/reference/pyogrio/errors.py) so ported ``except`` clauses keep
working: same class names, same RuntimeError base, same
CRS/Feature/Geometry/Field-under-DataLayer nesting."""


class DataSourceError(RuntimeError):
    """Opening or closing a dataset failed (bad path, unreadable or
    unrecognized container)."""


class DataLayerError(RuntimeError):
    """Working with a single layer failed."""


class CRSError(DataLayerError):
    """Getting or setting CRS values failed."""


class FeatureError(DataLayerError):
    """Reading or writing a feature failed."""


class GeometryError(DataLayerError):
    """Getting or setting a geometry field failed."""


class FieldError(DataLayerError):
    """Getting or setting a non-geometry field failed."""


def check_dataset_path(path: str) -> None:
    """Raise ``DataSourceError`` for a local path that does not exist,
    with the same message shape GDAL surfaces through the reference
    (its tests match "No such file or directory"). Remote/Hadoop URIs
    (anything with a scheme) pass through — their filesystem layer
    reports its own failures at scan time, on the executors that can
    actually reach it."""
    import os

    p = str(path)
    if "://" in p or os.path.exists(p):
        return
    raise DataSourceError(f"Failed to open dataset: {p}: No such file or directory")
