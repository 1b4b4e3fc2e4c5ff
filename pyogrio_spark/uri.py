"""URI scheme handling: the reference's ``vsi_path`` surface
(/root/reference/pyogrio/util.py:55-175, tested by tests/test_path.py)
plus the engine-side mapping of the same schemes onto Hadoop-FS storage
URIs.

Two audiences, two functions:

* ``vsi_path(path)`` — byte-for-byte the reference's GDAL /vsi*/
  normalization (``zip+s3://bucket/a.zip!f.shp`` ->
  ``/vsizip/vsis3/bucket/a.zip/f.shp``), so code ported from pyogrio
  that builds or compares VSI strings keeps working. POSIX semantics
  only — the reference's win32 drive-letter branch is platform
  plumbing this engine doesn't run on (documented divergence).
* ``storage_path(path)`` — the Spark-first half: the same URI grammar
  resolved to what the engine's readers actually consume: a local
  filesystem path (``file://`` stripped), a Hadoop-FS URI
  (``s3://`` -> ``s3a://``, ``gs``/``az``/``hdfs`` passed to the
  matching connector scheme), or a (local-archive, member) pair for
  ``zip://...!member`` chains. Remote *archive* chains raise — a
  100 TB engine reads splittable storage directly; download-and-unzip
  is an ingest step, not a scan.
"""

from __future__ import annotations

from pathlib import Path
from urllib.parse import urlparse

# zip-containers GDAL drivers open directly, without a /vsizip/ prefix
# (reference _ogr.pyx:9)
MULTI_EXTENSIONS = (".gpkg.zip", ".shp.zip")

# supported URI schemes -> GDAL VSI component (reference util.py:94-111)
SCHEMES = {
    "file": "file",
    "zip": "zip",
    "tar": "tar",
    "gzip": "gzip",
    "http": "curl",
    "https": "curl",
    "ftp": "curl",
    "s3": "s3",
    "gs": "gs",
    "az": "az",
    "adls": "adls",
    "adl": "adls",  # fsspec spelling
    "hdfs": "hdfs",
    "webhdfs": "webhdfs",
}

CURLSCHEMES = {k for k, v in SCHEMES.items() if v == "curl"}

# engine mapping: URI scheme -> Hadoop-FS connector scheme
_HADOOP_SCHEMES = {
    "s3": "s3a",       # hadoop-aws connector
    "gs": "gs",        # GCS connector
    "az": "wasbs",     # Azure blob connector
    "adls": "abfss",   # ADLS gen2 connector
    "adl": "abfss",
    "hdfs": "hdfs",
    "webhdfs": "webhdfs",
    "http": "https",   # via whatever http FS is configured
    "https": "https",
    "ftp": "ftp",
}


def _parse_uri(path: str) -> tuple[str, str, str]:
    """-> (path, archive, scheme); unsupported schemes pass through as
    a raw path with empty archive/scheme (reference util.py:116-148)."""
    parts = urlparse(path, allow_fragments=False)
    if parts.scheme and not all(p in SCHEMES for p in parts.scheme.split("+")):
        return path, "", ""
    p = parts.path
    scheme = parts.scheme or ""
    if parts.query:
        p += "?" + parts.query
    if parts.scheme and parts.netloc:
        p = parts.netloc + p
    pieces = p.split("!")
    p = pieces.pop() if pieces else ""
    archive = pieces.pop() if pieces else ""
    return p, archive, scheme


def _construct_vsi_path(path: str, archive: str, scheme: str) -> str:
    """Parsed parts -> /vsi*/ chain (reference util.py:150-175)."""
    schemes = scheme.split("+")
    if "zip" not in schemes and (
        archive.endswith(".zip")
        or (path.endswith(".zip") and not path.endswith(MULTI_EXTENSIONS))
    ):
        schemes.insert(0, "zip")
    prefix = "/".join(f"vsi{SCHEMES[p]}" for p in schemes if p and p != "file")
    suffix = f"{schemes[-1]}://" if prefix and schemes[-1] in CURLSCHEMES else ""
    if not prefix:
        return path
    if archive:
        return "/{}/{}{}/{}".format(prefix, suffix, archive, path.lstrip("/"))
    return f"/{prefix}/{suffix}{path}"


def vsi_path(path: str | Path) -> str:
    """Local path or URI -> GDAL-compatible VSI path (reference
    util.py:55-91 semantics; POSIX platforms)."""
    if isinstance(path, Path):
        path = str(path)
    if path.startswith("/vsi"):
        return path
    path, archive, scheme = _parse_uri(path)
    if scheme or archive or (
        path.endswith(".zip") and not path.endswith(MULTI_EXTENSIONS)
    ):
        return _construct_vsi_path(path, archive, scheme)
    return path


def get_vsi_path_or_buffer(path_or_buffer):
    """bytes / file-like read() / Path / str -> bytes or VSI path
    (reference util.py:13-52)."""
    if isinstance(path_or_buffer, Path):
        return vsi_path(path_or_buffer)
    if isinstance(path_or_buffer, bytes):
        return path_or_buffer
    if hasattr(path_or_buffer, "read"):
        data = path_or_buffer.read()
        if hasattr(path_or_buffer, "seekable") and path_or_buffer.seekable():
            path_or_buffer.seek(0)
        return data
    return vsi_path(str(path_or_buffer))


def storage_path(path: str | Path) -> tuple[str, str | None]:
    """URI -> ``(engine_path, archive_member)``: what ``open_table``
    should actually read.

    * plain local paths and ``file://`` URIs -> local path, no member;
    * ``zip://local.zip!member`` (and bare ``x.zip``) -> the local
      archive path with the requested member (``None`` = auto-detect),
      for the dispatch layer's archive resolution;
    * remote schemes -> the Hadoop-FS URI for the configured connector
      (``s3://b/k`` -> ``s3a://b/k``) — handed to ``spark.read`` so
      executors fetch the bytes, never the driver;
    * remote ARCHIVE chains (``zip+s3://...``) raise: unsplittable
      download-and-extract is ingest, not a distributed scan.
    """
    if isinstance(path, Path):
        path = str(path)
    raw = path
    p, archive, scheme = _parse_uri(path)
    schemes = [s for s in scheme.split("+") if s] if scheme else []
    archive_schemes = [s for s in schemes if s in ("zip", "tar", "gzip")]
    remote = [s for s in schemes if s in _HADOOP_SCHEMES]
    bang_member: str | None = None
    if archive:
        bang_member = p or None
        p, archive = archive, ""
    if not schemes and "!" in raw and raw.split("!")[0].endswith(".zip"):
        p, bang_member = raw.split("!", 1)
    if remote:
        if archive_schemes or p.endswith(".zip") and not p.endswith(MULTI_EXTENSIONS):
            raise ValueError(
                f"{raw}: remote archive chains are not a distributed scan; "
                "stage the archive to local/cluster storage first"
            )
        hs = _HADOOP_SCHEMES[remote[-1]]
        return f"{hs}://{p}" if remote[-1] not in CURLSCHEMES else raw, None
    if archive_schemes and archive_schemes != ["zip"]:
        raise ValueError(f"{raw}: only zip archives are supported by this engine")
    return p, bang_member


# ------------------------------------------------------------- /vsimem/
#
# The reference exposes GDAL's in-memory filesystem at /vsimem/ paths
# (write fixtures, scratch datasets). The engine maps that namespace to
# one process-local temp directory, so every facade entry point accepts
# /vsimem/... uniformly; vsi_listtree/vsi_rmtree/vsi_unlink in compat.py
# operate on the same root.

_VSIMEM_ROOT: str | None = None


def process_temp_dir(prefix: str, dir: str | None = None) -> str:
    """A new temp directory (mode 0700, under ``dir`` or the system temp
    dir) that is removed when this interpreter exits. Only the creating
    process removes it: a forked child inherits the exit hook, and its
    exit must not delete the parent's files."""
    import atexit
    import os
    import shutil
    import tempfile

    path, owner = tempfile.mkdtemp(prefix=prefix, dir=dir), os.getpid()

    def _remove() -> None:
        if os.getpid() == owner:
            shutil.rmtree(path, ignore_errors=True)

    atexit.register(_remove)
    return path


def vsimem_root() -> str:
    """Lazily-created local root backing the /vsimem/ namespace; like
    GDAL's in-memory filesystem, it ends with the process."""
    global _VSIMEM_ROOT
    if _VSIMEM_ROOT is None or not __import__("os").path.isdir(_VSIMEM_ROOT):
        _VSIMEM_ROOT = process_temp_dir("pyogrio_spark_vsimem_")
    return _VSIMEM_ROOT


def vsimem_to_local(path: str) -> str:
    """/vsimem/x/y -> <root>/x/y (parent dirs created — GDAL's vsimem
    creates intermediate directories implicitly); other paths pass
    through unchanged."""
    import os

    p = str(path)
    if not p.startswith("/vsimem/"):
        return p
    local = os.path.join(vsimem_root(), p[len("/vsimem/"):])
    os.makedirs(os.path.dirname(local), exist_ok=True)
    return local
