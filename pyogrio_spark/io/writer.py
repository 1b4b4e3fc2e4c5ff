"""Committed table writes — Iceberg-shaped snapshot protocol over Parquet.

The reference wraps bulk writes in a driver transaction
(/root/reference/pyogrio/_io.pyx:3059-3061, 3226-3227: start_transaction /
commit_transaction around the feature loop). The cluster-scale analogue is
an atomic snapshot commit: data files land under ``data/<snapshot>/`` and
become visible only when the root ``_manifest.json`` is atomically swapped
to reference them. Readers resolve the manifest first, so a killed writer
leaves no torn table. If a real Iceberg catalog is present this module is
replaced by ``df.writeTo(tbl)`` — the API is kept 1:1 (SURVEY.md §7 hard
part 7).

Concurrent writers serialize on an O_EXCL lock file around the
manifest read-modify-write; snapshot ids carry a pid+nonce so data
dirs never collide.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@contextlib.contextmanager
def _manifest_lock(path: str, timeout: float = 30.0):
    """O_EXCL lock file around the read-manifest/commit critical section:
    two concurrent writers would otherwise both read the old manifest and
    the later os.replace would silently drop the earlier snapshot (lost
    update). Only the manifest update is held under the lock — data files
    are written before acquiring it."""
    lock_p = os.path.join(path, "_manifest.lock")
    deadline = time.monotonic() + timeout
    while True:
        try:
            fd = os.open(lock_p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.monotonic() >= deadline:
                raise TimeoutError(f"could not acquire manifest lock at {lock_p} within {timeout}s")
            time.sleep(0.05)
    try:
        yield
    finally:
        os.close(fd)
        with contextlib.suppress(FileNotFoundError):
            os.unlink(lock_p)


def _manifest_path(path: str) -> str:
    return os.path.join(path, "_manifest.json")


def _read_manifest(path: str) -> dict:
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return {"snapshots": [], "current": None, "properties": {}}
    with open(mp) as f:
        return json.load(f)


def _atomic_write_manifest(path: str, manifest: dict) -> None:
    mp = _manifest_path(path)
    tmp = mp + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, mp)  # atomic on POSIX — the "commit"


class SnapshotConflict(RuntimeError):
    """Another writer committed between an optimistic reader's snapshot
    read and its commit; the caller must re-read and retry."""


def _parquet_row_count(data_dir: str) -> int:
    """Row count of a written snapshot dir from parquet footers only —
    no Spark job, no data pages read (footer metadata carries per-file
    num_rows). Recurses for partitioned layouts."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(data_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
    return total


def _row_group_bytes(df: DataFrame) -> int:
    """Parquet row-group size for writing ``df``: Spark's own read-split
    size, ``min(maxPartitionBytes, max(openCostInBytes, estimate //
    defaultParallelism))``, over the optimizer's size estimate of the
    plan. Every read split of the written table then holds at least one
    row group, so a small table scans on every core; a big one (or a
    plan whose estimate overflows) keeps Parquet's 128 MB default."""
    spark = df.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    estimate = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    per_core = estimate // spark.sparkContext.defaultParallelism
    return min(conf.filesMaxPartitionBytes(), max(conf.filesOpenCostInBytes(), per_core))


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    properties: dict | None = None,
    expected_current_id: str | None = None,
) -> str:
    """Write ``df`` as a new committed snapshot; returns the snapshot id.

    mode='append' adds to the visible set (reference append path,
    /root/reference/pyogrio/_io.pyx:2743-2762); mode='overwrite' replaces
    it (create/overwrite path, _io.pyx:2676-2741). Data is fully written
    before the manifest swap, so failure at any point leaves the previous
    snapshot intact.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(path, exist_ok=True)

    # expensive data write happens OUTSIDE the lock under a unique dir;
    # the id mixes in pid+monotonic nonce so two concurrent writers with
    # identical content never collide on a data dir. The row count for
    # the manifest comes from the written files' parquet footers (a
    # driver-side metadata walk) — the old ``df.count()`` before the
    # write executed the full input plan a second time, doubling the
    # cost of every COW MERGE/DELETE rewrite (guide §1.2: don't compute
    # things you throw away).
    schema_json = df.schema.json()
    nonce = f"{os.getpid()}:{time.monotonic_ns()}"
    snap_id = hashlib.sha256(f"{nonce}:{schema_json}:{mode}".encode()).hexdigest()[:16]
    data_dir = os.path.join(path, "data", snap_id)

    writer = df.write.mode("overwrite").option("parquet.block.size", _row_group_bytes(df))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)
    count = _parquet_row_count(data_dir)

    # read-modify-write of the manifest is the critical section
    with _manifest_lock(path):
        manifest = _read_manifest(path)
        if expected_current_id is not None:
            # optimistic concurrency (Iceberg-style validate-and-swap):
            # a rewrite computed from snapshot X must not clobber a
            # commit that landed after X was read — without this check
            # a concurrent append would silently vanish under an
            # overwrite produced by compaction
            cur_id = manifest["current"]["id"] if manifest["current"] else None
            if cur_id != expected_current_id:
                raise SnapshotConflict(
                    f"table advanced from {expected_current_id} to {cur_id} "
                    "since the rewrite's snapshot was read"
                )
        seq = len(manifest["snapshots"])
        parents = [] if mode == "overwrite" else list(manifest["current"]["data_dirs"]) if manifest["current"] else []
        entry = {
            "id": snap_id,
            "sequence": seq,
            "operation": mode,
            "row_count": count,
            "schema": json.loads(schema_json),
            "data_dirs": parents + [os.path.join("data", snap_id)],
            "partition_by": partition_by or [],
        }
        manifest["snapshots"].append({k: entry[k] for k in ("id", "sequence", "operation", "row_count")})
        manifest["current"] = entry
        manifest["properties"].update(properties or {})
        _atomic_write_manifest(path, manifest)
    return snap_id


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) by join keys —
    the co-located-join primitive: two tables bucketed on ``cell_id``
    with the same bucket count hash-join with ZERO exchanges (the scan
    itself delivers the join partitioning), which is how repeated
    spatial joins over a 100-TB corpus amortize their shuffle to one
    write. Read back with ``spark.table(table_name)``."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table_name)


def read_committed(spark: SparkSession, path: str, snapshot: str | None = None) -> DataFrame:
    """Read the current (or a named) committed snapshot — time travel over
    the manifest, the reader half of the transaction contract."""
    manifest = _read_manifest(path)
    entry = manifest["current"]
    if snapshot is not None:
        if entry and entry["id"] == snapshot:
            pass
        else:
            raise KeyError(f"snapshot {snapshot} is not the current snapshot; only current is materialized")
    if entry is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    return _read_snapshot(spark, path, entry)


def _read_snapshot(spark: SparkSession, path: str, entry: dict) -> DataFrame:
    """A manifest entry's data, read with the schema it stores: no
    schema-inference job, and older files read a later column as null."""
    dirs = [os.path.join(path, d) for d in entry["data_dirs"]]
    return spark.read.schema(StructType.fromJson(entry["schema"])).parquet(*dirs)


def current_snapshot(path: str) -> dict | None:
    return _read_manifest(path)["current"]


def _dir_file_stats(spark: SparkSession, dirs: list[str]) -> tuple[int, int]:
    """(parquet file count, total bytes) across ``dirs`` via the Hadoop
    FileSystem API — correct for HDFS/object-store paths, not just
    local disk (the surface a 100 TB table actually lives on)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    n_files, n_bytes = 0, 0
    for d in dirs:
        p = jvm.org.apache.hadoop.fs.Path(d)
        fs = p.getFileSystem(conf)
        if not fs.exists(p):
            continue
        it = fs.listFiles(p, True)
        while it.hasNext():
            f = it.next()
            if f.getPath().getName().endswith(".parquet"):
                n_files += 1
                n_bytes += f.getLen()
    return n_files, n_bytes


def compact_table(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    sort_by: list[str] | None = None,
) -> dict:
    """Small-files compaction as a snapshot operation: rewrite the
    current snapshot's data into ``ceil(total_bytes / target_bytes)``
    files and commit the result as a new overwrite snapshot. The swap
    is atomic (same manifest protocol as every write), so readers see
    either the fragmented or the compacted table, never a mix — and a
    killed compaction leaves the table untouched.

    An append-heavy ingest (streaming micro-batches, per-trigger
    files) degrades scan parallelism bookkeeping and NameNode/listing
    cost as file count grows; periodic compaction is standard table
    maintenance at scale. ``sort_by`` additionally range-clusters rows
    (e.g. ``["cell_id"]``) so parquet min/max stats prune compacted
    files for selective scans.

    The commit validates that the table has not advanced past the
    snapshot the rewrite was computed from (``expected_current_id``) —
    a concurrent append can never be clobbered; on conflict the
    rewrite restarts from the new current (bounded retries, then
    ``SnapshotConflict`` propagates). Conflicted data dirs are
    unreferenced and reclaimed by ``expire_snapshots``.

    Returns {snapshot, files_before, files_after, bytes, rows}.
    """
    for attempt in range(3):
        entry = current_snapshot(path)
        if entry is None:
            raise FileNotFoundError(f"no committed snapshot at {path}")
        dirs = [os.path.join(path, d) for d in entry["data_dirs"]]
        files_before, total_bytes = _dir_file_stats(spark, dirs)
        n_out = max(1, -(-total_bytes // max(1, int(target_bytes))))
        df = _read_snapshot(spark, path, entry)
        if sort_by:
            out = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
        else:
            out = df.repartition(n_out)
        try:
            snap = write_table(
                out,
                path,
                mode="overwrite",
                properties={"last_compaction": entry["id"], "compaction_target_bytes": int(target_bytes)},
                expected_current_id=entry["id"],
            )
            break
        except SnapshotConflict:
            if attempt == 2:
                raise
    new_entry = current_snapshot(path)
    files_after, _ = _dir_file_stats(
        spark, [os.path.join(path, d) for d in new_entry["data_dirs"]]
    )
    return {
        "snapshot": snap,
        "files_before": files_before,
        "files_after": files_after,
        "bytes": int(total_bytes),
        "rows": int(new_entry["row_count"]),
    }


def expire_snapshots(path: str, orphan_retention_s: float = 86400.0) -> dict:
    """Vacuum: delete data directories no longer referenced by the
    current snapshot — the garbage left behind by overwrite commits
    (incl. compaction). Companion to ``compact_table``: compaction
    rewrites, expiry reclaims.

    Two classes of unreferenced dir, handled differently:

    * dirs whose name matches a *committed* snapshot id — superseded
      by a later overwrite. Safe to delete immediately: a superseded
      dir can never become referenced again (append snapshots inherit
      only the *current* dirs; new writes always mint fresh ids).
    * dirs matching NO committed id — either a writer that is mid
      ``write_table`` (data lands before the manifest lock is taken,
      writer.py ~25 lines up) or a genuinely dead write (crashed /
      ``SnapshotConflict``-aborted compaction). Deleting an in-flight
      dir would make the writer's subsequent commit reference a
      missing directory, so these are only reclaimed once older than
      ``orphan_retention_s`` (Iceberg ``remove_orphan_files``-style age
      guard; default 24 h — far longer than any write's
      data-to-commit gap).

    Readers of the current snapshot are unaffected; time-travel to
    expired snapshots is gone — that is the point of retention."""
    import shutil

    with _manifest_lock(path):
        manifest = _read_manifest(path)
        cur = manifest["current"]
        referenced = set(cur["data_dirs"]) if cur else set()
        committed_ids = {s["id"] for s in manifest["snapshots"]}
    data_root = os.path.join(path, "data")
    now = time.time()
    removed, kept_orphans = [], []
    if os.path.isdir(data_root):
        for d in sorted(os.listdir(data_root)):
            full = os.path.join(data_root, d)
            if os.path.join("data", d) in referenced:
                continue
            if d not in committed_ids:
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue  # deleted under us — nothing to do
                if age < orphan_retention_s:
                    kept_orphans.append(d)  # possibly in-flight
                    continue
            shutil.rmtree(full, ignore_errors=True)
            removed.append(d)
    return {
        "removed": removed,
        "kept": sorted(referenced),
        "kept_orphans": kept_orphans,
    }


def upsert_table(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    retries: int = 3,
) -> dict:
    """MERGE-shaped keyed upsert as a snapshot operation: rows of the
    current table whose key matches an update row are replaced, all
    other rows survive, new keys append — committed atomically as one
    overwrite snapshot (copy-on-write MERGE, the Delta/Iceberg COW
    strategy; reference analogue: the append-vs-overwrite decision of
    _io.pyx:2676-2762 lifted to row granularity).

    Plan shape: survivors = current LEFT ANTI updates on the keys (one
    shuffle on the key columns), then union. At production scale the
    refinement is partition-pruned COW (rewrite only the partitions
    containing matched keys — the same anti-join restricted per
    partition) or merge-on-read deletion vectors; the commit protocol
    here is identical for all three, which is the part that matters
    for correctness.

    Concurrency: computed against snapshot X and committed with
    validate-and-swap (``expected_current_id=X``); a commit landing in
    between triggers a recompute from the new current (bounded
    retries), so concurrent appends are never clobbered — the
    compact_table contract.

    Returns {snapshot, matched, inserted, rows}.

    Raises ``ValueError`` when ``updates`` carries more than one row for
    the same key — the Delta/Iceberg MERGE contract (a multi-row source
    key makes "replace the matched row" ambiguous and would silently
    break the keyed-table invariant).  Callers that want last-wins must
    resolve it themselves (e.g. a row_number window over ``keys``).
    """
    dup = (
        updates.groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        key_desc = ", ".join(f"{k}={dup[0][k]!r}" for k in keys)
        raise ValueError(
            f"upsert_table: updates contain multiple rows for key ({key_desc}); "
            "deduplicate on the merge keys before upserting"
        )
    last_exc: Exception | None = None
    for _ in range(max(1, retries)):
        entry = current_snapshot(path)
        if entry is None:
            snap = write_table(updates, path, mode="overwrite")
            n_up = next(
                s for s in _read_manifest(path)["snapshots"] if s["id"] == snap
            )["row_count"]
            return {"snapshot": snap, "matched": 0, "inserted": n_up, "rows": n_up}
        cur = _read_snapshot(spark, path, entry)
        survivors = cur.join(updates.select(*keys).distinct(), keys, "left_anti")
        merged = survivors.unionByName(updates)
        n_cur, n_up = entry["row_count"], updates.count()
        try:
            snap = write_table(
                merged, path, mode="overwrite", expected_current_id=entry["id"]
            )
        except SnapshotConflict as exc:  # table advanced: recompute
            last_exc = exc
            continue
        # Stats must come from the snapshot THIS call committed: a
        # concurrent commit landing after ours would make
        # current_snapshot() report someone else's row count (negative
        # matched counts in the worst case).  The manifest keeps every
        # committed entry, so look ours up by id.
        committed = next(
            s for s in _read_manifest(path)["snapshots"] if s["id"] == snap
        )
        n_rows = committed["row_count"]
        matched = n_cur + n_up - n_rows
        return {"snapshot": snap, "matched": int(matched), "inserted": int(n_up - matched), "rows": int(n_rows)}
    raise last_exc


def delete_from_table(
    spark: SparkSession,
    path: str,
    predicate: str,
    retries: int = 3,
) -> dict:
    """DELETE WHERE as a snapshot operation: keep every row NOT
    matching ``predicate`` (a Spark SQL boolean expression over the
    table's columns), commit as one overwrite snapshot with the same
    validate-and-swap/retry contract as ``upsert_table``.

    Returns {snapshot, deleted, rows}.
    """
    last_exc: Exception | None = None
    for _ in range(max(1, retries)):
        entry = current_snapshot(path)
        if entry is None:
            raise FileNotFoundError(f"no committed snapshot at {path}")
        cur = _read_snapshot(spark, path, entry)
        # SQL DELETE removes only rows where the predicate is TRUE;
        # rows where it evaluates to NULL (nullable columns) survive.
        # A bare NOT(pred) would drop them — coalesce to false first.
        kept = cur.filter(f"NOT coalesce(({predicate}), false)")
        try:
            snap = write_table(kept, path, mode="overwrite", expected_current_id=entry["id"])
        except SnapshotConflict as exc:
            last_exc = exc
            continue
        n_rows = current_snapshot(path)["row_count"]
        return {"snapshot": snap, "deleted": int(entry["row_count"] - n_rows), "rows": int(n_rows)}
    raise last_exc
