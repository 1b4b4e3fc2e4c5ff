"""Single-file sinks: one part encoder, two placements.

A Shapefile or FlatGeobuf sink is a part encoder plus a driver stitch.
The encoder takes an iterator of pandas frames, writes one part (record
or feature bytes, plus side files) and returns the part's metadata; the
stitch turns the parts' metadata into headers and indexes and streams
the parts into the output. ``encoded_parts`` runs the encoder once in
process on a pandas frame (no Spark), or once per partition of a Spark
DataFrame inside one ``mapInPandas`` (one job, no exchange). Field types
come from one Arrow schema in both placements (``attribute_schema``), so
the two write the same bytes for the same rows.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

import pandas as pd
import pyarrow as pa


def attribute_schema(data, cols: list[str]) -> pa.Schema:
    """Arrow schema of the attribute columns ``cols`` of a pandas frame
    (``pa.Schema.from_pandas``) or of a Spark DataFrame (Spark's own
    Arrow mapping, keeping each column's metadata, such as an
    ``ogr_subtype`` tag). A pandas object column that Arrow cannot type
    (mixed values) is a string column, as its values are written with
    ``str``."""
    if not isinstance(data, pd.DataFrame):
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        schema = to_arrow_schema(StructType([data.schema[c] for c in cols]))
        return pa.schema([f.with_metadata({k: str(v) for k, v in data.schema[f.name].metadata.items()})
                          for f in schema])
    fields = []
    for c in cols:
        try:
            fields.append(pa.Schema.from_pandas(data[[c]], preserve_index=False).field(0))
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            fields.append(pa.field(c, pa.string()))
    return pa.schema(fields)


@contextlib.contextmanager
def encoded_parts(data, path: str, encode, meta_fields: list[tuple[str, str]]):
    """Run ``encode(frames, part) -> dict`` once per part of ``data`` and
    yield the parts' metadata dicts in part order, each with its ``part``
    path. A pandas frame is one part encoded in process; a Spark
    DataFrame is one part per partition, encoded by its task inside one
    ``mapInPandas`` (``meta_fields``: the (name, Spark type) pairs of
    ``encode``'s dict, handed to it as a ``StructType``).
    The parts directory sits next to ``path`` (executors must see it) and
    is removed on exit."""
    parts_dir = f"{path}.parts-{uuid.uuid4().hex[:8]}"
    os.makedirs(parts_dir)
    try:
        if isinstance(data, pd.DataFrame):
            part = os.path.join(parts_dir, "part-00000")
            yield [{"part": part, **encode(iter([data]), part)}]
            return

        def task(frames):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            part = os.path.join(parts_dir, f"part-{pid:05d}")
            yield pd.DataFrame([{"pid": pid, "part": part, **encode(frames, part)}])

        from pyogrio_spark.io.reader import spark_schema

        schema = spark_schema([("pid", "int"), ("part", "string"), *meta_fields])
        rows = data.mapInPandas(task, schema=schema).collect()
        yield [r.asDict() for r in sorted(rows, key=lambda r: r["pid"])]
    finally:
        shutil.rmtree(parts_dir, ignore_errors=True)
