"""mapInArrow stages: column transforms with zero-copy passthrough.

SURVEY §2.6 mandates an Arrow-level passthrough stage for the
highest-throughput pipeline steps: a transform that rewrites ONE column
while every other column — in particular the interleaved ``spans``
array<struct> payload whose byte-identity the north rule requires —
passes through as untouched Arrow buffers (no pandas materialization,
no struct reassembly, no copy).

The reference's analogue is the Arrow streaming read path
(/root/reference/pyogrio/raw.py:438-568, open_arrow), which hands GDAL's
Arrow stream straight to the consumer without per-feature conversion.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame

from pyogrio_spark.geometry import wkb as W


def normalize_geometry_arrow(
    df: DataFrame, geom_col: str = "geometry_wkb", force_2d: bool = False, on_invalid: str = "raise"
) -> DataFrame:
    """Geometry normalization (curve linearization, optional force_2d,
    on_invalid policy) as an Arrow passthrough stage.

    Fast path: a batch of pure 2-D point WKB (the dominant shape at
    corpus scale) is detected with ONE vectorized Arrow kernel
    (binary_length == 21) and returned as the SAME buffer — the stage
    then costs a length scan, nothing else, and spans/attributes never
    leave Arrow. Only batches containing non-point rows pay the decode.
    ``read_table(force_2d=True)`` runs this same stage.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def fix(arr: "pa.Array") -> "pa.Array":
        mm = pc.min_max(pc.binary_length(arr))
        if mm["min"].as_py() == 21 and mm["max"].as_py() == 21:
            # uniform 21-byte rows are only 2-D points if the HEADER says
            # so: a big-endian or truncated/garbage 21-byte value must
            # fall through to the per-row path so the on_invalid policy
            # applies (round-2 ADVICE). One vectorized kernel pair —
            # slice+equal — keeps the check on the fast path; nulls are
            # skipped (they pass through as nulls either way).
            hdr_ok = pc.all(
                pc.equal(
                    pc.binary_slice(arr, 0, 5),
                    pa.scalar(W._POINT_LE_2D, type=pa.binary()),
                ),
                min_count=0,
            ).as_py()
            if hdr_ok:
                # verified 2-D point batch: zero-copy passthrough
                return arr
        out = []
        for v in arr:
            b = v.as_py()
            if b is None:
                out.append(None)
            elif len(b) == 21 and b[:5] == W._POINT_LE_2D:
                out.append(b)
            else:
                g = W.from_wkb(b, force_2d=force_2d, on_invalid=on_invalid)
                out.append(None if g is None else W.encode_geom(g))
        return pa.array(out, type=pa.binary())

    idx = df.columns.index(geom_col)

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # every other column streams through as its own Arrow buffers
        for rb in batches:
            cols = rb.columns
            cols[idx] = fix(cols[idx])
            yield pa.RecordBatch.from_arrays(cols, names=rb.schema.names)

    return df.mapInArrow(run, schema=df.schema)
