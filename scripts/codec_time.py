"""Time the two Python codecs of a perfbench ``vector_convert`` op in
process, without Spark: the FlatGeobuf decode of the op's chunks plus the
bbox refine, and the Shapefile part encoder over the rows the op writes.
Prints the median ``time.process_time`` of each over ``--reps`` runs.

    python scripts/codec_time.py --seed 11 --reps 25

Run it from a checkout's root; it builds the inputs with the checkout's
own ``perfbench`` workload, in a temporary directory.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from workloads import VectorConvert  # noqa: E402

from pyogrio_spark.io import flatgeobuf as FGB  # noqa: E402
from pyogrio_spark.io import shapefile as SHP  # noqa: E402
from pyogrio_spark.io.reader import _box_keep, id_runs  # noqa: E402
from pyogrio_spark.io.sink import attribute_schema  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=11)
    p.add_argument("--reps", type=int, default=25)
    args = p.parse_args()
    with tempfile.TemporaryDirectory() as work:
        run(args.seed, args.reps, work)


def run(seed: int, reps: int, work: str) -> None:
    # the workload's own inputs, bbox and filters for this seed
    wl = VectorConvert(seed, work)
    wl.generate()
    src = os.path.join(work, "parcels.fgb")
    with open(src, "wb") as f:
        f.write(wl.fgb)
    spec, layer_code, _, offsets, file_size, leaf = FGB._fgb_layout(src)
    x0, y0, x1, y1 = wl.bbox
    idx = np.flatnonzero((leaf[:, 0] <= x1) & (leaf[:, 2] >= x0) & (leaf[:, 1] <= y1) & (leaf[:, 3] >= y0))
    n = len(offsets)
    chunks = [(int(offsets[s[0]]), int(offsets[s[-1] + 1]) if s[-1] + 1 < n else file_size, int(s[0]))
              for s in id_runs(idx, 50_000)]
    decode = FGB._decoder(src, layer_code, spec)[1]

    def read():
        return [pdf[_box_keep(wl.bbox, pdf["geometry_wkb"].to_numpy())] for pdf in map(decode, chunks)]

    def timed(fn) -> float:
        t = time.process_time()
        fn()
        return time.process_time() - t

    read_s = [timed(read) for _ in range(reps)]
    kept = read()
    out = kept[0][kept[0]["pop"] >= wl.MIN_POP][[*wl.COLUMNS, "geometry_wkb"]].reset_index(drop=True)
    fdefs = SHP._dbf_fields(attribute_schema(out, wl.COLUMNS))
    encode_s = [timed(lambda i=i: SHP._encode_part(iter([out]), os.path.join(work, f"part{i}"), "geometry_wkb",
                                                   wl.COLUMNS, fdefs)) for i in range(reps)]
    print(f"chunks={len(chunks)} decoded={len(idx)} kept={sum(map(len, kept))} written={len(out)} "
          f"decode+refine_ms={statistics.median(read_s) * 1e3:.2f} encode_ms={statistics.median(encode_s) * 1e3:.2f}")


if __name__ == "__main__":
    main()
