"""Pinned-cache registry: two-phase operators pin a range-partitioned
frame for pid stability; release_pins() must free every one (round-2
ADVICE: the pins used to leak executor storage for the session)."""

import pandas as pd

from pyogrio_spark import read_table, release_pins
from pyogrio_spark.cache import pinned_count


def test_release_pins_frees_skip_features_pin(spark, tmp_path):
    release_pins()
    before = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": range(100), "v": [i % 7 for i in range(100)]}),
        schema="doc_id long, v long",
    ).write.parquet(path)
    # skip_features runs the distributed rank, which pins its
    # range-partitioned frame between the counts job and the rank job
    out = read_table(spark, path, skip_features=30, read_geometry=False)
    rows = out.collect()  # materialize while the pin is alive
    assert sorted(r.doc_id for r in rows) == list(range(30, 100))
    assert pinned_count() >= 1
    released = release_pins()
    assert released >= 1 and pinned_count() == 0
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    leaked = [str(i) for i in infos if i.id() not in before]
    assert not leaked, leaked
