"""Custom stateful streaming operators via applyInPandasWithState.

The reference has no streaming state (SURVEY.md §2.5); these cover the
continuous-ingest needs of a training-data pipeline:

- ``streaming_first_seen``: online exact dedup — emit only the first
  occurrence of each key (content fingerprint), state = one flag per
  key; a batch frame gets the same result from ``dropDuplicates``.
- ``streaming_running_totals``: per-key running counters maintained
  across micro-batches.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_first_seen(stream: DataFrame, key_col: str, payload_cols: list[str]) -> DataFrame:
    """Emit each key's first-arriving row only; duplicates are dropped
    across all micro-batches (state persists in the checkpoint)."""
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in stream.schema.fields if f.name in {key_col, *payload_cols}
    )

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            return
        first = None
        for pdf in pdfs:
            if len(pdf):
                first = pdf.iloc[:1][[key_col, *payload_cols]]
                break
        state.update((True,))
        if first is not None:
            yield first

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_running_totals(stream: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key running (count, sum) across micro-batches."""
    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame({key_col: [key[0]], "running_count": [n], "running_sum": [s]})

    ktype = stream.schema[key_col].dataType.simpleString()
    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=f"`{key_col}` {ktype}, running_count long, running_sum double",
            stateStructType="n long, s double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
