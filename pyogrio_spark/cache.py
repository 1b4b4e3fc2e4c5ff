"""Pinned-cache registry for two-phase operators.

Several operators cache a range-partitioned frame to PIN its
``spark_partition_id`` assignment between a per-partition stats collect
and the final job (the range exchange may re-sample/re-plan between
jobs, silently pairing rows with the wrong pids otherwise — measured
~1% wrong asof fills): ``read_table``'s ``skip_features`` distributed
rank, ``pack_chunks_global`` and ``asof_join_distributed``. The pin
must stay alive
until the RETURNED DataFrame has been materialized, so the operator
cannot unpersist eagerly; without a hook those blocks would occupy
executor storage memory for the session lifetime (round-2 ADVICE).

``pin_cache`` registers every such frame; call ``release_pins()`` after
materializing (writing/collecting) the operator output to drop them.
At storage scale the equivalent is writing the range-partitioned table
once and reading it for both passes — the pin is a session-local
stand-in for that materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PINS: list[DataFrame] = []

# Auto-eviction bound (round-3 ADVICE: long-running sessions that never
# call release_pins() must not accumulate pinned storage blocks without
# limit). A pin only needs to survive until its operator's output is
# materialized; by the time a pin is MAX_PINS operator invocations old
# that has either happened (the normal flow — each output materializes
# before the next operator runs) or the plan was abandoned. An evicted
# pin whose output is materialized LATER anyway loses the pid-pin
# guarantee — callers interleaving >MAX_PINS deferred two-phase plans
# must materialize or release explicitly before that depth.
MAX_PINS = 16


def pin_cache(df: DataFrame) -> DataFrame:
    """cache() + register in the session-wide pin list. The registry is
    bounded: beyond ``MAX_PINS`` entries the oldest pin is unpersisted
    (FIFO), so sessions that never call ``release_pins()`` hold at most
    a fixed number of pinned frames."""
    pinned = df.cache()
    _PINS.append(pinned)
    while len(_PINS) > MAX_PINS:
        old = _PINS.pop(0)
        try:
            old.unpersist()
        except Exception:  # session already stopped: nothing to free
            pass
    return pinned


def pinned_count() -> int:
    return len(_PINS)


def release_pins() -> int:
    """Unpersist every pinned frame; returns how many were released.
    Safe to call any time AFTER the outputs of the pinning operators
    have been materialized (unpersisting earlier only costs a recompute
    with a possibly different pid assignment mid-plan — i.e. wrong
    results, which is exactly what the pin prevents)."""
    n = 0
    for df in _PINS:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped: nothing to free
            pass
    _PINS.clear()
    return n
