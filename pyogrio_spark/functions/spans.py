"""Interleaved span-sequence transforms.

The engine's data model (FIXTURES.md F1 / BASELINE.json input_hint)
carries each document's interleaved content as
``spans: array<struct<kind, text, media_ref, offset>>`` whose order
must survive every stage byte-identically (span_digest,
functions/geo.py:372). These are the *structure-editing* counterparts:
project a kind subset out of the sequence and re-compact offsets —
e.g. strip media spans for a text-only pass, or keep only media
spans for a decode fan-out — without ever leaving the JVM.

All pure higher-order-function codegen (filter/transform with index):
zero shuffle, zero Python, the array never explodes unless the caller
asks for flat rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_spans_kind(spans_col: Column, keep_kind: str) -> Column:
    """Keep only spans of ``keep_kind``, re-compacting ``offset`` to
    0..n-1 in the surviving order. The original offset is preserved in
    ``orig_offset`` so order-survival is checkable downstream."""
    kept = F.filter(spans_col, lambda s: s["kind"] == keep_kind)
    return F.transform(
        kept,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
            s["offset"].alias("orig_offset"),
        ),
    )


def strip_media_spans(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Text-only view of an interleaved table: media spans dropped,
    offsets compacted, same schema plus orig_offset. Map-only — rides
    the scan partitioning."""
    return df.withColumn(spans_col, filter_spans_kind(F.col(spans_col), "text"))


def media_ref_table(df: DataFrame, spans_col: str = "spans", key_col: str = "doc_id") -> DataFrame:
    """Flat (key, media_ref, offset) rows for the media side — the
    decode fan-out input. One explode over the media-only subsequence."""
    media = filter_spans_kind(F.col(spans_col), "media")
    ex = df.select(key_col, F.explode(media).alias("s"))
    return ex.select(
        key_col,
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
        F.col("s.orig_offset").alias("orig_offset"),
    )
