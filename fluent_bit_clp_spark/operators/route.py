"""Tag-keyed fan-out routing (SURVEY.md §2.4).

Mirrors the reference's per-tag stream dispatch
(`/root/reference/internal/outctx/context.go:134-146`,
`/root/reference/plugins/out_clp_s3_v2/internal/ingestion.go:29-43`): each
record is routed to exactly one sink.  Per-stream arrival order in the
reference (`internal/outctx/context.go:39-43`) becomes an explicit
``(conv_id, turn_idx)`` ordering carried by the chunk-offset windows of
``operators/chunk.assign_chunks``, whose ``(sink, conv_id, turn-block)``
window key also bounds how much of a hot conversation one task holds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sink_column() -> Column:
    """Route key: tool turns fan out per tool_tag; others per sink_class.

    Analogue of the reference's tag → stream mapping; the sink value is the
    Iceberg/Parquet partition the row lands in (K1).
    """
    return F.when(
        F.col("role") == "tool",
        F.concat(F.lit("tools."), F.coalesce(F.col("tool_tag"), F.lit("unknown"))),
    ).otherwise(F.coalesce(F.col("sink_class"), F.lit("ops"))).alias("sink")


def with_sink(df: DataFrame) -> DataFrame:
    return df.withColumn("sink", sink_column())
