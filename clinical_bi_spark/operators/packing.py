"""Sequence packing: concat-and-chunk token streams into fixed context
windows (the standard pretraining batching step).

Pack assignment is arithmetic over a prefix sum of token counts in a
deterministic document order: :func:`pack_assignments_window` computes
that prefix sum with one global ordered window, so the DuckDB oracle of
the driver-contract query applies verbatim. The global sort funnels
through a single partition; at corpus scale the same prefix sum is
:func:`clinical_bi_spark.operators.ranking.global_prefix_sums` (range
exchange + per-shard running totals + broadcast offsets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _pack_columns(df: DataFrame, tokens_col: str, context: int) -> DataFrame:
    ctx = F.lit(context)
    start = F.col("start_offset")
    n = F.col(tokens_col)
    return df.select(
        *[c for c in df.columns if c != "start_offset"],
        "start_offset",
        F.floor(start / ctx).alias("pack_id"),
        ((n > 0) & (F.floor((start + n - 1) / ctx) > F.floor(start / ctx))).alias(
            "crosses_boundary"
        ),
    )


def pack_assignments_window(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    context: int = 2048,
) -> DataFrame:
    """Pack assignment via a global ordered window (single-partition sort —
    parity/oracle form; see module docstring for the scale form)."""
    w = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, 0)
    pos = df.select(id_col, tokens_col).withColumn(
        "start_offset", F.sum(tokens_col).over(w) - F.col(tokens_col)
    )
    return _pack_columns(pos, tokens_col, context)
