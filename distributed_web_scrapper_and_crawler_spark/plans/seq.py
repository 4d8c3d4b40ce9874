"""Dense global discovery-sequence assignment — without a single-partition window.

The reference orders its frontier by wall-clock insertion time
(``server.py:423`` sort on ``timestamp``); the engine replaces that with
a deterministic dense ``seq`` assigned at discovery (SURVEY.md §3.3).

A naive ``row_number() OVER (ORDER BY parent_seq, pos)`` ranks through a
single partition — the classic scale killer. Instead we exploit that
``parent_seq`` is itself dense: bucket rows by ``parent_seq div B``,
rank *within* buckets in parallel, and add per-bucket offsets computed
from a tiny driver-side prefix sum over bucket counts (one extra small
job per round; the counts DataFrame has ~|claim|/B rows). Deterministic,
shuffle-parallel, no sampling — unlike ``repartitionByRange`` whose
boundaries come from reservoir sampling.

The offsets go back into the plan as a literal map expression
(``create_map(lit(b0), lit(off0), ...)[_b]``), one entry per bucket: no
driver-built relation, no join and no broadcast job. A DataFrame made
from a Python list would be a Python RDD, unpickled by a Python worker
every time the seq'd rows are evaluated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_global_seq(
    df: DataFrame,
    start: int,
    order_cols: tuple[str, ...] = ("parent_seq", "pos"),
    bucket_size: int = 4096,
) -> tuple[DataFrame, int]:
    """Add a dense ``seq`` column: start, start+1, ... in (order_cols) order.

    Requires ``order_cols[0]`` to be roughly-dense integers (parent seqs
    of one round are a contiguous claim range) so bucketing by
    ``div bucket_size`` yields balanced groups. Returns (df, row_count) —
    the count falls out of the offset computation for free, so callers
    advance their seq watermark without an extra action.
    """
    b = df.withColumn("_b", F.floor(F.col(order_cols[0]) / F.lit(bucket_size)).cast("long"))
    counts = b.groupBy("_b").agg(F.count(F.lit(1)).alias("_n")).collect()
    offset = 0
    offsets = []
    for row in sorted(counts, key=lambda r: r["_b"]):
        offsets.append((row["_b"], offset))
        offset += row["_n"]
    if not offsets:
        return df.withColumn("seq", F.lit(None).cast("long")), 0
    off = F.create_map(*[F.lit(v).cast("long") for pair in offsets for v in pair])
    w = Window.partitionBy("_b").orderBy(*[F.col(c) for c in order_cols])
    out = b.withColumn(
        "seq", F.lit(start) + off[F.col("_b")] + F.row_number().over(w) - 1
    ).drop("_b")
    return out, offset
