"""Scalable 0-based rowid synthesis.

The reference synthesizes a default index as ``row_number() OVER () - 1``
(reference alchemy.py:332-334) and re-synthesizes rowids for positional
joins (base.py:58-62).  A bare ``row_number() OVER ()`` in Spark is a
single-partition window — every row funnels through one task, which is
the canonical 100 TB scale hazard (SURVEY.md §4.2).

We instead read each row's position from the bits of
``monotonically_increasing_id()``: Spark puts the partition index in the
upper 31 bits and the record number within the partition in the lower
33, so ``pid = id >> 33`` and ``rec = id - (pid << 33)``.

  1. one ``groupBy(spark_partition_id()).count()`` collect gives the
     per-partition sizes (``#partitions`` rows), turned into cumulative
     offsets on the driver;
  2. the final query adds ``offsets[pid] + rec``, the offsets shipped as
     a literal in the plan: an array read with ``element_at``, or, when
     there are many partitions for the rows, fixed-width decimal text in
     one binary literal, sliced at ``pid`` and parsed (``_offset_at``
     weighs the two).

Total cost: the counts job plus one projection in the final query — no
window, no exchange, no join.  Rowids follow the input's physical order,
partition by partition.  Every task copies the literal with its plan
(``#partitions`` entries); checked up to 3e4 partitions.

The single assumption: the counts query and the final query partition
the input the same way (the same partitions, holding the same rows in
the same order).  Deterministic scans and shuffles give that; an input
whose partitioning changes between two executions of the same plan
would not.

When a caller *does* have a meaningful total order (an ``order_by``
column list), we emit a global ``row_number`` over that order only if
asked (deterministic semantics for tests); the scalable path is the
default.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PART = "__pa_part"
_ID = "__pa_mono_id"
#: bits of monotonically_increasing_id() that hold the record number
_REC_BITS = 33


def with_rowid(sdf: DataFrame, name: str, order_by: list | None = None) -> DataFrame:
    """Attach a 0-based ``long`` rowid column called ``name``.

    ``order_by=None`` -> scalable rowid following current partition
    order (the analogue of the reference's order-of-the-query rowid):
    one per-partition count collect, then a narrow projection.
    ``order_by=[cols]`` -> deterministic global row_number over that
    order (single-partition window: only for small/test frames or
    already-aggregated data).
    """
    if order_by:
        w = Window.orderBy(*order_by)
        return sdf.withColumn(name, F.row_number().over(w).cast("long") - 1)

    # O(#partitions) rows: safe to collect on any cluster size.
    counts = dict(sdf.groupBy(F.spark_partition_id().alias(_PART))
                  .count().collect())
    sizes = np.zeros(max(counts, default=0) + 1, dtype=np.int64)
    for part, n in counts.items():
        sizes[part] = n
    offsets = np.cumsum(sizes) - sizes
    mono = F.col(_ID)
    pid = F.shiftright(mono, _REC_BITS)
    rec = mono - F.shiftleft(pid, _REC_BITS)
    return (
        sdf.withColumn(_ID, F.monotonically_increasing_id())
        .withColumn(name, _offset_at(offsets, int(sizes.sum()), pid) + rec)
        .drop(_ID)
    )


def _offset_at(offsets: np.ndarray, n_rows: int, pid: Column) -> Column:
    """``offsets[pid]``, with the offsets as a literal in the plan.

    Every task deserializes its plan.  An ``array<bigint>`` literal
    holds boxed longs: ~110 ns per element per task, so a frame of many
    tiny partitions pays a cost quadratic in their number, while
    ``element_at`` reads it in ~1.5 ns a row.  Fixed-width decimal text
    in one binary literal is a byte copy per task, but slicing and
    parsing it costs ~16 ns a row.  The cheaper form for the frame's
    shape is taken (costs measured with ``local[3]`` on a 4-core VM).
    Both literals are built from one string: ``lit(ndarray)`` makes a
    Py4J call per element, seconds at 1e5 partitions."""
    n_parts = len(offsets)
    if 110 * n_parts * n_parts <= 15 * n_rows:
        table = F.split(F.lit(",".join(map(str, offsets.tolist()))), ",")
        return F.element_at(table.cast("array<bigint>"),
                            pid.cast("int") + 1)
    width = len(str(offsets[-1]))
    table = F.lit("".join(f"{o:0{width}d}" for o in offsets.tolist())
                  .encode())
    return (table.substr((pid * width + 1).cast("int"), F.lit(width))
            .cast("string").cast("long"))
