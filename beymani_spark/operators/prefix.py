"""Distributed prefix sums: the one range-partitioned running total behind
the KS gates, the numeric cards and the packing manifests.

A running total in a global order (token offsets, shuffle positions,
curriculum ranks, empirical CDFs) must never run as a global-order window:
Catalyst executes ``Window.orderBy(...)`` without ``partitionBy`` on ONE
partition. Instead the (narrow) frame is range-partitioned on its order
columns, each range partition takes its own ROWS cumsum, and a per-partition
base offset — the sum over all earlier partitions — is added back. Range
partitions are contiguous in the order, so the base of partition p is the
total of partitions < p.

Invariant (the one statement of it for every caller): the ranged frame is
persisted AFTER the range exchange and the ``_pid`` tag. The cumsum window
and the per-partition totals must observe the SAME physical range
boundaries, or the offsets misalign. RangePartitioner samples its bounds
with an RDD-id-derived seed, so two materializations of the exchange can
draw different boundaries; without the cache the consistency would ride on
exchange reuse, which a session can disable. Persisting any frame *below*
the exchange instead breaks that reuse and lets each branch sample its own
bounds. The cache also saves every branch re-running the caller's scans and
aggregations.

Two offset forms:

- :func:`literal_offsets` (un-keyed): the per-partition totals are
  collected to the driver (|partitions| longs) and come back as a dense
  ``element_at`` array literal indexed by ``_pid`` — no join and no
  broadcast sub-job in the consuming plan.
- :func:`keyed_cumsum` (keyed, any number of count columns): bases and
  key totals come from windows over the per-(keys, partition) totals and
  join back as a broadcast frame. That frame has at most
  |keys| + partitions - 1 rows, because range partitions are contiguous in
  (keys, value) order: only a key straddling a boundary appears in more
  than one partition. For millions of keys swap the broadcast for a plain
  hash join on (keys, ``_pid``).
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import caching


def _ranged(frame: DataFrame, order_cols: Sequence[str], partitions: int) -> DataFrame:
    """Range-partition ``frame`` on ``order_cols``, tag ``_pid``, persist."""
    return caching.persist(
        frame.repartitionByRange(int(partitions), *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
    )


def literal_offsets(
    narrow: DataFrame, range_cols: Sequence[str], partitions: int, total: Column
):
    """Un-keyed form (pack_sequences token offsets, shuffle_plan positions,
    curriculum_plan ranks). ``total`` is an aggregate expression; each
    partition's base offset is its sum over all earlier range partitions.

    Returns five values ``(ranged, w, base_col, bases, grand_total)``: the
    persisted ranged frame, the per-partition window ordered by
    ``range_cols``, the base-offset COLUMN (usable directly against
    ranged's ``_pid``), the dense list of per-partition bases, and
    ``total`` summed overall. One bounded job collects the totals from the
    fresh cache; callers that also need the grand total (curriculum_plan's
    N) read it from that collect instead of paying a count() job."""
    ranged = _ranged(narrow, range_cols, partitions)
    w = Window.partitionBy("_pid").orderBy(*range_cols)
    rows = ranged.groupBy("_pid").agg(total.alias("_ptotal")).collect()
    ptot = {r["_pid"]: int(r["_ptotal"]) for r in rows}
    # empty partitions (no totals row) contribute 0; the array is dense over
    # every requested pid so element_at stays in range under ANSI
    bases: list[int] = []
    acc = 0
    for p in range(int(partitions)):
        bases.append(acc)
        acc += ptot.get(p, 0)
    base_col = F.element_at(
        F.array(*[F.lit(b).cast("long") for b in bases]), F.col("_pid") + 1
    )
    return ranged, w, base_col, bases, acc


def keyed_cumsum(
    frame: DataFrame, keys: Sequence[str], order: str, counts: Sequence[str]
):
    """Keyed form (the KS gates, the numeric cards). ``frame`` holds one
    row per distinct (keys, ``order``) with long count columns ``counts``.

    Returns ``(cum, base)``:

    - ``cum``: ``(*keys, order, <c>_cum, <c>_n for c in counts)`` — the
      inclusive running count of ``c`` within the key in ``order``, and
      the key's total of ``c``;
    - ``base``: the broadcast frame ``(*keys, _pid, <c>_base, <c>_n)``.

    One range partition per core: the frame is value-sized, not data-sized,
    and each partition cumsums independently."""
    parts = frame.sparkSession.sparkContext.defaultParallelism
    ranged = _ranged(frame, [*keys, order], parts)
    wloc = (
        Window.partitionBy(*keys, "_pid")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.select(
        *keys,
        "_pid",
        order,
        *[F.sum(c).over(wloc).alias(f"{c}_local") for c in counts],
    )
    totals = ranged.groupBy(*keys, "_pid").agg(
        *[F.sum(c).alias(f"{c}_t") for c in counts]
    )
    wbase = (
        Window.partitionBy(*keys)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot = Window.partitionBy(*keys)
    base = totals.select(
        *keys,
        "_pid",
        *[
            F.coalesce(F.sum(f"{c}_t").over(wbase), F.lit(0)).alias(f"{c}_base")
            for c in counts
        ],
        *[F.sum(f"{c}_t").over(wtot).alias(f"{c}_n") for c in counts],
    )
    cum = local.join(F.broadcast(base), [*keys, "_pid"]).select(
        *keys,
        order,
        *[
            (F.col(f"{c}_base") + F.col(f"{c}_local")).alias(f"{c}_cum")
            for c in counts
        ],
        *[f"{c}_n" for c in counts],
    )
    return cum, base
