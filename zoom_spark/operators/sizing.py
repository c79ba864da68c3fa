"""The size policy: frame-sized partition counts, and the two gates
that decide when a frame is small enough to broadcast or to collect.

Iterative graph/dedup loops (pagerank, star-contraction, label
propagation) re-shuffle a small working frame many times. Paying the
session-wide shuffle-partition count per round wastes task overhead on
near-empty partitions; hardcoding a small constant (round 4's
``coalesce(<=8)``) serializes the upstream stage and dies at scale.
The right number is a function of the frame: ~rows/target_rows_per_task,
clamped to the session's parallelism range.

Gates. Model-sized frames may be broadcast or collected to the driver
only under a COUNTED bound (never a planner estimate): every predicate
below takes a size the caller has already counted for another reason,
so a gate never adds a Spark job. Past its budget a gate fails closed
and the caller keeps its distributed path (shuffle join, per-iteration
Spark jobs) — at 100 TB every gate takes that branch. Each call site
states only its own bound argument (e.g. "|deg| <= 2·|e|").

Why broadcast hints are needed at all: checkpointed frames scan as
ExistingRDD with unknown stats, so Catalyst/AQE never auto-broadcasts
them, and every round of an iterative loop re-shuffles the full edge
or fact frame for a sort-merge join; an explicit hint removes that
exchange.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# Row budget for broadcasting node-/entity-sized frames (scores,
# labels, frontiers, factor tables, dimension lookups). A few million
# (key, value) rows is tens of MB framed — comfortably inside executor
# memory — while at 100 TB (billions of nodes) the gate fails closed
# and the caller keeps the plain shuffle join.
BROADCAST_MAX_ROWS = 4_000_000

# Cell budget (rows x values per row) for the driver-local shortcuts
# that collect a model-sized frame and finish in numpy: 100_000
# quantized 64-d embeddings, a few tens of MB as int64 — the same
# model-artifact size class as the per-iteration centroid collects the
# distributed Lloyd path already does. Cells, not rows, so a wide frame
# cannot fail open on memory.
DRIVER_MAX_CELLS = 6_400_000


def frame_partitions(
    sc, n_rows: int, target_rows_per_task: int = 100_000
) -> int:
    """Partition count for an n_rows working frame: one task per
    ~target_rows_per_task rows, at least 2, at most 4x the cluster's
    core count (headroom for skew without drowning in empty tasks)."""
    want = -(-max(int(n_rows), 1) // target_rows_per_task)  # ceil div
    return max(2, min(4 * sc.defaultParallelism, want))


def fits_broadcast(rows: int) -> bool:
    """True when a frame of (at most) ``rows`` counted rows may be
    broadcast."""
    return rows <= BROADCAST_MAX_ROWS


def fits_driver(rows: int, width: int) -> bool:
    """True when ``rows`` counted rows of ``width`` values each may be
    collected (or materialized densely) on the driver."""
    return rows * width <= DRIVER_MAX_CELLS


def broadcast_if(rows: int):
    """``F.broadcast`` when fits_broadcast(rows), else the identity —
    one counted bound gating every hint on frames it bounds."""
    return F.broadcast if fits_broadcast(rows) else _as_is


def _as_is(df):
    return df
