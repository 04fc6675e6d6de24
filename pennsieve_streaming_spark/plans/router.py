"""Pixel-query routing — the engine's (small) planner.

The reference hard-codes its "optimizer" as scattered driver branches
(SURVEY §4): the 100k cost guard, the resample-vs-raw ratio, and
always-from-raw execution. Catalyst owns the relational planning here;
what remains engine-specific is the *physical source* decision for a
visual query, made from catalog metadata only (no data scan):

  raw          — few samples per pixel (ratio <= 3): send samples
  direct       — resample from the samples table
  rollup:L     — resample from the coarsest rollup level L that
                 divides the pixel width (reads ~pixel/L rows per
                 pixel instead of pixel*rate/1e6 raw samples)

The decision is O(1) per channel and is the only place a serving
request is admitted or refused: a raw page over the row limit raises
before any job starts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pennsieve_streaming_spark.datamodel import DEFAULT_QUERY_LIMIT
from pennsieve_streaming_spark.operators.downsample import should_resample
from pennsieve_streaming_spark.operators.rollups import DEFAULT_LEVELS_US, choose_level
from pennsieve_streaming_spark.operators.window import check_query_limit


@dataclass(frozen=True)
class QueryPlan:
    path: str                 # 'raw' | 'direct' | 'rollup'
    rollup_level_us: int | None
    estimated_input_rows: int
    estimated_output_rows: int


def plan_pixel_query(
    start_us: int,
    end_us: int,
    pixel_width_us: int,
    rate_hz: float,
    rollup_levels_us: list[int] | None = None,
    query_limit: int | None = None,
    transformed: bool = False,
) -> QueryPlan:
    """Choose the physical path for one channel's pixel query.

    Raw path: the rows the driver will collect, min(estimated samples,
    explicit ``query_limit``), must fit DEFAULT_QUERY_LIMIT (reference
    ``overLimit``, query/TimeSeriesQueryUtils.scala:362-369) or
    QueryLimitExceeded is raised. Resampled paths are bounded by the
    pixel count.

    Rollup path: ``rollup_levels_us`` is the available ladder (None:
    the default ladder, empty: none). A ``transformed`` channel
    (filtered or montaged) has no rollup, and a window off the level
    grid would break downsample_from_rollup's pixel boundaries; both
    resample directly.
    """
    duration = end_us - start_us
    raw_rows = int(duration / 1e6 * rate_hz)

    if pixel_width_us <= 0 or not should_resample(rate_hz, pixel_width_us):
        # min(estimate, query_limit) > limit  <=>  both exceed it
        if query_limit is None or query_limit > DEFAULT_QUERY_LIMIT:
            check_query_limit(start_us, end_us, rate_hz, DEFAULT_QUERY_LIMIT)
        out_rows = raw_rows if query_limit is None else min(raw_rows, query_limit)
        return QueryPlan("raw", None, raw_rows, out_rows)

    n_pixels = max(1, duration // pixel_width_us)
    levels = DEFAULT_LEVELS_US if rollup_levels_us is None else rollup_levels_us
    level = choose_level(pixel_width_us, levels) if levels and not transformed else None
    if (
        level is not None
        and level > 1e6 / rate_hz  # buckets must hold >1 raw sample
        and start_us % level == 0
        and end_us % level == 0
    ):
        return QueryPlan("rollup", level, int(duration // level), int(n_pixels))
    return QueryPlan("direct", None, raw_rows, int(n_pixels))
