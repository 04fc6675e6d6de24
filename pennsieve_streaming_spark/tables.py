"""Test-table loaders and canonical derived views.

The driver's synthetic tables (TESTDATA.md) are TPC-H-ish; the engine's
native shape is ``samples(channel, ts LONG µs, value DOUBLE)``. This
module derives deterministic time-series views from the synthetic
tables **twice** — once in the DataFrame API (for the engine) and once
as DuckDB SQL text (for the correctness oracle) — with arithmetic
chosen so both engines produce bit-identical rows:

- ``samples``         — from lineitem: channel = suppkey bucket, ts =
  shipdate epoch-µs + orderkey*10 + linenumber (unique-ish, sorted-ish),
  value = extendedprice.
- ``samples_aligned`` — from orders: two perfectly time-aligned
  channels ('lead', 'sec') for montage parity (reference montage zips
  two equal-length per-channel streams, TimeSeriesQueryRawHttp.scala:326-334).
- ``chan_events``     — from events: channel = event_type, ts = epoch-µs.
- ``channels``        — per-channel extent/count dimension with a
  notional fixed rate (Hz).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Notional sample rate (Hz) assigned to derived channels; only used by
# operators that need a rate parameter (gap thresholds, resample math).
DERIVED_RATE_HZ = 10.0


def ensure_session_confs(spark: SparkSession) -> None:
    """Set the runtime-settable confs the derived views depend on, so
    they behave identically under ANY SparkSession (e.g. the driver's):
    UTC session time (epoch-µs arithmetic must match the DuckDB
    oracle) and nanos-as-long parquet reads (events.parquet uses
    TIMESTAMP(NANOS), which Spark cannot read natively). Also ships
    the engine package to executors so pandas-UDF closures resolve."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ensure_package_shipped(spark)


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship ``pennsieve_streaming_spark`` to executor Python workers.

    Pandas-UDF closures reference package functions by module path;
    workers must be able to import them. On a real cluster this is the
    standard ``--py-files`` deployment; doing it lazily via
    ``addPyFile`` makes any session (driver harness, notebook, vanilla
    ``SparkSession.builder``) self-sufficient. Idempotent per context.
    No-op under Spark Connect (no sparkContext there — ship the
    package with ``spark.addArtifact``/--py-files at session setup).
    """
    try:
        sc = spark.sparkContext
    except Exception:  # pragma: no cover - Spark Connect path
        return
    if getattr(sc, "_pss_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # unpredictable, mode-0600 path: a fixed /tmp name could be
    # pre-created or symlinked by another local user, redirecting the
    # write or shipping foreign code to executors
    fd, zpath = tempfile.mkstemp(prefix="pss_pkg_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "pennsieve_streaming_spark",
                        os.path.relpath(full, pkg_dir),
                    )
                    z.write(full, rel)
    sc.addPyFile(zpath)
    sc._pss_pkg_shipped = True


# ---------------------------------------------------------------------------
# Spark-side derived views (DataFrame API)
# ---------------------------------------------------------------------------

def samples_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """samples(channel, ts, value) derived from lineitem."""
    ensure_session_confs(spark)
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return li.select(
        F.concat(F.lit("ch"), (F.col("l_suppkey") % 8).cast("string")).alias("channel"),
        (
            # parquet timestamps load as TIMESTAMP_NTZ; session TZ is UTC so
            # the LTZ cast yields the same epoch-µs as DuckDB's epoch_us()
            F.unix_micros(F.col("l_shipdate").cast("timestamp_ltz"))
            + F.col("l_orderkey") * F.lit(10)
            + F.col("l_linenumber")
        ).alias("ts"),
        F.col("l_extendedprice").alias("value"),
    )


def samples_aligned_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two time-aligned channels from orders (montage fixture)."""
    ensure_session_confs(spark)
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    lead = o.select(
        F.lit("lead").alias("channel"),
        (F.col("o_orderkey") * 1000).alias("ts"),
        F.col("o_totalprice").alias("value"),
    )
    sec = o.select(
        F.lit("sec").alias("channel"),
        (F.col("o_orderkey") * 1000).alias("ts"),
        F.col("o_custkey").cast("double").alias("value"),
    )
    return lead.unionByName(sec)


def epoch_micros_col(df: DataFrame, name: str):
    """Column expression converting ``name`` to epoch-µs LONG, robust to
    how the parquet writer typed it:

    - TIMESTAMP(MICROS/MILLIS) loads as TIMESTAMP_NTZ (or TIMESTAMP) —
      cast to LTZ under the UTC session TZ and take ``unix_micros``,
      identical to DuckDB ``epoch_us()``.
    - TIMESTAMP(NANOS) loads as LONG under
      ``spark.sql.legacy.parquet.nanosAsLong`` — integer-divide by 1000,
      identical to DuckDB's epoch_us() truncation.
    """
    dt = df.schema[name].dataType
    tn = dt.typeName()
    if tn in ("timestamp", "timestamp_ntz"):
        return F.unix_micros(F.col(name).cast("timestamp_ltz"))
    if tn in ("long", "bigint"):
        return F.expr(f"{name} div 1000")
    raise TypeError(f"column {name!r} has unsupported type {dt} for epoch-µs")


def chan_events_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chan_events(channel, ts, value) from the events stream table.

    The driver's testdata has shipped ``events.parquet`` with ``ts`` as
    both TIMESTAMP(NANOS) (loads as LONG under nanosAsLong) and
    TIMESTAMP(MICROS) (loads as TIMESTAMP_NTZ) across regenerations, so
    the µs conversion branches on the loaded dtype instead of assuming
    one physical type.
    """
    ensure_session_confs(spark)
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return ev.select(
        F.col("event_type").alias("channel"),
        epoch_micros_col(ev, "ts").alias("ts"),
        F.col("value"),
    )


def channels_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel dimension derived from samples (extent + count + rate)."""
    s = samples_view(spark, sf_dir)
    return s.groupBy("channel").agg(
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        F.count(F.lit(1)).alias("n_samples"),
        F.lit(DERIVED_RATE_HZ).alias("rate"),
    )


# ---------------------------------------------------------------------------
# DuckDB-side derived views (oracle dialect) — keep in lockstep with above
# ---------------------------------------------------------------------------

DUCKDB_VIEWS: dict[str, str] = {
    "samples": (
        "SELECT 'ch' || CAST(l_suppkey % 8 AS VARCHAR) AS channel, "
        "epoch_us(l_shipdate) + l_orderkey * 10 + l_linenumber AS ts, "
        "l_extendedprice AS value FROM lineitem"
    ),
    "samples_aligned": (
        "SELECT 'lead' AS channel, o_orderkey * 1000 AS ts, o_totalprice AS value FROM orders "
        "UNION ALL "
        "SELECT 'sec' AS channel, o_orderkey * 1000 AS ts, CAST(o_custkey AS DOUBLE) AS value FROM orders"
    ),
    "chan_events": (
        "SELECT event_type AS channel, epoch_us(ts) AS ts, value FROM events"
    ),
    "channels": (
        "SELECT channel, MIN(ts) AS start_ts, MAX(ts) AS end_ts, "
        "COUNT(*) AS n_samples, CAST(10.0 AS DOUBLE) AS rate "
        "FROM (SELECT 'ch' || CAST(l_suppkey % 8 AS VARCHAR) AS channel, "
        "epoch_us(l_shipdate) + l_orderkey * 10 + l_linenumber AS ts "
        "FROM lineitem) GROUP BY channel"
    ),
}


def with_views(sql: str, *names: str) -> str:
    """Compose a DuckDB oracle query with inlined derived-view CTEs.

    If ``sql`` already starts with its own WITH clause, the CTE lists
    are merged.
    """
    ctes = ", ".join(f"{n} AS ({DUCKDB_VIEWS[n]})" for n in names)
    stripped = sql.lstrip()
    if stripped.upper().startswith("WITH "):
        return f"WITH {ctes}, {stripped[5:]}"
    return f"WITH {ctes} {sql}"


def locf_day_grid(
    spark: SparkSession, sf_dir: str, day_us: int = 86_400 * 1_000_000
) -> DataFrame:
    """Every channel LOCF-filled onto the shared ceil-to-day grid over
    [MAX(start_ts), MIN(end_ts)] — the uniform-grid input contract of
    the correlation/Granger/AR/seasonal family. ONE definition (the
    entry-file oracles replicate its rounding rule verbatim)."""
    from pennsieve_streaming_spark.operators.align import asof_locf

    s = samples_view(spark, sf_dir)
    ch = channels_view(spark, sf_dir)
    bounds = ch.agg(
        F.max("start_ts").alias("lo"), F.min("end_ts").alias("hi")
    )
    grid_ts = bounds.select(
        F.explode(
            F.expr(
                f"sequence(((lo + {day_us} - 1) div {day_us}) * {day_us}, "
                f"hi, {day_us})"
            )
        ).alias("ts")
    )
    grid = ch.select("channel").crossJoin(F.broadcast(grid_ts))
    return asof_locf(s, grid).select("channel", "ts", "value")
