"""Deterministic MS-shaped frames derived from the driver's star schema.

The reference operates on Measurement-Set-shaped tables (FIXTURES.md T1-T5);
the driver's testdata is TPC-H-ish. This module derives MS-shaped columns
(uvw, antennas, time, channel, frequency, flags, weights, visibilities,
source catalogue) from the synthetic tables with *engine-independent
integer/float arithmetic*, so every astronomy operator can be demonstrated
as a query whose DuckDB oracle derives the identical frame.

Each builder has a paired `*_SQL` CTE string. The Spark expression and the
SQL are kept textually adjacent and covered by tests/test_derived_frames.py
which asserts value equality against DuckDB at sf0.001.

Scale note: `vis` derives 1:1 from lineitem (the fact table) with pure
narrow projections — no shuffle, no UDF — so at 100 TB this layer is free:
it fuses into the parquet scan under whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from codex_africanus_spark.sources.tables import load

N_ANT = 7
N_CHAN_BASE = 8  # freq = 856 MHz * (1 + chan/8)
REF_FREQ = 856e6


# --------------------------------------------------------------------------
# vis main table  (from lineitem; FIXTURES.md T1 analogue)
# --------------------------------------------------------------------------

def vis_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MS main-table analogue: one visibility sample per lineitem row.

    The raw scan is fanned out BEFORE the derivation so the per-row
    arithmetic runs at cluster parallelism (the testdata parquet is a
    single unsplittable row group; see tables.fan_out) — the narrow raw
    columns are the cheapest thing to exchange."""
    from codex_africanus_spark.sources.tables import fan_out

    raw = load(spark, "lineitem", sf_dir)
    out = _vis_select(fan_out(raw))
    # unfanned twin (identical rows, no round-robin exchange) for
    # consumers that only need a tiny aggregate — see tables.scan_twin
    out._scan_twin = _vis_select(raw)
    return out


def _vis_select(li: DataFrame) -> DataFrame:
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    a = (F.col("l_suppkey") % N_ANT).cast("int")
    b = (F.col("l_partkey") % N_ANT).cast("int")
    chan = (F.col("l_linenumber") - 1).cast("int")
    return li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("row_id"),
        (epoch_us_expr(li, "l_shipdate") / F.lit(1000000))
        .cast("long")
        .cast("double")
        .alias("time"),
        F.least(a, b).alias("antenna1"),
        F.greatest(a, b).alias("antenna2"),
        ((cents % 2001 - 1000) / F.lit(10.0)).alias("u"),
        (((F.col("l_partkey") * 37) % 2001 - 1000) / F.lit(10.0)).alias("v"),
        (((F.col("l_suppkey") * 73) % 201 - 100) / F.lit(10.0)).alias("w"),
        chan.alias("chan"),
        (F.lit(REF_FREQ) * (1 + chan / F.lit(8.0))).alias("frequency"),
        (F.col("l_orderkey") % 13 == 0).alias("flag_row"),
        ((F.col("l_orderkey") + F.col("l_linenumber")) % 11 == 0).alias("flag"),
        (F.lit(1.0) + (F.col("l_orderkey") % 5)).alias("weight"),
        ((F.lit(1.0) + (F.col("l_partkey") % 3)) / F.lit(2.0)).alias("sigma"),
        F.col("l_quantity").alias("vis_re"),
        ((cents % 100) / F.lit(10.0)).alias("vis_im"),
        F.col("l_quantity").alias("interval"),
    )


VIS_SQL = """
  SELECT l_orderkey * 8 + l_linenumber                        AS row_id,
         CAST(CAST(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 1000000 AS BIGINT) AS DOUBLE) AS time,
         LEAST(l_suppkey % 7, l_partkey % 7)                  AS antenna1,
         GREATEST(l_suppkey % 7, l_partkey % 7)               AS antenna2,
         (CAST(ROUND(l_extendedprice * 100) AS BIGINT) % 2001 - 1000) / 10.0 AS u,
         ((l_partkey * 37) % 2001 - 1000) / 10.0              AS v,
         ((l_suppkey * 73) % 201 - 100) / 10.0                AS w,
         l_linenumber - 1                                     AS chan,
         856000000.0 * (1 + (l_linenumber - 1) / 8.0)         AS frequency,
         (l_orderkey % 13 = 0)                                AS flag_row,
         ((l_orderkey + l_linenumber) % 11 = 0)               AS flag,
         1.0 + (l_orderkey % 5)                               AS weight,
         (1.0 + (l_partkey % 3)) / 2.0                        AS sigma,
         l_quantity                                           AS vis_re,
         (CAST(ROUND(l_extendedprice * 100) AS BIGINT) % 100) / 10.0 AS vis_im,
         l_quantity                                           AS interval
  FROM lineitem
"""


# --------------------------------------------------------------------------
# source catalogue  (from nation — fixed 25 rows at every SF; T3 analogue)
# --------------------------------------------------------------------------

def source_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    na = load(spark, "nation", sf_dir)
    k = F.col("n_nationkey").cast("long")
    l = (k - 12) / F.lit(200.0)
    m = ((k * 7) % 25 - 12) / F.lit(250.0)
    return na.select(
        k.cast("int").alias("source_id"),
        l.alias("l"),
        m.alias("m"),
        F.sqrt(F.lit(1.0) - l * l - m * m).alias("n"),
        (F.lit(1.0) + (k % 5)).alias("flux_i"),
        ((k % 3 - 1) / F.lit(4.0)).alias("flux_q"),
        (((k * 3) % 5 - 2) / F.lit(8.0)).alias("flux_u"),
        (((k * 11) % 7 - 3) / F.lit(10.0)).alias("flux_v"),
        ((k % 7 - 3) / F.lit(10.0)).alias("spi"),
        F.lit(REF_FREQ).alias("ref_freq"),
        F.when(k % 3 == 0, F.lit("GAUSSIAN")).otherwise(F.lit("POINT")).alias("source_type"),
        ((1 + k % 4) * F.lit(4.84813681109536e-6)).alias("emaj"),
        ((1 + k % 4) * F.lit(4.84813681109536e-6) * F.lit(0.5)).alias("emin"),
        (k * F.lit(0.3)).alias("position_angle"),
    )


SOURCE_SQL = """
  SELECT CAST(n_nationkey AS INT)                              AS source_id,
         (n_nationkey - 12) / 200.0                            AS l,
         ((n_nationkey * 7) % 25 - 12) / 250.0                 AS m,
         sqrt(1.0 - ((n_nationkey - 12) / 200.0) * ((n_nationkey - 12) / 200.0)
                  - (((n_nationkey * 7) % 25 - 12) / 250.0) * (((n_nationkey * 7) % 25 - 12) / 250.0)) AS n,
         1.0 + (n_nationkey % 5)                               AS flux_i,
         (n_nationkey % 3 - 1) / 4.0                           AS flux_q,
         ((n_nationkey * 3) % 5 - 2) / 8.0                     AS flux_u,
         ((n_nationkey * 11) % 7 - 3) / 10.0                   AS flux_v,
         (n_nationkey % 7 - 3) / 10.0                          AS spi,
         856000000.0                                           AS ref_freq,
         CASE WHEN n_nationkey % 3 = 0 THEN 'GAUSSIAN' ELSE 'POINT' END AS source_type,
         (1 + n_nationkey % 4) * 4.84813681109536e-6           AS emaj,
         (1 + n_nationkey % 4) * 4.84813681109536e-6 * 0.5     AS emin,
         n_nationkey * CAST(0.3 AS DOUBLE)                     AS position_angle
  FROM nation
"""


# --------------------------------------------------------------------------
# gains table  (antenna × chan; T4 analogue, diagonal complex gain)
# --------------------------------------------------------------------------

def gains_table(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """Small dimension table (n_ant × n_chan rows) — always broadcast.

    Built from one range with the channel axis exploded in place: a
    range × range crossJoin would plan a BroadcastNestedLoopJoin, whose
    extra broadcast stage every gains consumer would pay."""
    g = spark.range(N_ANT).select(
        F.col("id").cast("int").alias("antenna"),
        F.explode(F.sequence(F.lit(0), F.lit(N_CHAN_BASE - 2))).alias("chan"),
    )
    phase = (F.col("antenna") * 7 + F.col("chan")) * F.lit(0.05)
    phase_y = phase + F.lit(0.1)
    amp = F.lit(1.0) + F.col("antenna") / F.lit(50.0) + F.col("chan") / F.lit(100.0)
    # trig differs at 1 ULP between JVM Math and libm — quantize to 9dp so
    # the frame is engine-reproducible (both engines round half-away-from-0)
    return g.select(
        "antenna",
        "chan",
        F.round(amp * F.cos(phase), 9).alias("gain_re"),
        F.round(amp * F.sin(phase), 9).alias("gain_im"),
        # second polarization (diagonal 2×2 Jones: gx ≠ gy)
        F.round(amp * F.cos(phase_y), 9).alias("gain_y_re"),
        F.round(amp * F.sin(phase_y), 9).alias("gain_y_im"),
    )


GAINS_SQL = """
  SELECT CAST(a.range AS INT)  AS antenna,
         CAST(c.range AS INT)  AS chan,
         round((1.0 + a.range / 50.0 + c.range / 100.0) * cos((a.range * 7 + c.range) * CAST(0.05 AS DOUBLE)), 9) AS gain_re,
         round((1.0 + a.range / 50.0 + c.range / 100.0) * sin((a.range * 7 + c.range) * CAST(0.05 AS DOUBLE)), 9) AS gain_im,
         round((1.0 + a.range / 50.0 + c.range / 100.0) * cos((a.range * 7 + c.range) * CAST(0.05 AS DOUBLE) + CAST(0.1 AS DOUBLE)), 9) AS gain_y_re,
         round((1.0 + a.range / 50.0 + c.range / 100.0) * sin((a.range * 7 + c.range) * CAST(0.05 AS DOUBLE) + CAST(0.1 AS DOUBLE)), 9) AS gain_y_im
  FROM range(7) a, range(7) c
"""


# --------------------------------------------------------------------------
# antenna table  (ITRF XYZ positions; MS ANTENNA subtable analogue — the
# POSITION column consumed by the reference's parallactic-angle backends,
# parangles.py:31-33: "(ant, 3) in metres in the ITRF frame")
# --------------------------------------------------------------------------

def antenna_table(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """N_ANT rows of deterministic ITRF-ish XYZ near a southern-hemisphere
    site (KAT-7-like geocentric magnitudes) — integer-derived offsets so
    the frame is engine-reproducible without trig."""
    a = spark.range(N_ANT).select(F.col("id").cast("int").alias("antenna"))
    k = F.col("antenna").cast("long")
    return a.select(
        "antenna",
        (F.lit(5109224.0) + k * F.lit(13.5)).alias("ant_x"),
        (F.lit(2006790.0) + ((k * k) % 11) * F.lit(7.25)).alias("ant_y"),
        (F.lit(-3239100.0) + k * F.lit(5.75)).alias("ant_z"),
    )


ANTENNA_SQL = """
  SELECT CAST(a.range AS INT)                       AS antenna,
         5109224.0 + a.range * 13.5                 AS ant_x,
         2006790.0 + ((a.range * a.range) % 11) * 7.25 AS ant_y,
         -3239100.0 + a.range * 5.75                AS ant_z
  FROM range(7) a
"""


# --------------------------------------------------------------------------
# DDE gains table  (time_bin × antenna × chan × direction; the gains shape
# of the calibration kernels — reference corrupt_vis/compute_and_corrupt_vis
# index jones as [utime, ant, chan, dir])
# --------------------------------------------------------------------------

def dde_gains_table(
    spark: SparkSession, time_bins: DataFrame, dirs: DataFrame
) -> DataFrame:
    """Direction-dependent, time-binned diagonal gains.

    `time_bins` is the distinct-bin frame derived from vis (the analogue of
    the reference's `unique_time` axis, utils.py:45-70); `dirs` carries one
    `source_id` per calibration direction. The product is still a small
    dimension table (bins × 7 ant × 7 chan × n_dir) — always broadcast."""
    ant = spark.range(N_ANT).select(F.col("id").cast("int").alias("antenna"))
    chan = spark.range(N_CHAN_BASE - 1).select(F.col("id").cast("int").alias("chan"))
    g = time_bins.crossJoin(ant).crossJoin(chan).crossJoin(dirs.select("source_id"))
    amp = (
        F.lit(1.0)
        + F.col("antenna") / F.lit(40.0)
        + F.col("chan") / F.lit(90.0)
        + F.col("source_id") / F.lit(30.0)
        + (F.col("time_bin") % 7) / F.lit(60.0)
    )
    ph = (
        (F.col("time_bin") % 5) * F.lit(0.13)
        + F.col("antenna") * F.lit(0.11)
        + F.col("chan") * F.lit(0.07)
        + F.col("source_id") * F.lit(0.19)
    )
    # 9dp quantization: engine-reproducible trig (see gains_table note)
    return g.select(
        "time_bin",
        "antenna",
        "chan",
        "source_id",
        F.round(amp * F.cos(ph), 9).alias("g_re"),
        F.round(amp * F.sin(ph), 9).alias("g_im"),
    )


def dde_gains_sql(time_bins_cte: str, dirs_cte: str) -> str:
    """DuckDB mirror of dde_gains_table; `time_bins_cte`/`dirs_cte` name
    CTEs providing (time_bin) and (source_id) rows."""
    return f"""
  SELECT t.time_bin,
         CAST(a.range AS INT) AS antenna,
         CAST(c.range AS INT) AS chan,
         d.source_id,
         round((1.0 + a.range / 40.0 + c.range / 90.0 + d.source_id / 30.0 + (t.time_bin % 7) / 60.0)
               * cos((t.time_bin % 5) * CAST(0.13 AS DOUBLE) + a.range * CAST(0.11 AS DOUBLE)
                     + c.range * CAST(0.07 AS DOUBLE) + d.source_id * CAST(0.19 AS DOUBLE)), 9) AS g_re,
         round((1.0 + a.range / 40.0 + c.range / 90.0 + d.source_id / 30.0 + (t.time_bin % 7) / 60.0)
               * sin((t.time_bin % 5) * CAST(0.13 AS DOUBLE) + a.range * CAST(0.11 AS DOUBLE)
                     + c.range * CAST(0.07 AS DOUBLE) + d.source_id * CAST(0.19 AS DOUBLE)), 9) AS g_im
  FROM {time_bins_cte} t, range(7) a, range(7) c, {dirs_cte} d
"""


# --------------------------------------------------------------------------
# events-as-stream table (timestamps as exact integer microseconds)
# --------------------------------------------------------------------------

def epoch_us_expr(df: DataFrame, col: str) -> Column:
    """Exact integer epoch-µs from whatever physical type a timestamp
    column landed as: TIMESTAMP(MICROS) parquet reads as timestamp_ntz
    (or timestamp when NTZ inference is off — internally UTC µs either
    way), legacy TIMESTAMP(NANOS) reads as nanos-as-long. All three give
    the same integer grid DuckDB's epoch_us() produces, with no
    session-timezone dependence (an NTZ→TZ cast would silently shift by
    the session zone if the engine confs ever fail to apply)."""
    t = dict(df.dtypes).get(col)
    if t == "timestamp_ntz":
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
        )
    if t == "timestamp":
        return F.unix_micros(F.col(col))
    return F.expr(f"{col} DIV 1000")  # nanos-as-long legacy read


def events_ts_us(ev: DataFrame) -> Column:
    return epoch_us_expr(ev, "ts")


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as exact integer epoch-microseconds — the common
    exact grid between Spark and the DuckDB oracle (see events_ts_us)."""
    ev = load(spark, "events", sf_dir)
    return ev.select(
        "event_id",
        events_ts_us(ev).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


EVENTS_SQL = """
  SELECT event_id,
         CAST(epoch_us(ts) AS BIGINT) AS ts_us,
         user_id,
         event_type,
         value
  FROM events
"""
