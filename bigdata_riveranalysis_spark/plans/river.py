"""Sensor/time-series analytics — the reference's promised analytics layer.

The reference README declares "phát hiện bất thường, cảnh báo"
(anomaly detection + alerting, reference README.md:5-6) but ships no
implementation (SURVEY.md §2b). These queries define that layer as
the engine's canonical semantics, expressed over the ``events``
table (user_id ≈ sensor_id, value ≈ reading, ts ≈ sample time) so the
DuckDB oracle can difference-test them. The same logic applied to the
real river schema (sensor_id, ph/do/tds) lives in
``bigdata_riveranalysis_spark.operators.river_pipeline`` with its own
fixture-driven tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdata_riveranalysis_spark.functions import exact as EX
from bigdata_riveranalysis_spark.plans.registry import query
from bigdata_riveranalysis_spark.sources.tables import load_table

# Rounded averages over the 2-decimal readings go through the exact
# integer-cents formulation — see functions.exact for the why (engine
# half-boundary flips observed at sf0.1) and the corpus-property test
# in tests/test_sinks_and_plans.py.


def _avg4_exact(value_col: str = "value"):
    return EX.avg2to4_exact(value_col)


def _avg4_exact_sql(value_expr: str = "value") -> str:
    return EX.avg2to4_exact_sql(value_expr)


@query(
    "sensor_stats_per_sensor",
    oracle=f"""
    SELECT user_id AS sensor_id,
           count(*)                     AS n_readings,
           round(min(value), 4)         AS min_value,
           round(max(value), 4)         AS max_value,
           {_avg4_exact_sql()}          AS avg_value,
           round(stddev_samp(value), 4) AS std_value
    FROM events
    GROUP BY user_id
    """,
)
def sensor_stats_per_sensor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sensor descriptive statistics (count/min/max/avg/stddev).

    avg_value uses the exact integer formulation (_avg4_exact) — see
    the module comment; min/max are order-free and stddev's
    half-boundary exposure is random, not systematic.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("user_id").alias("sensor_id")).agg(
        F.count("*").alias("n_readings"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        _avg4_exact().alias("avg_value"),
        F.round(F.stddev_samp("value"), 4).alias("std_value"),
    )


@query(
    "sensor_quality_bands",
    oracle=f"""
    SELECT CASE WHEN value < 25  THEN 'low'
                WHEN value < 75  THEN 'normal'
                WHEN value < 150 THEN 'elevated'
                ELSE 'critical' END AS band,
           count(*)             AS n_readings,
           {_avg4_exact_sql()}  AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def sensor_quality_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold banding (the WQI-classification pattern, as CASE).

    Mirrors the WQI band classifier in operators.river_pipeline —
    pure CASE expression, fully codegen'd, no UDF (SURVEY.md §4).
    """
    ev = load_table(spark, sf_dir, "events")
    band = (
        F.when(F.col("value") < 25, "low")
        .when(F.col("value") < 75, "normal")
        .when(F.col("value") < 150, "elevated")
        .otherwise("critical")
    )
    return ev.groupBy(band.alias("band")).agg(
        F.count("*").alias("n_readings"),
        _avg4_exact().alias("avg_value"),
    )


@query(
    "sensor_zscore_anomalies",
    oracle="""
    WITH stats AS (
        SELECT user_id,
               count(*)                                  AS n,
               sum(CAST(round(value * 100) AS BIGINT))   AS s,
               sum(CAST(round(value * 100) AS BIGINT)
                   * CAST(round(value * 100) AS BIGINT)) AS q
        FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id AS sensor_id,
           round(e.value, 4) AS value,
           round((CAST(round(e.value * 100) AS BIGINT) * t.n - t.s)
                 / (100.0 * t.n * sqrt((t.n * t.q - t.s * t.s) / ((t.n * (t.n - 1)) * 10000.0))), 4) AS zscore
    FROM events e JOIN stats t ON e.user_id = t.user_id
    WHERE t.n > 1 AND (t.n * t.q - t.s * t.s) > 0
      AND abs((CAST(round(e.value * 100) AS BIGINT) * t.n - t.s)
              / (100.0 * t.n * sqrt((t.n * t.q - t.s * t.s) / ((t.n * (t.n - 1)) * 10000.0)))) > 2.5
    """,
)
def sensor_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global z-score anomaly detection per sensor (README's 'phát hiện
    bất thường', reference README.md:6 — never implemented there).

    Engine-exact moments: per-sensor (n, Σc, Σc²) are integer
    aggregates over cent-scaled readings (order-independent,
    bit-identical across engines — functions.exact rationale), and
    both engines evaluate the IDENTICAL double expression tree for
    sigma and z from those integers, so z-scores — and the |z| > 2.5
    membership itself — cannot flip on partial-sum ulp differences
    the way stddev_samp-based formulations can. Zero-variance sensors
    are excluded via the INTEGER predicate n·Σc² − (Σc)² > 0 (crisper
    than sigma > 0: no float compare; also guards the ANSI
    divide-by-zero).

    Scale: the per-sensor stats aggregate is tiny (one row per
    sensor) → broadcast back against the readings; no second
    full-data shuffle. Σc² fits a long through ~sf100 group sizes;
    beyond that the same shape runs on DECIMAL sums.
    """
    ev = load_table(spark, sf_dir, "events")
    c = EX.cents("value")
    stats = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(c).alias("s"),
        F.sum(c * c).alias("q"),
    ).filter((F.col("n") > 1) & (F.col("n") * F.col("q") - F.col("s") * F.col("s") > 0))
    # Identical double op-tree to the oracle: (c·n − S) /
    # (100.0 · n · sqrt((n·q − S²) / ((n(n−1)) · 10000.0))).
    num = c * F.col("n") - F.col("s")
    var_frac = (F.col("n") * F.col("q") - F.col("s") * F.col("s")) / (
        (F.col("n") * (F.col("n") - 1)) * F.lit(10000.0)
    )
    z = num / (F.lit(100.0) * F.col("n") * F.sqrt(var_frac))
    return (
        ev.join(F.broadcast(stats), "user_id")
        .filter(F.abs(z) > 2.5)
        .select(
            "event_id",
            F.col("user_id").alias("sensor_id"),
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


@query(
    "sensor_rolling_avg",
    oracle="""
    SELECT event_id, user_id AS sensor_id,
           round(avg(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 4) AS rolling_avg,
           count(*) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)     AS window_n
    FROM events
    """,
)
def sensor_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 6-reading mean per sensor (trend smoothing).

    Deterministic ROWS frame over the unique (ts, event_id) order.
    Scale: one shuffle on sensor key; frames evaluate streaming.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-5, W.currentRow)
    return ev.select(
        "event_id",
        F.col("user_id").alias("sensor_id"),
        F.round(F.avg("value").over(w), 4).alias("rolling_avg"),
        F.count("*").over(w).alias("window_n"),
    )


@query(
    "sensor_monthly_profile",
    oracle=f"""
    SELECT user_id AS sensor_id,
           strftime(date_trunc('month', ts), '%Y-%m') AS month,
           count(*)             AS n_readings,
           {_avg4_exact_sql()}  AS avg_value,
           round(quantile_cont(value, 0.5), 4) AS median_value
    FROM events
    GROUP BY 1, 2
    """,
)
def sensor_monthly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly per-sensor profile with an exact median.

    Spark side uses percentile (exact interpolated), matching
    DuckDB's quantile_cont. At 100 TB swap to percentile_approx —
    kept exact so the oracle hash matches.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("user_id").alias("sensor_id"),
            F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month"),
        )
        .agg(
            F.count("*").alias("n_readings"),
            _avg4_exact().alias("avg_value"),
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("median_value"),
        )
    )


@query(
    "sensor_gapfill_ffill",
    oracle=f"""
    WITH r AS (
        SELECT user_id AS sensor_id, time_bucket(INTERVAL '1 hour', ts) AS h,
               {_avg4_exact_sql()} AS v, count(*) AS n
        FROM events WHERE user_id < 5 GROUP BY 1, 2
    ),
    b AS (SELECT min(h) AS h0, max(h) AS h1 FROM r),
    hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h FROM b),
    grid AS (SELECT s.sensor_id, hours.h
             FROM (SELECT DISTINCT sensor_id FROM r) s CROSS JOIN hours),
    j AS (SELECT g.sensor_id, g.h, r.v, coalesce(r.n, 0) AS n
          FROM grid g LEFT JOIN r ON r.sensor_id = g.sensor_id AND r.h = g.h)
    SELECT sensor_id,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           n AS n_readings,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY sensor_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
           CASE WHEN n = 0 THEN 1 ELSE 0 END AS is_gap
    FROM j
    """,
)
def sensor_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense hourly spine per sensor
    (sequence + explode — generated, not scanned), left-joined to the
    hourly aggregates (exact 4-decimal averages — functions.exact,
    so the carried value is engine-identical), missing hours
    forward-filled with last(ignorenulls) over an unbounded-preceding
    window. This is the
    resample/ffill operator of the README's monitoring dashboard —
    a gap in a sensor's feed must show the last known value, flagged.

    Scale: the spine is sensors × hours rows built from one tiny
    aggregate (no scan); the fill window partitions by sensor, so
    state is one value per sensor per partition. Hot sensors don't
    skew — every sensor has exactly the same spine length.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    hourly = ev.groupBy(
        F.col("user_id").alias("sensor_id"),
        F.date_trunc("hour", "ts").alias("h"),
    ).agg(_avg4_exact().alias("v"), F.count("*").alias("n"))
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    hours = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    grid = hourly.select("sensor_id").distinct().crossJoin(F.broadcast(hours))
    j = grid.join(hourly, ["sensor_id", "h"], "left").select(
        "sensor_id", "h", "v", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = (
        W.partitionBy("sensor_id")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return j.select(
        "sensor_id",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.col("n").alias("n_readings"),
        F.last("v", ignorenulls=True).over(w).alias("value_ffill"),
        F.when(F.col("n") == 0, 1).otherwise(0).alias("is_gap"),
    )


@query(
    "anomaly_mad_sensor",
    oracle="""
    WITH c AS (
        SELECT event_id, user_id, value,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    m AS (SELECT user_id, quantile_cont(c, 0.5) AS med FROM c GROUP BY user_id),
    d AS (SELECT c.*, m.med, abs(c.c - m.med) AS dev
          FROM c JOIN m USING (user_id)),
    md AS (SELECT user_id, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY user_id)
    SELECT d.event_id, d.user_id AS sensor_id, round(d.value, 4) AS value,
           round((d.c - d.med) / (1.4826 * md.mad), 4) AS robust_z
    FROM d JOIN md USING (user_id)
    WHERE md.mad > 0 AND abs(d.c - d.med) > 4.4478 * md.mad
    """,
)
def anomaly_mad_sensor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection via median absolute deviation — the
    outlier-resistant twin of sensor_zscore_anomalies: a sensor whose
    history contains spikes inflates its stddev (masking later
    spikes), but barely moves its median/MAD. Flags |x − med| >
    3·1.4826·MAD (1.4826 = consistency constant making MAD estimate
    σ under normality), reporting the robust z-score.

    Engine-exact without integer moments: the inputs to both
    percentile passes are exactly representable doubles (cent-scaled
    BIGINTs, then deviations on the 0.5 grid), and linear
    interpolation at fraction 0.5 is exact double midpoint math — so
    med, dev, and mad are bit-identical across engines, and the flag
    compare (one rounded multiply, identical op tree) cannot flip.
    Zero-MAD sensors (>50% identical readings) are excluded: every
    deviation would be infinitely anomalous — the caller's signal to
    fall back to the zscore variant.

    Scale: two aggregate passes over the readings (median needs a
    first pass; MAD needs deviations FROM that median), each followed
    by a broadcast of the tiny per-sensor stats — no second full-data
    shuffle for the joins. Exact percentile buffers per-group values
    (same caveat as agg_percentiles_lineitem); at 100 TB both passes
    swap to approx_percentile (t-digest, mergeable partials) with the
    flag threshold unchanged.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("event_id", "user_id", "value", EX.cents("value").alias("c"))
    med = base.groupBy("user_id").agg(F.percentile("c", F.lit(0.5)).alias("med"))
    d = base.join(F.broadcast(med), "user_id").withColumn(
        "dev", F.abs(F.col("c") - F.col("med"))
    )
    mad = d.groupBy("user_id").agg(F.percentile("dev", F.lit(0.5)).alias("mad"))
    return (
        d.join(F.broadcast(mad), "user_id")
        .filter((F.col("mad") > 0) & (F.col("dev") > 4.4478 * F.col("mad")))
        .select(
            "event_id",
            F.col("user_id").alias("sensor_id"),
            F.round("value", 4).alias("value"),
            F.round((F.col("c") - F.col("med")) / (F.lit(1.4826) * F.col("mad")), 4).alias(
                "robust_z"
            ),
        )
    )


@query(
    "sensor_rollup_time_grains",
    oracle=f"""
    WITH b AS (
        SELECT user_id, value,
               date_trunc('hour', ts)  AS h,
               date_trunc('day', ts)   AS d,
               date_trunc('month', ts) AS m
        FROM events
    )
    SELECT user_id AS sensor_id,
           CASE WHEN GROUPING(h) = 0 THEN 'hour'
                WHEN GROUPING(d) = 0 THEN 'day'
                ELSE 'month' END AS grain,
           strftime(coalesce(h, d, m), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
           count(*)             AS n_readings,
           {_avg4_exact_sql()}  AS avg_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value
    FROM b
    GROUP BY GROUPING SETS ((user_id, h), (user_id, d), (user_id, m))
    """,
)
def sensor_rollup_time_grains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: per-sensor stats
    at hour, day, AND month grain from ONE scan — the multi-resolution
    downsampling a time-series store precomputes (cf. TimescaleDB
    continuous aggregates / Druid rollup), as a single GROUPING SETS
    pass.

    Scale: Spark expands the three grains map-side (Expand ×3) but
    partial aggregation collapses each task's expansion to its
    distinct (sensor, bucket) rows before the single shuffle — versus
    three separate jobs re-reading the fact table. The grain label
    derives from GROUPING() (which set produced the row), not from
    NULL-sniffing bucket values, so a genuinely-NULL bucket could
    never mislabel. At 100 TB the monthly/daily rows are the
    dashboard-serving layer; writing them partitioned by grain gives
    readers partition pruning per resolution.
    """
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "user_id",
        "value",
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("month", "ts").alias("m"),
    )
    grain = (
        F.when(F.grouping("h") == 0, "hour")
        .when(F.grouping("d") == 0, "day")
        .otherwise("month")
    )
    return (
        b.groupingSets(
            [["user_id", "h"], ["user_id", "d"], ["user_id", "m"]],
            "user_id", "h", "d", "m",
        )
        .agg(
            grain.alias("grain"),
            F.count("*").alias("n_readings"),
            _avg4_exact().alias("avg_value"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
        .select(
            F.col("user_id").alias("sensor_id"),
            "grain",
            F.date_format(F.coalesce("h", "d", "m"), "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
            "n_readings",
            "avg_value",
            "min_value",
            "max_value",
        )
    )


#: OLS trend x-origin: 2024-01-01 UTC epoch seconds. Shifting x
#: leaves the slope invariant and shrinks x to day-scale magnitudes,
#: so Σx² terms stay ~1e15/row instead of ~3e18 (headroom note in
#: sensor_trend_ols).
TREND_X_EPOCH = 1_704_067_200


@query(
    "sensor_trend_ols",
    oracle=f"""
    WITH b AS (
        SELECT user_id AS sensor_id,
               epoch_us(ts) // 1000000 - {TREND_X_EPOCH} AS x,
               {EX.cents_sql('value')} AS y
        FROM events
    )
    SELECT sensor_id,
           count(*) AS n_readings,
           -- VARCHAR, not HUGEINT: these rational terms exceed 2^53
           -- already at sf0.01 (~3e15), so a pandas-path comparator's
           -- HUGEINT->float64 conversion is LOSSY — the r8 driver
           -- red, reproduced by tools/strictcheck.py. Decimal strings
           -- stay exact at every scale (int64 would overflow ~sf1).
           CAST(CAST(count(*) AS HUGEINT) * CAST(sum(x * y) AS HUGEINT)
             - CAST(sum(x) AS HUGEINT) * CAST(sum(y) AS HUGEINT)
             AS VARCHAR) AS slope_num,
           CAST(CAST(count(*) AS HUGEINT) * CAST(sum(x * x) AS HUGEINT)
             - CAST(sum(x) AS HUGEINT) * CAST(sum(x) AS HUGEINT)
             AS VARCHAR) AS slope_den
    FROM b GROUP BY 1
    HAVING count(*) >= 2
       AND CAST(count(*) AS HUGEINT) * CAST(sum(x * x) AS HUGEINT)
             - CAST(sum(x) AS HUGEINT) * CAST(sum(x) AS HUGEINT) > 0
    """,
)
def sensor_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sensor least-squares trend — the drift detector a sensor
    fleet runs continuously (is this probe's reading creeping?). The
    slope is emitted as the EXACT RATIONAL numerator/denominator pair

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    over integer x (epoch seconds, re-zeroed at TREND_X_EPOCH) and
    integer y (reading cents): no division ever executes, so the
    result hashes bit-identically — the regression sibling of
    agg_stats_corr's moment sums, without corr()'s float tolerance.
    Both terms are emitted as decimal STRINGS: they pass 2^53 at
    sf0.01 and int64 around sf1, so any numeric output dtype is
    either lossy under a pandas-path comparator (the r8 driver red —
    root-caused in r9, tools/strictcheck.py) or a future overflow.
    (A round4 quotient is deliberately NOT emitted: the numerator is
    signed, and the repo's half-up floor identity is exact only for
    nonnegative S — see EX.ratio_round4_sql.)

    Exactness/headroom: all moment sums accumulate in DECIMAL(38,0)
    against DuckDB's HUGEINT — wide_sum's divergence-class fix: even
    a per-row x² of ~1e15 overflows a LONG sum near 1e4 rows/sensor
    (direct decimal casts, not wide_sum, by design). The
    re-zeroed x keeps n·Σx² under ~1e36 out to ~1e9 readings/sensor
    per decade of data; beyond that, re-zero x per epoch window.

    Scale: one scan, one groupBy(sensor_id) with map-side partials —
    the minimal two-shuffle-free aggregate shape; skew is bounded by
    the chattiest sensor, same as every per-sensor rollup here.
    """
    ev = load_table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    b = ev.select(
        F.col("user_id").alias("sensor_id"),
        (F.unix_seconds("ts") - TREND_X_EPOCH).alias("x"),
        EX.cents("value").alias("y"),
    )
    g = b.groupBy("sensor_id").agg(
        F.count("*").alias("n_readings"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
    )
    n = F.col("n_readings").cast(dec)
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    # The DECIMAL(38,0) terms are emitted as STRINGS (after the
    # filter evaluates them numerically): a decimal final column
    # reaches a pandas-path comparator as object-dtype Decimal while
    # DuckDB's HUGEINT arrives as float64 — lossy past 2^53, which
    # slope_den crosses already at sf0.01. Decimal-string rendering
    # is identical in both engines ('-123'), exact at any scale.
    return (
        g.select(
            "sensor_id", "n_readings",
            num.alias("num_d"), den.alias("den_d"),
        )
        .filter((F.col("n_readings") >= 2) & (F.col("den_d") > 0))
        .select(
            "sensor_id",
            "n_readings",
            F.col("num_d").cast("string").alias("slope_num"),
            F.col("den_d").cast("string").alias("slope_den"),
        )
    )
