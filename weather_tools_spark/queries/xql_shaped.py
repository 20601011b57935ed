"""Queries in the exact shapes xql answers (SURVEY.md §3.1, FIXTURES.md §4).

The reference's query surface is: projection + conjunctive coordinate
ranges, time-bucket GROUP BY (daily/monthly/yearly via strftime —
xql/src/xql/apply.py:56-60,134), multi-aggregate output columns named
``{func}_{var}`` (apply.py:155), whole-table aggregates (apply.py:296-299),
ORDER BY/LIMIT/OFFSET (apply.py:326-364), and city/country→bbox predicate
rewriting (where.py:140-171). Disjunctive WHERE is *broken* in the
reference (only the first DNF term runs — where.py:237-238); here OR is
correct because Catalyst evaluates the whole predicate.

The driver's ``events`` table stands in for the weather long-format
table: ``ts`` is the time coordinate, ``value`` a data variable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_tools_spark.catalog import events_time_between, load_table
from weather_tools_spark.functions.geo import bbox_predicate, geo_entity_bbox
from weather_tools_spark.plans.xql import bucket_agg, run_query
from weather_tools_spark.queries import register
from weather_tools_spark.queries.core_sql import _davg, _dsum_round

# city-bbox rewrite target: the same constants are inlined into both the
# Spark plans and the oracle SQL, exactly as the engine's SQL surface does.
_NY = geo_entity_bbox("city", "new york")
_INDIA = geo_entity_bbox("country", "india")


@register(
    "xql_select_filter_range",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-12 00:00:00'
      AND value >= 150.0
    ORDER BY event_id
    """,
)
def xql_select_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + conjunctive range filter — xql query shape #1
    (FIXTURES.md §4.1). All predicates reach the parquet scan: the value
    filter directly, the time range via the pushable ts_ns twin
    predicate (events_time_between)."""
    ev = events_time_between(
        load_table(spark, "events", sf_dir), "2024-01-10 00:00:00", "2024-01-12 00:00:00"
    )
    return (
        ev.filter(F.col("value") >= 150.0)
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


@register(
    "xql_daily_avg",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS time_date,
           round((CAST(sum(CAST(round((value) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000) / count(value), 6) AS avg_value
    FROM events
    GROUP BY time_date
    ORDER BY time_date
    """,
)
def xql_daily_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-bucket aggregate — the reference's flagship query shape
    (`SELECT AVG(x) ... GROUP BY time_date`, apply.py:132-156; bucket
    format apply.py:56-60). Output column named ``{func}_{var}``
    (apply.py:155)."""
    ev = load_table(spark, "events", sf_dir)
    return bucket_agg(
        ev, "time_date", "ts", F.round(_davg(F.col("value")), 6).alias("avg_value")
    ).orderBy("time_date")


@register(
    "xql_monthly_multi_agg",
    oracle="""
    SELECT strftime(ts, '%Y-%m') AS time_month,
           round((CAST(sum(CAST(round((value) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000) / count(value), 6) AS avg_value,
           round(sum(value), 4) AS sum_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value,
           count(*) AS n
    FROM events
    GROUP BY time_month
    ORDER BY time_month
    """,
)
def xql_monthly_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly bucket + multiple aggregate functions per query
    (apply.py:142-156), output names ``{func}_{var}``."""
    ev = load_table(spark, "events", sf_dir)
    return bucket_agg(
        ev, "time_month", "ts",
        F.round(_davg(F.col("value")), 6).alias("avg_value"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.count(F.lit(1)).alias("n"),
    ).orderBy("time_month")


@register(
    "xql_yearly_bucket_by_type",
    oracle="""
    SELECT strftime(ts, '%Y') AS time_year,
           event_type,
           round(sum(value), 4) AS sum_value,
           round(CAST(sum(user_id) AS DOUBLE) / count(user_id), 6) AS avg_user_id
    FROM events
    GROUP BY time_year, event_type
    ORDER BY time_year, event_type
    """,
)
def xql_yearly_bucket_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly bucket + secondary group key; the non-grouped numeric
    coordinate (user_id) is aggregated away — the reference's implicit
    'squeeze' semantics (apply.py:205-222) made explicit."""
    ev = load_table(spark, "events", sf_dir)
    return bucket_agg(
        ev, "time_year", "ts",
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.round(F.sum("user_id").cast("double") / F.count("user_id"), 6).alias("avg_user_id"),
        by=("event_type",),
    ).orderBy("time_year", "event_type")


@register(
    "xql_whole_table_agg",
    oracle="""
    SELECT round((CAST(sum(CAST(round((value) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000) / count(value), 6) AS avg_value,
           round(sum(value), 4) AS sum_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value,
           count(*) AS n
    FROM events
    """,
)
def xql_whole_table_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate without GROUP BY — whole-table reduction (apply.py:296-299)."""
    ev = load_table(spark, "events", sf_dir)
    return ev.agg(
        F.round(_davg(F.col("value")), 6).alias("avg_value"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "xql_where_or",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE (event_type = 'purchase' AND value > 150.0)
       OR (event_type = 'error' AND value < 50.0)
       OR ts >= TIMESTAMP '2024-01-30 00:00:00'
    ORDER BY event_id
    """,
)
def xql_where_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive WHERE — the reference only evaluates the first DNF term
    (where.py:237-238, an acknowledged TODO); this engine computes the
    correct union via ordinary boolean evaluation in Catalyst."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.filter(
            ((F.col("event_type") == "purchase") & (F.col("value") > 150.0))
            | ((F.col("event_type") == "error") & (F.col("value") < 50.0))
            | (F.col("ts") >= F.lit("2024-01-30 00:00:00").cast("timestamp"))
        )
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


@register(
    "xql_orderby_limit_offset",
    oracle="""
    SELECT event_id, value
    FROM events
    ORDER BY value DESC, event_id
    LIMIT 15 OFFSET 10
    """,
)
def xql_orderby_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY multi-key + LIMIT/OFFSET, distributed (vs. the reference's
    driver-side pandas sort, apply.py:326-364)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.select("event_id", "value")
        .orderBy(F.col("value").desc(), F.col("event_id"))
        .offset(10)
        .limit(15)
    )


@register(
    "xql_flagship_weather_query",
    oracle=f"""
    WITH geo AS (
      SELECT ts, value,
             (user_id % 180) - 90.0 + 0.25  AS latitude,
             (event_id % 360) - 180.0 + 0.5 AS longitude
      FROM events
    )
    SELECT strftime(ts, '%Y-%m-%d') AS time_date,
           round((CAST(sum(CAST(round((value) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000)
                 / count(value), 6) AS avg_value
    FROM geo
    WHERE latitude  >= {_INDIA[0]} AND latitude  <= {_INDIA[1]}
      AND longitude >= {_INDIA[2]} AND longitude <= {_INDIA[3]}
      AND ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts <  TIMESTAMP '2024-01-25 00:00:00'
    GROUP BY time_date
    ORDER BY time_date
    """,
)
def xql_flagship_weather_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship query shape in full (xql/README.md:
    `SELECT AVG('temperature') FROM era5 WHERE country = 'india' AND
    time range GROUP BY time_date`): geo-entity→bbox rewrite +
    event-time range (pushed down via ts_ns) + daily bucket +
    exact-mean — every §3.1 lifecycle stage composed in one
    oracle-checked query."""
    ev = events_time_between(
        load_table(spark, "events", sf_dir), "2024-01-05 00:00:00", "2024-01-25 00:00:00"
    )
    geo = ev.select(
        "ts",
        "value",
        ((F.col("user_id") % 180) - 90.0 + 0.25).alias("latitude"),
        ((F.col("event_id") % 360) - 180.0 + 0.5).alias("longitude"),
    )
    return bucket_agg(
        geo.filter(bbox_predicate(F.col("latitude"), F.col("longitude"), _INDIA)),
        "time_date", "ts", F.round(_davg(F.col("value")), 6).alias("avg_value"),
    ).orderBy("time_date")


@register(
    "xql_sql_surface_daily",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS time_date,
           round(avg(value), 4) AS avg_value,
           count(*) AS n
    FROM events
    GROUP BY time_date
    ORDER BY time_date
    """,
)
def xql_sql_surface_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end through the engine's SQL surface: the raw xql-dialect
    text (quoted agg args + time_date shorthand) is rewritten by
    plans.xql and executed via spark.sql — the full §3.1 lifecycle in
    one oracle-checked query."""
    load_table(spark, "events", sf_dir).createOrReplaceTempView("events")
    df = run_query(
        spark,
        "SELECT time_date, AVG('value'), COUNT(*) AS n FROM events "
        "GROUP BY time_date ORDER BY time_date",
        time_col="ts",
    )
    return df.select(
        "time_date", F.round("avg_value", 4).alias("avg_value"), "n"
    )


@register(
    "null_handling_aggregates",
    oracle="""
    WITH t AS (
      SELECT event_type,
             CASE WHEN value < 10.0 THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_type,
           count(*) AS n_rows,
           count(v) AS n_non_null,
           round(CAST(sum(CAST(round((v) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 100, 0) / 10000 AS sum_v,
           round(min(v), 4) AS min_v
    FROM t GROUP BY event_type ORDER BY event_type
    """,
)
def null_handling_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-skipping aggregate semantics over a nullable derived column —
    the engine-side counterpart of the reference's NaN/NaT→NULL scrub
    (weather_mv util.py:88-99): aggregates skip NULLs, count(*) does not."""
    ev = load_table(spark, "events", sf_dir)
    v = F.when(F.col("value") < 10.0, F.lit(None)).otherwise(F.col("value"))
    return (
        ev.select("event_type", v.alias("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("v").alias("n_non_null"),
            _dsum_round(F.col("v"), 4).alias("sum_v"),
            F.round(F.min("v"), 4).alias("min_v"),
        )
        .orderBy("event_type")
    )




@register(
    "xql_city_bbox_rewrite",
    oracle=f"""
    WITH geo AS (
      SELECT event_id, event_type, value,
             (user_id % 180) - 90.0 + 0.25  AS latitude,
             (event_id % 360) - 180.0 + 0.5 AS longitude
      FROM events
    )
    SELECT event_type, count(*) AS n, round((CAST(sum(CAST(round((value) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000) / count(value), 6) AS avg_value
    FROM geo
    WHERE latitude  >= {_NY[0]} AND latitude  <= {_NY[1]}
      AND longitude >= {_NY[2]} AND longitude <= {_NY[3]}
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def xql_city_bbox_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``city = 'new york'`` → bbox conjunction rewrite (where.py:140-171,
    tables constant.py:16-34). Synthetic lat/lon are derived from integer
    keys (exact arithmetic on both engines) since the driver tables carry
    no coordinates; the rewrite itself — entity name → bbox literals at
    plan-build time — is the operator under test."""
    ev = load_table(spark, "events", sf_dir)
    geo = ev.select(
        "event_id",
        "event_type",
        "value",
        ((F.col("user_id") % 180) - 90.0 + 0.25).alias("latitude"),
        ((F.col("event_id") % 360) - 180.0 + 0.5).alias("longitude"),
    )
    return (
        geo.filter(bbox_predicate(F.col("latitude"), F.col("longitude"), _NY))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(_davg(F.col("value")), 6).alias("avg_value"))
        .orderBy("event_type")
    )


@register(
    "geo_webmercator_project",
    oracle="""
    WITH geo AS (
      SELECT DISTINCT
             (user_id % 180) - 90.0 + 0.25  AS latitude,
             (event_id % 360) - 180.0 + 0.5 AS longitude
      FROM events
    )
    SELECT latitude, longitude,
           round(longitude * 6378137.0 * pi() / 180, 3) AS x,
           round(6378137.0 * ln(tan(pi()/4 + latitude * pi()/360)), 3) AS y
    FROM geo
    ORDER BY latitude, longitude
    """,
)
def geo_webmercator_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRS transform surface (EPSG:4326 → 3857) over the synthetic grid
    points — the closed-form Web-Mercator projection as JVM column
    expressions; rounded to millimeters so the last-ulp libm difference
    between engines (measured ≤1e-9 m) can't flip the hash gate."""
    from weather_tools_spark.functions.geo import webmercator_xy

    ev = load_table(spark, "events", sf_dir)
    geo = ev.select(
        ((F.col("user_id") % 180) - 90.0 + 0.25).alias("latitude"),
        ((F.col("event_id") % 360) - 180.0 + 0.5).alias("longitude"),
    ).distinct()
    x, y = webmercator_xy(F.col("latitude"), F.col("longitude"))
    return geo.select(
        "latitude", "longitude", F.round(x, 3).alias("x"), F.round(y, 3).alias("y")
    ).orderBy("latitude", "longitude")


@register(
    "weather_ensemble_stats",
    oracle="""
    WITH cube AS (
      SELECT n.i AS num, la.i AS lai, lo.i AS loi,
             n.i * 3 + la.i * 17 + lo.i * 5 + 0.25
             + CASE WHEN n.i % 2 = 1 THEN 1.5 ELSE 0 END AS d2m
      FROM (SELECT unnest(range(0, 10)) AS i) n,
           (SELECT unnest(range(0, 3)) AS i) la,
           (SELECT unnest(range(0, 4)) AS i) lo
    )
    SELECT round(48.0 - lai * 0.5, 2) AS latitude,
           round(5.0 + loi * 0.5, 2) AS longitude,
           CAST(count(*) AS BIGINT) AS n_members,
           round(avg(d2m), 6) AS ens_mean,
           round(stddev_samp(d2m), 6) AS ens_spread,
           round(min(d2m), 6) AS ens_min,
           round(max(d2m), 6) AS ens_max,
           round(quantile_cont(d2m, 0.5), 6) AS ens_median
    FROM cube
    GROUP BY lai, loi
    ORDER BY latitude DESC, longitude
    """,
)
def weather_ensemble_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble (`number`) axis semantics: the hypercube's canonical
    coordinate set includes the ensemble member (reference sinks.py:44,
    frozenset with 'number'); forecast products aggregate ACROSS
    members per grid cell — ensemble mean, spread (sample stddev),
    envelope, and median. One map-combinable groupBy over (cell); the
    deterministic member perturbation makes every statistic an exact
    function of indices for the DuckDB oracle."""
    nm, nla, nlo = 10, 3, 4
    cube = (
        spark.range(nm * nla * nlo)
        .select(
            (F.col("id") / (nla * nlo)).cast("long").alias("num"),
            ((F.col("id") / nlo) % nla).cast("long").alias("lai"),
            (F.col("id") % nlo).alias("loi"),
        )
        .select(
            "lai",
            "loi",
            (
                F.col("num") * 3 + F.col("lai") * 17 + F.col("loi") * 5 + 0.25
                + F.when(F.col("num") % 2 == 1, 1.5).otherwise(0.0)
            ).alias("d2m"),
        )
    )
    return (
        cube.groupBy("lai", "loi")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("d2m"), 6).alias("ens_mean"),
            F.round(F.stddev_samp("d2m"), 6).alias("ens_spread"),
            F.round(F.min("d2m"), 6).alias("ens_min"),
            F.round(F.max("d2m"), 6).alias("ens_max"),
            F.round(F.expr("percentile(d2m, 0.5)"), 6).alias("ens_median"),
        )
        .select(
            F.round(48.0 - F.col("lai") * 0.5, 2).alias("latitude"),
            F.round(5.0 + F.col("loi") * 0.5, 2).alias("longitude"),
            "n_members", "ens_mean", "ens_spread", "ens_min", "ens_max", "ens_median",
        )
        .orderBy(F.col("latitude").desc(), "longitude")
    )


@register(
    "weather_forecast_leadtime",
    oracle="""
    WITH fc AS (
      SELECT r.i AS run_i, s.i AS step_i,
             TIMESTAMP '2024-05-01 00:00:00' + to_hours(12 * r.i) AS run_time,
             12 * r.i + 6 * s.i AS valid_h,
             6 * s.i AS lead_h,
             (12 * r.i + 6 * s.i) * 1.5 + 6 * s.i * 0.25 AS d2m
      FROM (SELECT unnest(range(0, 4)) AS i) r,
           (SELECT unnest(range(0, 8)) AS i) s
    )
    SELECT CAST(lead_h * 3600 AS DOUBLE) AS step_seconds,
           CAST(count(*) AS BIGINT) AS n_forecasts,
           round(avg(d2m), 6) AS avg_d2m,
           CAST(min(run_time + to_hours(lead_h)) AS TIMESTAMP) AS first_valid_time,
           CAST(max(run_time + to_hours(lead_h)) AS TIMESTAMP) AS last_valid_time
    FROM fc
    GROUP BY lead_h
    ORDER BY step_seconds
    """,
)
def weather_forecast_leadtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast `step`/`valid_time` semantics: the reference stores the
    timedelta step as SECONDS-as-FLOAT64 (bq.py:440-441,
    util.py:121-125) and derives valid_time = time + step. Aggregating
    by lead time across runs is the forecast-verification shape: one
    groupBy on the step column, with valid_time reconstructed as a
    timestamp interval add — both recomputed independently by the
    oracle."""
    nr, ns = 4, 8
    fc = (
        spark.range(nr * ns)
        .select(
            (F.col("id") / ns).cast("long").alias("run_i"),
            (F.col("id") % ns).alias("step_i"),
        )
        .select(
            (
                F.lit("2024-05-01 00:00:00").cast("timestamp")
                + F.make_interval(hours=F.col("run_i") * 12)
            ).alias("time"),
            (F.col("step_i") * 6 * 3600).cast("double").alias("step_seconds"),
            (
                (F.col("run_i") * 12 + F.col("step_i") * 6) * 1.5
                + F.col("step_i") * 6 * 0.25
            ).alias("d2m"),
        )
    )
    valid = fc.withColumn(
        "valid_time",
        F.col("time") + F.make_interval(secs=F.col("step_seconds")),
    )
    return (
        valid.groupBy("step_seconds")
        .agg(
            F.count(F.lit(1)).alias("n_forecasts"),
            F.round(F.avg("d2m"), 6).alias("avg_d2m"),
            F.min("valid_time").alias("first_valid_time"),
            F.max("valid_time").alias("last_valid_time"),
        )
        .orderBy("step_seconds")
    )


def _lcc_params():
    from weather_tools_spark.functions.geo import lambert_conformal_params

    # CONUS-style secant cone (NAM/HRRR-family constants)
    return lambert_conformal_params(lat1=33.0, lat2=45.0, lat0=39.0, lon0=-96.0)


_LCC = _lcc_params()

@register(
    "geo_lambert_project",
    oracle=f"""
    WITH geo AS (
      SELECT DISTINCT
             (user_id % 120) - 50.0 + 0.25  AS latitude,
             (event_id % 360) - 180.0 + 0.5 AS longitude
      FROM events
    )
    SELECT latitude, longitude,
           round({_LCC['R'] * _LCC['F']!r}
                 / pow(tan(pi()/4 + latitude * pi()/360), {_LCC['n']!r})
                 * sin((longitude - {_LCC['lon0']!r}) * {_LCC['n']!r} * pi()/180),
                 3) AS x,
           round({_LCC['rho0']!r}
                 - {_LCC['R'] * _LCC['F']!r}
                   / pow(tan(pi()/4 + latitude * pi()/360), {_LCC['n']!r})
                   * cos((longitude - {_LCC['lon0']!r}) * {_LCC['n']!r} * pi()/180),
                 3) AS y
    FROM geo
    ORDER BY latitude, longitude
    """,
)
def geo_lambert_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRS transform surface #2: spherical Lambert conformal conic (the
    GRIB template 3.30 projection of NAM/HRRR-style forecast grids)
    over synthetic grid points spanning −49.75°…69.25° — the full
    latitude band such grids occupy. Derived cone constants (n, F, ρ0)
    are computed once driver-side (functions/geo.py
    lambert_conformal_params) and embedded as literals in BOTH the
    Spark expression and the DuckDB oracle, which recomputes the
    projection with its own trig — millimeter rounding keeps last-ulp
    libm differences out of the hash. Reference semantics: pyproj
    reproject, weather_mv loader_pipeline/sinks.py:149-227."""
    from weather_tools_spark.functions.geo import lambert_conformal_xy

    ev = load_table(spark, "events", sf_dir)
    geo = ev.select(
        ((F.col("user_id") % 120) - 50.0 + 0.25).alias("latitude"),
        ((F.col("event_id") % 360) - 180.0 + 0.5).alias("longitude"),
    ).distinct()
    x, y = lambert_conformal_xy(F.col("latitude"), F.col("longitude"), _LCC)
    return geo.select(
        "latitude", "longitude", F.round(x, 3).alias("x"), F.round(y, 3).alias("y")
    ).orderBy("latitude", "longitude")


# ---------------------------------------------------------------------------
# Ellipsoidal CRS transforms (functions/geodesy.py)
# ---------------------------------------------------------------------------


def _utm_oracle_sql() -> str:
    """Build the DuckDB twin of the Krüger-series UTM forward. The
    series coefficients (exact rationals in the third flattening,
    functions/geodesy.krueger_coeffs) are embedded as literals; sinh /
    cosh / asinh — absent in DuckDB — are written out via exp/ln. The
    oracle therefore recomputes the projection from first principles
    with DuckDB's own libm, and the mm rounding keeps last-ulp
    differences out of the hash gate."""
    from weather_tools_spark.functions.geodesy import utm_params

    p = utm_params(zone=31)
    e, ka, lon0 = p["e"], p["kA"], p["lon0"]
    xi_terms, eta_terms = [], []
    for j in range(1, 7):
        aj = p["alpha"][j]
        tj = float(2 * j)
        xi_terms.append(
            f"{aj!r} * sin({tj!r} * xip) * (exp({tj!r} * etap) + exp(-{tj!r} * etap)) / 2"
        )
        eta_terms.append(
            f"{aj!r} * cos({tj!r} * xip) * (exp({tj!r} * etap) - exp(-{tj!r} * etap)) / 2"
        )
    xi_sum = " + ".join(xi_terms)
    eta_sum = " + ".join(eta_terms)
    return f"""
    WITH geo AS (
      SELECT DISTINCT
             (user_id % 160) - 80.0 + 0.25 AS latitude,
             (event_id % 6) + 0.25         AS longitude
      FROM events
    ), ang AS (
      SELECT latitude, longitude,
             radians(latitude) AS phi,
             radians(longitude - {lon0!r}) AS lam
      FROM geo
    ), conf AS (
      SELECT latitude, longitude, lam, tan(phi) AS tau,
             (pow((1 + {e!r} * sin(phi)) / (1 - {e!r} * sin(phi)), {e / 2.0!r})
              - pow((1 + {e!r} * sin(phi)) / (1 - {e!r} * sin(phi)), {-e / 2.0!r})) / 2
               AS sigma
      FROM ang
    ), gs AS (
      SELECT latitude, longitude, lam,
             tau * sqrt(1 + sigma * sigma) - sigma * sqrt(1 + tau * tau) AS taup
      FROM conf
    ), gs2 AS (
      SELECT latitude, longitude,
             atan2(taup, cos(lam)) AS xip,
             ln(sin(lam) / sqrt(taup * taup + cos(lam) * cos(lam))
                + sqrt(sin(lam) * sin(lam) / (taup * taup + cos(lam) * cos(lam)) + 1))
               AS etap
      FROM gs
    ), series AS (
      SELECT latitude, longitude,
             xip + {xi_sum} AS xi,
             etap + {eta_sum} AS eta
      FROM gs2
    )
    SELECT latitude, longitude,
           round(500000.0 + {ka!r} * eta, 3) AS x,
           round({ka!r} * xi, 3) AS y
    FROM series
    ORDER BY latitude, longitude
    """


@register("geo_utm_project", oracle=_utm_oracle_sql())
def geo_utm_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRS transform surface #3: ELLIPSOIDAL transverse Mercator —
    EPSG:32631 (UTM zone 31N on WGS84) — via the Krüger series
    (functions/geodesy.py), the same algorithm GeographicLib/proj use
    for UTM. The reference delegates this to pyproj
    (weather_mv loader_pipeline/sinks.py:149-227); here the full series
    is a JVM column expression tree and the DuckDB oracle recomputes it
    from the same driver-side constants with its own trig/exp. Points
    span latitudes −79.75°…79.25° within the zone's longitude band."""
    from weather_tools_spark.functions.geodesy import transverse_mercator_ell_xy, utm_params

    p = utm_params(zone=31)
    ev = load_table(spark, "events", sf_dir)
    geo = ev.select(
        ((F.col("user_id") % 160) - 80.0 + 0.25).alias("latitude"),
        ((F.col("event_id") % 6) + 0.25).alias("longitude"),
    ).distinct()
    x, y = transverse_mercator_ell_xy(F.col("latitude"), F.col("longitude"), p)
    return geo.select(
        "latitude", "longitude", F.round(x, 3).alias("x"), F.round(y, 3).alias("y")
    ).orderBy("latitude", "longitude")


def _datum_oracle_sql() -> str:
    from weather_tools_spark.functions.geodesy import WGS84
    import math as _m

    a, e2 = WGS84.a, WGS84.e2
    tx, ty, tz, rx, ry, rz, s_ppm = -446.448, 125.157, -542.06, -0.1502, -0.247, -0.8421, 20.4894
    asec = _m.pi / 648000.0
    rxr, ryr, rzr, sc = rx * asec, ry * asec, rz * asec, 1.0 + s_ppm * 1e-6
    return f"""
    WITH geo AS (
      SELECT DISTINCT
             (user_id % 170) - 85.0 + 0.5   AS latitude,
             (event_id % 360) - 180.0 + 0.5 AS longitude,
             (user_id % 9) * 250.0          AS h
      FROM events
    ), ecef AS (
      SELECT latitude, longitude, h,
             ({a!r} / sqrt(1 - {e2!r} * sin(radians(latitude)) * sin(radians(latitude))) + h)
               * cos(radians(latitude)) * cos(radians(longitude)) AS ex,
             ({a!r} / sqrt(1 - {e2!r} * sin(radians(latitude)) * sin(radians(latitude))) + h)
               * cos(radians(latitude)) * sin(radians(longitude)) AS ey,
             ({a!r} / sqrt(1 - {e2!r} * sin(radians(latitude)) * sin(radians(latitude))) * (1 - {e2!r}) + h)
               * sin(radians(latitude)) AS ez
      FROM geo
    )
    SELECT latitude, longitude, h,
           round(({tx!r}) + ({sc!r}) * (ex - ({rzr!r}) * ey + ({ryr!r}) * ez), 3) AS x,
           round(({ty!r}) + ({sc!r}) * (({rzr!r}) * ex + ey - ({rxr!r}) * ez), 3) AS y,
           round(({tz!r}) + ({sc!r}) * (({(-ryr)!r}) * ex + ({rxr!r}) * ey + ez), 3) AS z
    FROM ecef
    ORDER BY latitude, longitude, h
    """


@register("geo_datum_shift", oracle=_datum_oracle_sql())
def geo_datum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datum-shift pipeline: geodetic (WGS84) → ECEF → 7-parameter
    Helmert (position-vector convention, OSGB-magnitude parameters) —
    the standard CRS datum leg pyproj performs inside the reference's
    reprojection (sinks.py:149-227), as three closed-form JVM column
    expressions (functions/geodesy.py geodetic_to_ecef +
    helmert_transform). Oracle recomputes both legs in SQL; mm
    rounding absorbs libm ulp drift."""
    from weather_tools_spark.functions.geodesy import geodetic_to_ecef, helmert_transform

    ev = load_table(spark, "events", sf_dir)
    geo = ev.select(
        ((F.col("user_id") % 170) - 85.0 + 0.5).alias("latitude"),
        ((F.col("event_id") % 360) - 180.0 + 0.5).alias("longitude"),
        ((F.col("user_id") % 9) * 250.0).alias("h"),
    ).distinct()
    ex, ey, ez = geodetic_to_ecef(F.col("latitude"), F.col("longitude"), F.col("h"))
    x, y, z = helmert_transform(
        ex, ey, ez, (-446.448, 125.157, -542.06, -0.1502, -0.247, -0.8421, 20.4894)
    )
    return geo.select(
        "latitude", "longitude", "h",
        F.round(x, 3).alias("x"), F.round(y, 3).alias("y"), F.round(z, 3).alias("z"),
    ).orderBy("latitude", "longitude", "h")


# ---------------------------------------------------------------------------
# Climatology analytics over the hypercube row model
# ---------------------------------------------------------------------------

# Deterministic 3-year × 365-day × (2×3)-cell temperature cube: seasonal
# cycle + per-cell offset + a year trend + a deterministic pseudo-noise
# term — every statistic is an exact function of indices, so the DuckDB
# oracle recomputes the whole pipeline arithmetically.
_CLIM_YEARS, _CLIM_DAYS, _CLIM_LA, _CLIM_LO = 3, 365, 2, 3
_CLIM_CUBE_SQL = f"""
      SELECT y.i AS year_i, d.i AS doy, la.i AS lai, lo.i AS loi,
             15.0 + 10.0 * sin(2 * pi() * d.i / 365.0)
                  + la.i * 2.5 - lo.i * 1.25
                  + y.i * 0.3
                  + ((y.i * 7919 + d.i * 104729 + la.i * 1299709 + lo.i * 15485863) % 97) / 97.0 - 0.5
               AS t2m
      FROM (SELECT unnest(range(0, {_CLIM_YEARS})) AS i) y,
           (SELECT unnest(range(0, {_CLIM_DAYS})) AS i) d,
           (SELECT unnest(range(0, {_CLIM_LA})) AS i) la,
           (SELECT unnest(range(0, {_CLIM_LO})) AS i) lo
"""


def _clim_cube(spark: SparkSession) -> DataFrame:
    n = _CLIM_YEARS * _CLIM_DAYS * _CLIM_LA * _CLIM_LO
    per_year = _CLIM_DAYS * _CLIM_LA * _CLIM_LO
    return (
        spark.range(n)
        .select(
            (F.col("id") / per_year).cast("long").alias("year_i"),
            ((F.col("id") / (_CLIM_LA * _CLIM_LO)) % _CLIM_DAYS).cast("long").alias("doy"),
            ((F.col("id") / _CLIM_LO) % _CLIM_LA).cast("long").alias("lai"),
            (F.col("id") % _CLIM_LO).alias("loi"),
        )
        .withColumn(
            "t2m",
            15.0 + 10.0 * F.sin(2 * F.lit(__import__("math").pi) * F.col("doy") / 365.0)
            + F.col("lai") * 2.5 - F.col("loi") * 1.25
            + F.col("year_i") * 0.3
            + ((F.col("year_i") * 7919 + F.col("doy") * 104729
                + F.col("lai") * 1299709 + F.col("loi") * 15485863) % 97) / 97.0 - 0.5,
        )
    )


@register(
    "weather_climatology_anomaly",
    oracle=f"""
    WITH cube AS ({_CLIM_CUBE_SQL}),
    clim AS (
      SELECT doy, lai, loi,
             (CAST(sum(CAST(round((t2m) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000)
               / count(t2m) AS clim_t2m
      FROM cube GROUP BY doy, lai, loi
    ),
    anom AS (
      SELECT c.year_i, c.lai, c.loi, c.t2m - m.clim_t2m AS anomaly
      FROM cube c JOIN clim m USING (doy, lai, loi)
    )
    SELECT year_i, lai, loi,
           round((CAST(sum(CAST(round((anomaly) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000)
                 / count(anomaly), 6) AS mean_anomaly,
           round(max(abs(anomaly)), 6) AS max_abs_anomaly,
           round(sum(CASE WHEN anomaly > 0 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS warm_fraction
    FROM anom GROUP BY year_i, lai, loi
    ORDER BY year_i, lai, loi
    """,
)
def weather_climatology_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Climatology + anomaly — THE canonical reanalysis workflow (e.g.
    ERA5 'temperature anomaly vs the day-of-year climatology'): compute
    the per-(day-of-year, cell) mean across years, join it back, and
    aggregate per (year, cell). Both stages are map-combinable
    aggregations on (doy, cell) keys — partial aggregation on every
    executor, one shuffle each; the climatology frame (days × cells,
    tiny next to the fact cube) broadcasts into the join at scale.

    Float determinism (found by the r11 local-cluster sweep — the FIRST
    defect the multi-process axis surfaced): the climatology mean and
    the anomaly mean use the integer-scaled exact sum (_davg) on BOTH
    engines, not a raw avg(). A raw avg's partial-merge order changes
    with the partitioning (local[32] vs 2-executor local-cluster split
    spark.range differently), and anomalies of a cell's OWN years sit
    near zero, so the last ulp of clim_t2m flips `anomaly > 0` and with
    it warm_fraction — 6 of 18 rows diverged across the process
    boundary while every single-JVM run had matched DuckDB."""
    cube = _clim_cube(spark)
    clim = cube.groupBy("doy", "lai", "loi").agg(_davg(F.col("t2m")).alias("clim_t2m"))
    anom = cube.join(F.broadcast(clim), ["doy", "lai", "loi"]).withColumn(
        "anomaly", F.col("t2m") - F.col("clim_t2m")
    )
    return (
        anom.groupBy("year_i", "lai", "loi")
        .agg(
            F.round(_davg(F.col("anomaly")), 6).alias("mean_anomaly"),
            F.round(F.max(F.abs(F.col("anomaly"))), 6).alias("max_abs_anomaly"),
            F.round(
                F.sum(F.when(F.col("anomaly") > 0, 1).otherwise(0)) / F.count(F.lit(1)), 6
            ).alias("warm_fraction"),
        )
        .orderBy("year_i", "lai", "loi")
    )


@register(
    "weather_degree_days",
    oracle=f"""
    WITH cube AS ({_CLIM_CUBE_SQL})
    SELECT year_i, lai, loi,
           round(sum(greatest(0, 18.0 - t2m)), 6) AS hdd,
           round(sum(greatest(0, t2m - 18.0)), 6) AS cdd,
           CAST(sum(CASE WHEN t2m < 0 THEN 1 ELSE 0 END) AS BIGINT) AS frost_days
    FROM cube GROUP BY year_i, lai, loi
    ORDER BY year_i, lai, loi
    """,
)
def weather_degree_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heating/cooling degree-days + frost-day counts per (year, cell) —
    the standard energy-sector aggregation over a temperature series
    (base 18 °C). One map-combinable groupBy; every input is an exact
    function of indices, so the oracle recomputes it bit-for-bit."""
    cube = _clim_cube(spark)
    return (
        cube.groupBy("year_i", "lai", "loi")
        .agg(
            F.round(F.sum(F.greatest(F.lit(0.0), 18.0 - F.col("t2m"))), 6).alias("hdd"),
            F.round(F.sum(F.greatest(F.lit(0.0), F.col("t2m") - 18.0)), 6).alias("cdd"),
            F.sum(F.when(F.col("t2m") < 0, 1).otherwise(0)).alias("frost_days"),
        )
        .orderBy("year_i", "lai", "loi")
    )


# ---------------------------------------------------------------------------
# Spatial radius join via grid bucketing
# ---------------------------------------------------------------------------

_RJ_KM = 150.0            # match radius
_RJ_EARTH = 6371.0088     # IUGG mean earth radius, km
_RJ_DLAT = 1.5            # cell height deg  (> 150 km / 111.19 ≈ 1.35)
_RJ_DLON = 3.0            # cell width deg at |lat| ≤ 60 (> 150/55.6 ≈ 2.70)

_RJ_HAV = (
    "2 * {re} * asin(sqrt("
    "pow(sin(radians(({lat_b}) - ({lat_a})) / 2), 2)"
    " + cos(radians({lat_a})) * cos(radians({lat_b}))"
    " * pow(sin(radians(({lon_b}) - ({lon_a})) / 2), 2)))"
)


@register(
    "geo_radius_join_bucketed",
    oracle=f"""
    WITH stations AS (
      SELECT DISTINCT (user_id % 97) * 1.23 - 59.0 AS lat,
                      (user_id % 89) * 4.01 - 178.0 AS lon,
                      user_id % 97 * 89 + user_id % 89 AS sid
      FROM events WHERE user_id % 7 = 0
    ), obs AS (
      SELECT DISTINCT (event_id % 113) * 1.06 - 59.5 AS lat,
                      (event_id % 127) * 2.83 - 179.0 AS lon,
                      event_id % 113 * 127 + event_id % 127 AS oid
      FROM events
    ), pairs AS (
      SELECT s.sid, o.oid,
             {_RJ_HAV.format(re=_RJ_EARTH, lat_a='s.lat', lon_a='s.lon', lat_b='o.lat', lon_b='o.lon')} AS d
      FROM stations s JOIN obs o ON abs(s.lat - o.lat) <= {_RJ_DLAT!r} * 1.5
    )
    SELECT sid, oid, round(d, 3) AS dist_km
    FROM pairs WHERE d <= {_RJ_KM!r}
    ORDER BY sid, oid
    """,
)
def geo_radius_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join (all station↔observation pairs within 150 km)
    WITHOUT a cross join: both sides bucket into a fixed lat/lon grid
    sized so any qualifying pair lands in adjacent cells (Δlat=1.5° >
    150 km meridionally; Δlon=3° > 150 km zonally at the |lat| ≤ 60°
    band these points occupy), each observation fans out to its 3×3
    neighborhood (a 9× map-side explode), and the pair search becomes
    an EQUI-join on the cell key — shuffle-partitioned by cell,
    broadcastable when one side is small, exact haversine applied after.
    This is the canonical distributed spatial-join topology (same plan
    family as the as-of and range joins). The oracle uses a latitude
    band-join + brute-force haversine — different plan, same answer."""
    ev = load_table(spark, "events", sf_dir)
    stations = (
        ev.filter(F.col("user_id") % 7 == 0)
        .select(
            ((F.col("user_id") % 97) * 1.23 - 59.0).alias("lat"),
            ((F.col("user_id") % 89) * 4.01 - 178.0).alias("lon"),
            ((F.col("user_id") % 97) * 89 + (F.col("user_id") % 89)).alias("sid"),
        )
        .distinct()
    )
    obs = ev.select(
        ((F.col("event_id") % 113) * 1.06 - 59.5).alias("lat"),
        ((F.col("event_id") % 127) * 2.83 - 179.0).alias("lon"),
        ((F.col("event_id") % 113) * 127 + (F.col("event_id") % 127)).alias("oid"),
    ).distinct()
    ci = F.floor(F.col("lat") / _RJ_DLAT).cast("int")
    cj = F.floor(F.col("lon") / _RJ_DLON).cast("int")
    st_cells = stations.select("sid", "lat", "lon", ci.alias("ci"), cj.alias("cj"))
    offsets = spark.createDataFrame(
        [(di, dj) for di in (-1, 0, 1) for dj in (-1, 0, 1)], "di int, dj int"
    )
    ob_cells = (
        obs.crossJoin(F.broadcast(offsets))
        .select(
            "oid", "lat", "lon",
            (ci + F.col("di")).alias("ci"), (cj + F.col("dj")).alias("cj"),
        )
    )
    joined = st_cells.alias("s").join(ob_cells.alias("o"), ["ci", "cj"])
    dist = F.expr(
        _RJ_HAV.format(re=_RJ_EARTH, lat_a="s.lat", lon_a="s.lon", lat_b="o.lat", lon_b="o.lon")
    )
    return (
        joined.select("sid", "oid", dist.alias("d"))
        .filter(F.col("d") <= _RJ_KM)
        .select("sid", "oid", F.round("d", 3).alias("dist_km"))
        .orderBy("sid", "oid")
    )


@register(
    "weather_derived_variables",
    oracle="""
    WITH cube AS (
      SELECT la.i AS lai, h.i AS hour, d.i AS doy,
             30.0 - la.i * 20.0 AS lat,
             5.0 * sin(d.i * 0.7 + la.i) + h.i * 0.3 - 2.0 AS u10,
             4.0 * cos(d.i * 0.9 + h.i * 0.5) + la.i * 0.5 AS v10
      FROM (SELECT unnest(range(0, 4)) AS i) la,
           (SELECT unnest(range(0, 24, 4)) AS i) h,
           (SELECT unnest(range(0, 30)) AS i) d
    ), derived AS (
      SELECT lat, hour,
             sqrt(u10 * u10 + v10 * v10) AS speed,
             sin(radians(270.0 - degrees(atan2(v10, u10)))) AS dsin,
             cos(radians(270.0 - degrees(atan2(v10, u10)))) AS dcos,
             sin(radians(lat)) * sin(radians(-23.44 * cos(2 * pi() * (doy + 10) / 365.0)))
             + cos(radians(lat)) * cos(radians(-23.44 * cos(2 * pi() * (doy + 10) / 365.0)))
               * cos(radians(15.0 * (hour - 12))) AS cos_zenith
      FROM cube
    )
    SELECT lat, hour,
           round(avg(speed), 6) AS avg_speed,
           round(((degrees(atan2(avg(dsin), avg(dcos))) % 360) + 360) % 360, 6)
             AS mean_dir_deg,
           round(avg(greatest(cos_zenith, 0.0)), 6) AS avg_daylight_cosz
    FROM derived GROUP BY lat, hour ORDER BY lat, hour
    """,
)
def weather_derived_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived meteorological variables — the standard post-ingest
    feature computations every weather pipeline runs on (u, v) winds
    and solar geometry: wind speed, the METEOROLOGICAL wind direction
    (direction the wind blows FROM: 270° − atan2(v, u), wrapped to
    [0, 360)), circular-mean direction per (lat, hour) via the vector
    average (never the arithmetic mean of angles), and daylight-clipped
    cosine solar zenith from the declination formula
    δ = −23.44°·cos(2π(d+10)/365) with the hour angle. All JVM trig on
    a deterministic cube; one map-combinable aggregate."""
    import math

    n_la, hours, n_d = 4, list(range(0, 24, 4)), 30
    n_h = len(hours)
    cube = (
        spark.range(n_la * n_h * n_d)
        .select(
            (F.col("id") / (n_h * n_d)).cast("long").alias("lai"),
            ((F.col("id") / n_d) % n_h).cast("long").alias("hi"),
            (F.col("id") % n_d).alias("doy"),
        )
        .select(
            (30.0 - F.col("lai") * 20.0).alias("lat"),
            (F.col("hi") * 4).alias("hour"),
            "doy",
            (5.0 * F.sin(F.col("doy") * 0.7 + F.col("lai")) + F.col("hi") * 4 * 0.3 - 2.0).alias("u10"),
            (4.0 * F.cos(F.col("doy") * 0.9 + F.col("hi") * 4 * 0.5) + F.col("lai") * 0.5).alias("v10"),
        )
    )
    decl = F.radians(F.lit(-23.44) * F.cos(2 * math.pi * (F.col("doy") + 10) / 365.0))
    dir_rad = F.radians(F.lit(270.0) - F.degrees(F.atan2("v10", "u10")))
    derived = cube.select(
        "lat", "hour",
        F.sqrt(F.col("u10") * F.col("u10") + F.col("v10") * F.col("v10")).alias("speed"),
        F.sin(dir_rad).alias("dsin"),
        F.cos(dir_rad).alias("dcos"),
        (
            F.sin(F.radians("lat")) * F.sin(decl)
            + F.cos(F.radians("lat")) * F.cos(decl)
            * F.cos(F.radians(15.0 * (F.col("hour") - 12)))
        ).alias("cos_zenith"),
    )
    mean_dir = F.degrees(F.atan2(F.avg("dsin"), F.avg("dcos")))
    return (
        derived.groupBy("lat", "hour")
        .agg(
            F.round(F.avg("speed"), 6).alias("avg_speed"),
            F.round(((mean_dir % 360) + 360) % 360, 6).alias("mean_dir_deg"),
            F.round(F.avg(F.greatest(F.col("cos_zenith"), F.lit(0.0))), 6).alias("avg_daylight_cosz"),
        )
        .orderBy("lat", "hour")
    )


@register(
    "weather_vertical_interp",
    oracle="""
    WITH cube AS (
      SELECT c.i AS cell, l.lev,
             288.0 - 0.065 * (288.0 / 0.0065 * (1.0 - pow(l.lev / 1013.25, 0.190284)))
                   / 10.0 + c.i * 0.8 + sin(l.lev * 0.01 + c.i) AS t
      FROM (SELECT unnest(range(0, 6)) AS i) c,
           (SELECT unnest([1000.0, 925.0, 850.0, 700.0, 500.0]) AS lev) l
    ), arrs AS (
      SELECT cell, list_sort(list({'lev': lev, 't': t})) AS lv FROM (
        SELECT cell, lev, t FROM cube) GROUP BY cell
    ), tgt AS (SELECT unnest([975.0, 800.0, 600.0]) AS p), interp AS (
      SELECT a.cell, tgt.p,
             list_filter(a.lv, x -> x.lev >= tgt.p)[1] AS lo,
             list_filter(a.lv, x -> x.lev <= tgt.p)[-1] AS hi
      FROM arrs a CROSS JOIN tgt
    )
    SELECT cell, p AS target_level,
           round(lo.t * (1 - (ln(lo.lev) - ln(p)) / (ln(lo.lev) - ln(hi.lev)))
                 + hi.t * ((ln(lo.lev) - ln(p)) / (ln(lo.lev) - ln(hi.lev))), 6)
             AS t_interp
    FROM interp
    ORDER BY cell, target_level DESC
    """,
)
def weather_vertical_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertical interpolation to target pressure levels — the standard
    vertical-regrid every NWP post-processor runs (MetView/earthkit
    ``ml_to_pl`` analog): per column, interpolate temperature linearly
    in ln(p) between the bracketing model levels. The per-column level
    axis is tiny, so it rides as a sorted array and the bracketing +
    interpolation are pure JVM array expressions (filter/element_at) —
    no join, no shuffle beyond the one collect_list groupBy; targets
    broadcast. Deterministic ISA-style profile → exact SQL twin."""
    levels = [1000.0, 925.0, 850.0, 700.0, 500.0]
    targets = [975.0, 800.0, 600.0]
    n_cells = 6
    cube = (
        spark.range(n_cells * len(levels))
        .select(
            (F.col("id") / len(levels)).cast("long").alias("cell"),
            F.element_at(
                F.array(*[F.lit(v) for v in levels]),
                (F.col("id") % len(levels) + 1).cast("int"),
            ).alias("lev"),
        )
        .select(
            "cell", "lev",
            (
                288.0
                - 0.065 * (288.0 / 0.0065 * (1.0 - F.pow(F.col("lev") / 1013.25, 0.190284))) / 10.0
                + F.col("cell") * 0.8
                + F.sin(F.col("lev") * 0.01 + F.col("cell"))
            ).alias("t"),
        )
    )
    arrs = cube.groupBy("cell").agg(
        F.array_sort(F.collect_list(F.struct("lev", "t"))).alias("lv")
    )
    tgt = arrs.sparkSession.createDataFrame([(p,) for p in targets], "p double")
    j = arrs.crossJoin(F.broadcast(tgt)).select(
        "cell", "p",
        F.expr("element_at(filter(lv, x -> x.lev >= p), 1)").alias("lo"),
        F.expr("element_at(filter(lv, x -> x.lev <= p), -1)").alias("hi"),
    )
    w = (F.log("lo.lev") - F.log("p")) / (F.log("lo.lev") - F.log("hi.lev"))
    return (
        j.select(
            "cell",
            F.col("p").alias("target_level"),
            F.round(F.col("lo.t") * (1 - w) + F.col("hi.t") * w, 6).alias("t_interp"),
        )
        .orderBy("cell", F.col("target_level").desc())
    )


@register(
    "weather_grid_smoothing",
    oracle="""
    WITH cube AS (
      SELECT la.i AS lai, lo.i AS loi,
             sin(la.i * 0.8) * cos(lo.i * 0.6) * 10.0 + la.i * 0.25 + 280.0 AS t2m
      FROM (SELECT unnest(range(0, 12)) AS i) la,
           (SELECT unnest(range(0, 16)) AS i) lo
    ), neigh AS (
      SELECT c.lai, c.loi, n.t2m
      FROM cube c JOIN cube n
        ON abs(c.lai - n.lai) <= 1 AND abs(c.loi - n.loi) <= 1
    )
    SELECT lai, loi,
           round(avg(t2m), 6) AS t2m_smooth,
           CAST(count(*) AS BIGINT) AS n_neighbors
    FROM neigh GROUP BY lai, loi ORDER BY lai, loi
    """,
)
def weather_grid_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial smoothing — the 9-point neighborhood mean every NWP
    post-processor applies before contouring (GRIB 'filter' step).
    Scale topology: explode each cell to its 3×3 neighborhood
    (map-side, 9×) and aggregate BY TARGET CELL — an equi-join-free
    groupBy on the cell key, identical at any grid size; edge cells
    average their real (5/6/8-point) neighborhoods, exactly like the
    band-join oracle. Never a windowed self-join over the whole grid."""
    n_la, n_lo = 12, 16
    cube = (
        spark.range(n_la * n_lo)
        .select(
            (F.col("id") / n_lo).cast("long").alias("lai"),
            (F.col("id") % n_lo).alias("loi"),
        )
        .withColumn(
            "t2m",
            F.sin(F.col("lai") * 0.8) * F.cos(F.col("loi") * 0.6) * 10.0
            + F.col("lai") * 0.25 + 280.0,
        )
    )
    offsets = spark.createDataFrame(
        [(di, dj) for di in (-1, 0, 1) for dj in (-1, 0, 1)], "di long, dj long"
    )
    fanned = (
        cube.crossJoin(F.broadcast(offsets))
        .select(
            (F.col("lai") + F.col("di")).alias("lai"),
            (F.col("loi") + F.col("dj")).alias("loi"),
            "t2m",
        )
        .filter(
            (F.col("lai") >= 0) & (F.col("lai") < n_la)
            & (F.col("loi") >= 0) & (F.col("loi") < n_lo)
        )
    )
    return (
        fanned.groupBy("lai", "loi")
        .agg(
            F.round(F.avg("t2m"), 6).alias("t2m_smooth"),
            F.count(F.lit(1)).alias("n_neighbors"),
        )
        .orderBy("lai", "loi")
    )


def _ps_oracle_sql() -> str:
    """DuckDB twin of the ellipsoidal polar stereographic (EPSG:3413
    constants): ρ = ρ_c·t(φ) with Snyder's t — the conformal factor
    written out with pow/tan — recomputed from the same driver-side
    ρ_c literal."""
    from weather_tools_spark.functions.geodesy import polar_stereo_ell_params

    p = polar_stereo_ell_params()  # 70N, -45, WGS84
    e, rc, lon0 = p["e"], p["rho_c"], p["lon0"]
    t = (f"tan(pi()/4 - radians(latitude)/2)"
         f" / pow((1 - {e!r} * sin(radians(latitude))) / (1 + {e!r} * sin(radians(latitude))), {e / 2.0!r})")
    return f"""
    WITH geo AS (
      SELECT DISTINCT
             60.0 + (user_id % 28)           AS latitude,
             (event_id % 360) - 180.0 + 0.5  AS longitude
      FROM events
    )
    SELECT latitude, longitude,
           round({rc!r} * ({t}) * sin(radians(longitude - ({lon0!r}))), 3) AS x,
           round(-{rc!r} * ({t}) * cos(radians(longitude - ({lon0!r}))), 3) AS y
    FROM geo
    ORDER BY latitude, longitude
    """


@register("geo_polar_stereo_project", oracle=_ps_oracle_sql())
def geo_polar_stereo_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRS transform surface #4: ELLIPSOIDAL north-polar stereographic —
    EPSG:3413 (NSIDC sea-ice grid: WGS84, true scale 70°N, λ0 = −45°) —
    via functions/geodesy.py. Points span the 60–87°N cap the grid
    covers; the oracle recomputes Snyder's conformal factor from the
    same derived ρ_c constant with its own trig, mm rounding."""
    from weather_tools_spark.functions.geodesy import (
        polar_stereo_ell_params,
        polar_stereo_ell_xy,
    )

    p = polar_stereo_ell_params()
    ev = load_table(spark, "events", sf_dir)
    geo = ev.select(
        (60.0 + (F.col("user_id") % 28)).alias("latitude"),
        ((F.col("event_id") % 360) - 180.0 + 0.5).alias("longitude"),
    ).distinct()
    x, y = polar_stereo_ell_xy(F.col("latitude"), F.col("longitude"), p)
    return geo.select(
        "latitude", "longitude", F.round(x, 3).alias("x"), F.round(y, 3).alias("y")
    ).orderBy("latitude", "longitude")


_IDW_R, _IDW_P = 400.0, 2.0  # influence radius km, distance power


@register(
    "weather_station_idw_analysis",
    oracle=f"""
    WITH stations AS (
      SELECT DISTINCT (user_id % 37) * 1.3 - 20.0 AS slat,
                      (user_id % 31) * 2.1 - 30.0 AS slon,
                      (user_id % 37) * 0.5 + (user_id % 31) * 0.25 + 10.0 AS obs
      FROM events WHERE user_id % 11 = 0
    ), grid AS (
      SELECT la.i * 2.0 - 18.0 AS glat, lo.i * 3.0 - 28.0 AS glon
      FROM (SELECT unnest(range(0, 12)) AS i) la,
           (SELECT unnest(range(0, 11)) AS i) lo
    ), pairs AS (
      SELECT g.glat, g.glon, s.obs,
             {_RJ_HAV.format(re=_RJ_EARTH, lat_a='g.glat', lon_a='g.glon', lat_b='s.slat', lon_b='s.slon')} AS d
      FROM grid g JOIN stations s ON abs(g.glat - s.slat) <= 4.0
    )
    SELECT glat, glon,
           CAST(count(*) FILTER (WHERE d <= {_IDW_R!r}) AS BIGINT) AS n_stations,
           round(sum(obs / pow(d, {_IDW_P!r})) FILTER (WHERE d <= {_IDW_R!r})
                 / sum(1.0 / pow(d, {_IDW_P!r})) FILTER (WHERE d <= {_IDW_R!r}), 6)
             AS analysis
    FROM pairs
    GROUP BY glat, glon
    HAVING count(*) FILTER (WHERE d <= {_IDW_R!r}) > 0
    ORDER BY glat, glon
    """,
)
def weather_station_idw_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Objective analysis — inverse-distance-weighted interpolation of
    scattered station observations onto a regular grid (the Cressman/
    Shepard scheme every surface-analysis pipeline starts from):
    analysis(g) = Σ obs/dᵖ / Σ 1/dᵖ over stations within the influence
    radius. Scale topology: latitude-BAND equi-join (|Δlat| ≤ 4° covers
    the 400 km radius) bounds candidate pairs the same way the
    grid-bucketed radius join does — never grid × stations cross join —
    then one map-combinable weighted aggregate per grid point. The
    station set is deterministic from events, so the oracle recomputes
    the identical analysis."""
    ev = load_table(spark, "events", sf_dir)
    stations = (
        ev.filter(F.col("user_id") % 11 == 0)
        .select(
            ((F.col("user_id") % 37) * 1.3 - 20.0).alias("slat"),
            ((F.col("user_id") % 31) * 2.1 - 30.0).alias("slon"),
            ((F.col("user_id") % 37) * 0.5 + (F.col("user_id") % 31) * 0.25 + 10.0).alias("obs"),
        )
        .distinct()
    )
    n_la, n_lo = 12, 11
    grid = (
        spark.range(n_la * n_lo)
        .select(
            ((F.col("id") / n_lo).cast("long") * 2.0 - 18.0).alias("glat"),
            ((F.col("id") % n_lo) * 3.0 - 28.0).alias("glon"),
        )
    )
    joined = grid.alias("g").join(
        stations.alias("s"), F.abs(F.col("g.glat") - F.col("s.slat")) <= 4.0
    )
    d = F.expr(
        _RJ_HAV.format(re=_RJ_EARTH, lat_a="g.glat", lon_a="g.glon", lat_b="s.slat", lon_b="s.slon")
    )
    within = d <= _IDW_R
    wgt = 1.0 / F.pow(d, _IDW_P)
    return (
        joined.select("g.glat", "g.glon", "s.obs", d.alias("d"))
        .groupBy("glat", "glon")
        .agg(
            F.sum(F.when(F.col("d") <= _IDW_R, 1).otherwise(0)).alias("n_stations"),
            F.round(
                F.sum(F.when(F.col("d") <= _IDW_R, F.col("obs") / F.pow("d", _IDW_P)))
                / F.sum(F.when(F.col("d") <= _IDW_R, 1.0 / F.pow("d", _IDW_P))),
                6,
            ).alias("analysis"),
        )
        .filter(F.col("n_stations") > 0)
        .orderBy("glat", "glon")
    )


@register(
    "weather_ensemble_probability",
    oracle="""
    WITH cube AS (
      SELECT n.i AS num, la.i AS lai, lo.i AS loi,
             n.i * 3 + la.i * 17 + lo.i * 5 + 0.25
             + CASE WHEN n.i % 2 = 1 THEN 1.5 ELSE 0 END AS d2m
      FROM (SELECT unnest(range(0, 10)) AS i) n,
           (SELECT unnest(range(0, 3)) AS i) la,
           (SELECT unnest(range(0, 4)) AS i) lo
    )
    SELECT round(48.0 - lai * 0.5, 2) AS latitude,
           round(5.0 + loi * 0.5, 2) AS longitude,
           round(sum(CASE WHEN d2m > 20.0 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS p_above,
           round(sum(CASE WHEN d2m > 20.0 THEN d2m - 20.0 ELSE 0 END) * 1.0 / count(*), 6)
             AS expected_exceedance,
           CAST(CASE WHEN sum(CASE WHEN d2m > 20.0 THEN 1 ELSE 0 END) * 2 >= count(*)
                THEN 1 ELSE 0 END AS BIGINT) AS majority_above
    FROM cube GROUP BY lai, loi
    ORDER BY latitude DESC, longitude
    """,
)
def weather_ensemble_probability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic forecast products from the ensemble axis: exceedance
    probability P(d2m > τ), expected exceedance (the CRPS-style partial
    expectation), and the majority vote — the derived probability
    fields ensemble systems actually publish. Same deterministic member
    cube as weather_ensemble_stats; one map-combinable aggregate."""
    nm, nla, nlo = 10, 3, 4
    cube = (
        spark.range(nm * nla * nlo)
        .select(
            (F.col("id") / (nla * nlo)).cast("long").alias("num"),
            ((F.col("id") / nlo) % nla).cast("long").alias("lai"),
            (F.col("id") % nlo).alias("loi"),
        )
        .select(
            "lai", "loi",
            (
                F.col("num") * 3 + F.col("lai") * 17 + F.col("loi") * 5 + 0.25
                + F.when(F.col("num") % 2 == 1, 1.5).otherwise(0.0)
            ).alias("d2m"),
        )
    )
    above = F.when(F.col("d2m") > 20.0, 1).otherwise(0)
    return (
        cube.groupBy("lai", "loi")
        .agg(
            F.round(F.sum(above) / F.count(F.lit(1)), 6).alias("p_above"),
            F.round(
                F.sum(F.when(F.col("d2m") > 20.0, F.col("d2m") - 20.0).otherwise(0.0))
                / F.count(F.lit(1)),
                6,
            ).alias("expected_exceedance"),
            F.when(F.sum(above) * 2 >= F.count(F.lit(1)), 1).otherwise(0)
            .cast("long").alias("majority_above"),
        )
        .select(
            F.round(48.0 - F.col("lai") * 0.5, 2).alias("latitude"),
            F.round(5.0 + F.col("loi") * 0.5, 2).alias("longitude"),
            "p_above", "expected_exceedance", "majority_above",
        )
        .orderBy(F.col("latitude").desc(), "longitude")
    )


@register(
    "geo_greatcircle_waypoints",
    oracle="""
    WITH routes AS (
      SELECT * FROM (VALUES
        (1, 48.8566, 2.3522, 40.7128, -74.0060),
        (2, 35.6762, 139.6503, -33.8688, 151.2093),
        (3, 51.4700, -0.4543, 1.3644, 103.9915)
      ) AS t(route_id, lat1, lon1, lat2, lon2)
    ), ang AS (
      SELECT route_id,
             radians(lat1) AS p1, radians(lon1) AS l1,
             radians(lat2) AS p2, radians(lon2) AS l2,
             2 * asin(sqrt(pow(sin((radians(lat2) - radians(lat1)) / 2), 2)
                           + cos(radians(lat1)) * cos(radians(lat2))
                             * pow(sin((radians(lon2) - radians(lon1)) / 2), 2))) AS delta
      FROM routes
    ), wp AS (
      SELECT route_id, delta, f.i * 0.25 AS frac,
             sin((1 - f.i * 0.25) * delta) / sin(delta) AS a,
             sin(f.i * 0.25 * delta) / sin(delta) AS b,
             p1, l1, p2, l2
      FROM ang, (SELECT unnest(range(0, 5)) AS i) f
    ), xyz AS (
      SELECT route_id, frac, delta,
             a * cos(p1) * cos(l1) + b * cos(p2) * cos(l2) AS x,
             a * cos(p1) * sin(l1) + b * cos(p2) * sin(l2) AS y,
             a * sin(p1) + b * sin(p2) AS z
      FROM wp
    )
    SELECT route_id, round(frac, 2) AS frac,
           round(degrees(atan2(z, sqrt(x * x + y * y))), 6) AS lat,
           round(degrees(atan2(y, x)), 6) AS lon,
           round(6371.0088 * delta, 3) AS total_km
    FROM xyz
    ORDER BY route_id, frac
    """,
)
def geo_greatcircle_waypoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle route interpolation (the aviation/shipping slerp):
    intermediate points at fractions f of the central angle δ via
    A = sin((1−f)δ)/sin δ, B = sin(fδ)/sin δ on the unit sphere —
    closed-form JVM trig per (route, waypoint), the per-route constants
    fold into the expression tree. Completes the great-circle surface
    next to the haversine radius join (same _RJ family constants)."""
    routes = spark.createDataFrame(
        [
            (1, 48.8566, 2.3522, 40.7128, -74.0060),
            (2, 35.6762, 139.6503, -33.8688, 151.2093),
            (3, 51.4700, -0.4543, 1.3644, 103.9915),
        ],
        "route_id int, lat1 double, lon1 double, lat2 double, lon2 double",
    )
    fr = spark.createDataFrame([(i * 0.25,) for i in range(5)], "frac double")
    p1, l1 = F.radians("lat1"), F.radians("lon1")
    p2, l2 = F.radians("lat2"), F.radians("lon2")
    delta = 2 * F.asin(
        F.sqrt(
            F.pow(F.sin((p2 - p1) / 2), 2)
            + F.cos(p1) * F.cos(p2) * F.pow(F.sin((l2 - l1) / 2), 2)
        )
    )
    j = routes.crossJoin(F.broadcast(fr)).withColumn("delta", delta)
    a = F.sin((1 - F.col("frac")) * F.col("delta")) / F.sin("delta")
    b = F.sin(F.col("frac") * F.col("delta")) / F.sin("delta")
    x = a * F.cos(p1) * F.cos(l1) + b * F.cos(p2) * F.cos(l2)
    y = a * F.cos(p1) * F.sin(l1) + b * F.cos(p2) * F.sin(l2)
    z = a * F.sin(p1) + b * F.sin(p2)
    return (
        j.select(
            "route_id",
            F.round("frac", 2).alias("frac"),
            F.round(F.degrees(F.atan2(z, F.sqrt(x * x + y * y))), 6).alias("lat"),
            F.round(F.degrees(F.atan2(y, x)), 6).alias("lon"),
            F.round(F.lit(_RJ_EARTH) * F.col("delta"), 3).alias("total_km"),
        )
        .orderBy("route_id", "frac")
    )


@register(
    "weather_storm_objects",
    oracle="""
    WITH cube AS (
      SELECT t.i AS ti, la.i AS lai, lo.i AS loi,
             t.i * 100 + la.i * 10 + lo.i AS cell_id,
             CASE WHEN ((t.i // 2) * 5 + (la.i // 3) * 3 + (lo.i // 3) * 7) % 4 = 0
                  THEN 30.0 + (t.i * 13 + la.i * 7 + lo.i * 5) % 10
                  ELSE 5.0 + (t.i * 3 + la.i + lo.i) % 8 END AS rr
      FROM (SELECT unnest(range(0, 6)) AS i) t,
           (SELECT unnest(range(0, 8)) AS i) la,
           (SELECT unnest(range(0, 8)) AS i) lo
    ), wet AS (
      SELECT * FROM cube WHERE rr >= 25.0
    ), und AS (
      SELECT a.cell_id AS a, b.cell_id AS b
      FROM wet a JOIN wet b
        ON abs(a.ti - b.ti) + abs(a.lai - b.lai) + abs(a.loi - b.loi) = 1
    ), reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM r JOIN und u ON r.b = u.a
      ) SELECT * FROM r
    ), labels AS (
      SELECT w.cell_id, least(coalesce(min(r.b), w.cell_id), w.cell_id) AS obj
      FROM wet w LEFT JOIN reach r ON r.a = w.cell_id
      GROUP BY w.cell_id
    ), objects AS (
      SELECT l.obj, count(*) AS n_cells,
             max(c.ti) - min(c.ti) + 1 AS duration,
             round(max(c.rr), 6) AS peak_rr
      FROM labels l JOIN cube c ON l.cell_id = c.cell_id
      GROUP BY l.obj
    )
    SELECT CAST(count(*) AS BIGINT) AS n_objects,
           CAST(max(n_cells) AS BIGINT) AS largest_cells,
           CAST(max(duration) AS BIGINT) AS longest_duration,
           round(max(peak_rr), 6) AS max_peak,
           CAST(sum(CASE WHEN n_cells >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_significant
    FROM objects
    """,
)
def weather_storm_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-based feature detection (MODE-style storm tracking):
    threshold the precipitation cube, connect cells that are adjacent
    in SPACE-TIME (6-connectivity: |Δt|+|Δlat|+|Δlon| = 1), and label
    connected components as storm objects — count, footprint, lifetime,
    peak intensity. The adjacency join is a band-join on the first
    index (never wet × wet cross join at scale — the same topology as
    the radius join), and the labeling reuses the distributed
    min-label-propagation CC operator. The oracle replays the closure
    with a RECURSIVE CTE, so the object decomposition itself is under
    the hash gate."""
    from weather_tools_spark.operators.dedup import connected_components

    nt, nla, nlo = 6, 8, 8
    cube = (
        spark.range(nt * nla * nlo)
        .select(
            (F.col("id") / (nla * nlo)).cast("long").alias("ti"),
            ((F.col("id") / nlo) % nla).cast("long").alias("lai"),
            (F.col("id") % nlo).alias("loi"),
        )
        .select(
            "ti", "lai", "loi",
            (F.col("ti") * 100 + F.col("lai") * 10 + F.col("loi")).alias("cell_id"),
            F.when(
                ((F.col("ti") / 2).cast("long") * 5
                 + (F.col("lai") / 3).cast("long") * 3
                 + (F.col("loi") / 3).cast("long") * 7) % 4 == 0,
                30.0 + (F.col("ti") * 13 + F.col("lai") * 7 + F.col("loi") * 5) % 10,
            )
            .otherwise(5.0 + (F.col("ti") * 3 + F.col("lai") + F.col("loi")) % 8)
            .alias("rr"),
        )
    )
    wet = cube.filter(F.col("rr") >= 25.0)
    a, b = wet.alias("a"), wet.alias("b")
    edges = a.join(
        b,
        (F.abs(F.col("a.ti") - F.col("b.ti"))
         + F.abs(F.col("a.lai") - F.col("b.lai"))
         + F.abs(F.col("a.loi") - F.col("b.loi")) == 1)
        & (F.col("a.cell_id") < F.col("b.cell_id")),
    ).select(F.col("a.cell_id").alias("doc_a"), F.col("b.cell_id").alias("doc_b"))
    cc = connected_components(edges)  # only cells WITH neighbors appear
    labels = (
        wet.select("cell_id")
        .join(cc.withColumnRenamed("doc_id", "cell_id"), "cell_id", "left")
        .select(
            "cell_id",
            F.least(F.coalesce(F.col("cluster_id"), F.col("cell_id")), F.col("cell_id")).alias("obj"),
        )
    )
    objects = (
        labels.join(cube, "cell_id")
        .groupBy("obj")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            (F.max("ti") - F.min("ti") + 1).alias("duration"),
            F.round(F.max("rr"), 6).alias("peak_rr"),
        )
    )
    return objects.agg(
        F.count(F.lit(1)).alias("n_objects"),
        F.max("n_cells").alias("largest_cells"),
        F.max("duration").alias("longest_duration"),
        F.round(F.max("peak_rr"), 6).alias("max_peak"),
        F.sum(F.when(F.col("n_cells") >= 3, 1).otherwise(0)).alias("n_significant"),
    )


@register(
    "regrid_bilinear_agg",
    oracle="""
    WITH tgt AS (
      SELECT 0.25 + i.i * 0.75 AS tla, 0.5 + j.i * 0.85 AS tlo
      FROM (SELECT unnest(range(0, 11)) AS i) i,
           (SELECT unnest(range(0, 12)) AS i) j
    ), w AS (
      SELECT tla, tlo,
             floor(tla) AS la0, floor(tlo) AS lo0,
             tla - floor(tla) AS fy, tlo - floor(tlo) AS fx
      FROM tgt
    ), interp AS (
      SELECT tla, tlo,
             (1 - fy) * (1 - fx) * (la0 * 3 + lo0 * 5 + 0.25 + sin(la0) * 2)
           + fy * (1 - fx) * ((la0 + 1) * 3 + lo0 * 5 + 0.25 + sin(la0 + 1) * 2)
           + (1 - fy) * fx * (la0 * 3 + (lo0 + 1) * 5 + 0.25 + sin(la0) * 2)
           + fy * fx * ((la0 + 1) * 3 + (lo0 + 1) * 5 + 0.25 + sin(la0 + 1) * 2) AS v
      FROM w
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           round(sum(v), 6) AS sum_v,
           round(min(v), 6) AS min_v,
           round(max(v), 6) AS max_v
    FROM interp
    """,
)
def regrid_bilinear_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear regrid under the hash gate (completing the regrid
    family next to the conservative remap): a deterministic 1° source
    grid flows through operators/regrid.regrid_bilinear — 4-corner
    weight explode, integer-index equi-join, weight-sum — onto an
    off-lattice 0.25°-offset target grid fully inside the hull; the
    oracle recomputes the interpolation arithmetically from the same
    closed-form field (MetView/earthkit ``interpolate`` semantics)."""
    from weather_tools_spark.operators.regrid import regrid_bilinear

    n_la, n_lo = 10, 12
    src = (
        spark.range(n_la * n_lo)
        .select(
            (F.col("id") / n_lo).cast("long").alias("la_i"),
            (F.col("id") % n_lo).alias("lo_i"),
        )
        .select(
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("time"),
            F.col("la_i").cast("double").alias("latitude"),
            F.col("lo_i").cast("double").alias("longitude"),
            (F.col("la_i") * 3 + F.col("lo_i") * 5 + 0.25 + F.sin("la_i") * 2).alias("v"),
        )
    )
    t_lats = [0.25 + i * 0.75 for i in range(11)]
    t_lons = [0.5 + j * 0.85 for j in range(12)]
    out = regrid_bilinear(src, t_lats, t_lons, 1.0, 1.0, ["v"])
    return out.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("v"), 6).alias("sum_v"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
    )


@register(
    "weather_gradient_fronts",
    oracle="""
    WITH cube AS (
      SELECT la.i AS lai, lo.i AS loi,
             280.0 + la.i * 0.8 + 6.0 * sin(la.i * 0.5) * cos(lo.i * 0.4) AS t2m
      FROM (SELECT unnest(range(0, 14)) AS i) la,
           (SELECT unnest(range(0, 18)) AS i) lo
    ), grad AS (
      SELECT c.lai, c.loi,
             (e.t2m - w.t2m) / 2.0 AS dtdx,
             (n.t2m - s.t2m) / 2.0 AS dtdy
      FROM cube c
      JOIN cube e ON e.lai = c.lai AND e.loi = c.loi + 1
      JOIN cube w ON w.lai = c.lai AND w.loi = c.loi - 1
      JOIN cube n ON n.lai = c.lai + 1 AND n.loi = c.loi
      JOIN cube s ON s.lai = c.lai - 1 AND s.loi = c.loi
    ), mag AS (
      SELECT lai, loi, sqrt(dtdx * dtdx + dtdy * dtdy) AS g FROM grad
    )
    SELECT CAST(count(*) AS BIGINT) AS n_interior,
           round(avg(g), 6) AS mean_gradient,
           round(max(g), 6) AS max_gradient,
           CAST(count(*) FILTER (WHERE g >= 2.0) AS BIGINT) AS n_frontal
    FROM mag
    """,
)
def weather_gradient_fronts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontal-zone detection — the horizontal temperature-gradient
    magnitude |∇T| by centered finite differences, thresholded to flag
    frontal cells (the standard objective front-identification first
    step). Scale topology: the four neighbor samples arrive by the SAME
    offset fan-out as the smoother (explode 4 shifted copies, groupBy
    the target cell) rather than four self-joins — one shuffle on the
    cell key regardless of grid size; interior cells only (all four
    neighbors present). The oracle computes the identical stencil with
    explicit neighbor joins — different plan, same field."""
    n_la, n_lo = 14, 18
    cube = (
        spark.range(n_la * n_lo)
        .select(
            (F.col("id") / n_lo).cast("long").alias("lai"),
            (F.col("id") % n_lo).alias("loi"),
        )
        .withColumn(
            "t2m",
            280.0 + F.col("lai") * 0.8
            + 6.0 * F.sin(F.col("lai") * 0.5) * F.cos(F.col("loi") * 0.4),
        )
    )
    # each cell contributes to its 4 neighbors' stencils with a signed
    # coefficient; summing contributions per target cell reconstructs
    # the centered differences in ONE groupBy
    offsets = cube.sparkSession.createDataFrame(
        [  # (dlai, dloi, coef_x, coef_y) — contribution of THIS cell to
           # the stencil of the cell at (lai+dlai, loi+dloi)
            (0, 1, -0.5, 0.0),   # this cell is the WEST neighbor of target
            (0, -1, 0.5, 0.0),   # EAST neighbor
            (1, 0, 0.0, -0.5),   # SOUTH neighbor
            (-1, 0, 0.0, 0.5),   # NORTH neighbor
        ],
        "dlai long, dloi long, cx double, cy double",
    )
    contrib = (
        cube.crossJoin(F.broadcast(offsets))
        .select(
            (F.col("lai") + F.col("dlai")).alias("lai"),
            (F.col("loi") + F.col("dloi")).alias("loi"),
            (F.col("t2m") * F.col("cx")).alias("gx"),
            (F.col("t2m") * F.col("cy")).alias("gy"),
        )
        .filter(
            (F.col("lai") >= 1) & (F.col("lai") < n_la - 1)
            & (F.col("loi") >= 1) & (F.col("loi") < n_lo - 1)
        )
    )
    mag = (
        contrib.groupBy("lai", "loi")
        .agg(F.sum("gx").alias("dtdx"), F.sum("gy").alias("dtdy"))
        .select(F.sqrt(F.col("dtdx") ** 2 + F.col("dtdy") ** 2).alias("g"))
    )
    return mag.agg(
        F.count(F.lit(1)).alias("n_interior"),
        F.round(F.avg("g"), 6).alias("mean_gradient"),
        F.round(F.max("g"), 6).alias("max_gradient"),
        F.sum(F.when(F.col("g") >= 2.0, 1).otherwise(0)).alias("n_frontal"),
    )


@register(
    "weather_comfort_indices",
    oracle="""
    WITH cube AS (
      SELECT t.i AS ti, h.i AS hi,
             -30.0 + t.i * 1.4 AS temp_f_base,
             20.0 + h.i * 10.0 AS rh
      FROM (SELECT unnest(range(0, 50)) AS i) t,
           (SELECT unnest(range(0, 8)) AS i) h
    ), obs AS (
      SELECT 32.0 + temp_f_base * 1.8 AS temp_f, rh,
             5.0 + (ti % 7) * 4.0 AS wind_mph
      FROM cube
    ), idx AS (
      SELECT temp_f, rh, wind_mph,
             CASE WHEN temp_f >= 80.0 THEN
               -42.379 + 2.04901523 * temp_f + 10.14333127 * rh
               - 0.22475541 * temp_f * rh - 0.00683783 * temp_f * temp_f
               - 0.05481717 * rh * rh + 0.00122874 * temp_f * temp_f * rh
               + 0.00085282 * temp_f * rh * rh
               - 0.00000199 * temp_f * temp_f * rh * rh
             END AS heat_index,
             CASE WHEN temp_f <= 50.0 AND wind_mph > 3.0 THEN
               35.74 + 0.6215 * temp_f - 35.75 * pow(wind_mph, 0.16)
               + 0.4275 * temp_f * pow(wind_mph, 0.16)
             END AS wind_chill
      FROM obs
    )
    SELECT CAST(count(heat_index) AS BIGINT) AS n_heat,
           round(max(heat_index), 6) AS max_heat_index,
           CAST(count(wind_chill) AS BIGINT) AS n_chill,
           round(min(wind_chill), 6) AS min_wind_chill,
           CAST(count(*) FILTER (WHERE heat_index >= 103.0) AS BIGINT) AS n_danger,
           CAST(count(*) FILTER (WHERE wind_chill <= -18.0) AS BIGINT) AS n_frostbite
    FROM idx
    """,
)
def weather_comfort_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Biometeorological indices — the NWS Rothfusz heat-index
    regression (valid T ≥ 80 °F) and the 2001 NWS/JAG wind-chill
    formula (T ≤ 50 °F, wind > 3 mph) — the derived comfort products
    every public forecast feed computes, as pure JVM polynomial
    expressions over a deterministic (T, RH, wind) cube with danger-
    threshold exceedance counts. Map-only + one combinable aggregate."""
    n_t, n_h = 50, 8
    cube = (
        spark.range(n_t * n_h)
        .select(
            (F.col("id") / n_h).cast("long").alias("ti"),
            (F.col("id") % n_h).alias("hi"),
        )
        .select(
            (32.0 + (-30.0 + F.col("ti") * 1.4) * 1.8).alias("temp_f"),
            (20.0 + F.col("hi") * 10.0).alias("rh"),
            (5.0 + (F.col("ti") % 7) * 4.0).alias("wind_mph"),
        )
    )
    t, rh, w = F.col("temp_f"), F.col("rh"), F.col("wind_mph")
    heat = F.when(
        t >= 80.0,
        -42.379 + 2.04901523 * t + 10.14333127 * rh
        - 0.22475541 * t * rh - 0.00683783 * t * t
        - 0.05481717 * rh * rh + 0.00122874 * t * t * rh
        + 0.00085282 * t * rh * rh - 0.00000199 * t * t * rh * rh,
    )
    chill = F.when(
        (t <= 50.0) & (w > 3.0),
        35.74 + 0.6215 * t - 35.75 * F.pow(w, 0.16) + 0.4275 * t * F.pow(w, 0.16),
    )
    idx = cube.select(heat.alias("heat_index"), chill.alias("wind_chill"))
    return idx.agg(
        F.count("heat_index").alias("n_heat"),
        F.round(F.max("heat_index"), 6).alias("max_heat_index"),
        F.count("wind_chill").alias("n_chill"),
        F.round(F.min("wind_chill"), 6).alias("min_wind_chill"),
        F.sum(F.when(F.col("heat_index") >= 103.0, 1).otherwise(0)).alias("n_danger"),
        F.sum(F.when(F.col("wind_chill") <= -18.0, 1).otherwise(0)).alias("n_frostbite"),
    )


@register(
    "weather_etccdi_tx90p",
    oracle=f"""
    WITH cube AS ({_CLIM_CUBE_SQL}),
    clim AS (
      SELECT doy, lai, loi, quantile_cont(t2m, 0.9) AS p90
      FROM cube GROUP BY doy, lai, loi
    ),
    flagged AS (
      SELECT c.year_i, c.lai, c.loi,
             CASE WHEN c.t2m > m.p90 THEN 1 ELSE 0 END AS warm
      FROM cube c JOIN clim m USING (doy, lai, loi)
    )
    SELECT year_i, lai, loi,
           CAST(sum(warm) AS BIGINT) AS tx90p_days,
           round(sum(warm) * 100.0 / count(*), 6) AS tx90p_pct
    FROM flagged GROUP BY year_i, lai, loi
    ORDER BY year_i, lai, loi
    """,
)
def weather_etccdi_tx90p(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ETCCDI climate index TX90p — days per year above the
    calendar-day 90th-percentile climatology — the percentile-of-
    climatology pattern behind the WMO extreme-indices suite. Exact
    interpolated percentile per (day-of-year, cell) across years
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, the equivalence
    already pinned by orders_price_percentiles), broadcast back, one
    exceedance aggregate. Same deterministic cube as the climatology
    queries; the strict > comparison sits on exact rationals on both
    engines, so the count can't drift."""
    cube = _clim_cube(spark)
    clim = cube.groupBy("doy", "lai", "loi").agg(
        F.expr("percentile(t2m, 0.9)").alias("p90")
    )
    flagged = cube.join(F.broadcast(clim), ["doy", "lai", "loi"]).select(
        "year_i", "lai", "loi",
        F.when(F.col("t2m") > F.col("p90"), 1).otherwise(0).alias("warm"),
    )
    return (
        flagged.groupBy("year_i", "lai", "loi")
        .agg(
            F.sum("warm").alias("tx90p_days"),
            F.round(F.sum("warm") * 100.0 / F.count(F.lit(1)), 6).alias("tx90p_pct"),
        )
        .orderBy("year_i", "lai", "loi")
    )


@register(
    "weather_etccdi_spells",
    oracle=f"""
    WITH cube AS ({_CLIM_CUBE_SQL}),
    w AS (
      SELECT year_i, lai, loi, doy FROM cube WHERE t2m > 25.0
    ),
    g AS (
      SELECT year_i, lai, loi, doy,
             doy - row_number() OVER (PARTITION BY year_i, lai, loi ORDER BY doy)
               AS grp
      FROM w
    ),
    s AS (
      SELECT year_i, lai, loi, grp, CAST(count(*) AS BIGINT) AS len
      FROM g GROUP BY year_i, lai, loi, grp
    )
    SELECT year_i, lai, loi,
           CAST(count(*) AS BIGINT) AS n_spells,
           CAST(sum(CASE WHEN len >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_long_spells,
           CAST(max(len) AS BIGINT) AS longest_spell,
           CAST(sum(len) AS BIGINT) AS warm_days,
           CAST(sum(CASE WHEN len >= 6 THEN len ELSE 0 END) AS BIGINT) AS wsdi_days
    FROM s GROUP BY year_i, lai, loi
    ORDER BY year_i, lai, loi
    """,
)
def weather_etccdi_spells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ETCCDI spell-duration indices (WSDI shape, WMO climate-index
    family): per (year, cell), compress consecutive warm days
    (t2m > 25 °C) into runs via gaps-and-islands (doy minus the
    per-partition row number is constant within a run), then census the
    runs — spell count, ≥6-day spell count (the WSDI qualifier), longest
    spell, warm days, and WSDI day total. All outputs are integers; the
    one float comparison (t2m > 25.0) clears the engine-libm drift by a
    2.9e-3 margin (audited). The window partitions by (year, cell) —
    at 100 TB each partition is one cell-year series (≤366 rows), so the
    sort is local and skew-free.

    Reference parity: the reference has no run-length analytics; this is
    an engine addition on the hypercube row model (SURVEY.md §2.5
    extension), sibling to weather_etccdi_tx90p."""
    from pyspark.sql import Window

    cube = _clim_cube(spark)
    w = cube.filter(F.col("t2m") > 25.0).select("year_i", "lai", "loi", "doy")
    win = Window.partitionBy("year_i", "lai", "loi").orderBy("doy")
    g = w.withColumn("grp", F.col("doy") - F.row_number().over(win))
    s = g.groupBy("year_i", "lai", "loi", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        s.groupBy("year_i", "lai", "loi")
        .agg(
            F.count(F.lit(1)).alias("n_spells"),
            F.sum(F.when(F.col("len") >= 6, 1).otherwise(0)).alias("n_long_spells"),
            F.max("len").alias("longest_spell"),
            F.sum("len").alias("warm_days"),
            F.sum(F.when(F.col("len") >= 6, F.col("len")).otherwise(0)).alias("wsdi_days"),
        )
        .orderBy("year_i", "lai", "loi")
    )


@register(
    "weather_vorticity_divergence",
    oracle="""
    WITH cube AS (
      SELECT la.i AS lai, lo.i AS loi,
             5.0 + 2.0 * sin(la.i * 0.3) * cos(lo.i * 0.5) AS u,
             3.0 + 1.5 * cos(la.i * 0.4) * sin(lo.i * 0.6) AS v
      FROM (SELECT unnest(range(0, 16)) AS i) la,
           (SELECT unnest(range(0, 20)) AS i) lo
    ), der AS (
      SELECT c.lai, c.loi,
             (e.u - w.u) / 2.0 AS dudx, (n.u - s.u) / 2.0 AS dudy,
             (e.v - w.v) / 2.0 AS dvdx, (n.v - s.v) / 2.0 AS dvdy
      FROM cube c
      JOIN cube e ON e.lai = c.lai AND e.loi = c.loi + 1
      JOIN cube w ON w.lai = c.lai AND w.loi = c.loi - 1
      JOIN cube n ON n.lai = c.lai + 1 AND n.loi = c.loi
      JOIN cube s ON s.lai = c.lai - 1 AND s.loi = c.loi
    ), fields AS (
      SELECT dvdx - dudy AS zeta, dudx + dvdy AS div FROM der
    )
    SELECT CAST(count(*) AS BIGINT) AS n_interior,
           round(avg(zeta), 6) AS mean_vorticity,
           round(max(abs(zeta)), 6) AS max_abs_vorticity,
           round(avg(div), 6) AS mean_divergence,
           round(max(abs(div)), 6) AS max_abs_divergence,
           round(0.5 * avg(zeta * zeta), 6) AS enstrophy
    FROM fields
    """,
)
def weather_vorticity_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative vorticity (dv/dx - du/dy) and horizontal divergence
    (du/dx + dv/dy) of a wind field by centered differences — the
    vector-calculus siblings of the |∇T| front detector, and the first
    derived products any dynamics pipeline computes from (u, v). Same
    scale topology as the smoother/gradient: each cell's (u, v) is
    exploded to its four neighbors with signed coefficients and ONE
    groupBy per target cell reconstructs all four partials — one
    shuffle on the cell key, no 4-way self-join. The oracle computes
    the identical stencil with explicit neighbor joins."""
    n_la, n_lo = 16, 20
    cube = (
        spark.range(n_la * n_lo)
        .select(
            (F.col("id") / n_lo).cast("long").alias("lai"),
            (F.col("id") % n_lo).alias("loi"),
        )
        .withColumn(
            "u", 5.0 + 2.0 * F.sin(F.col("lai") * 0.3) * F.cos(F.col("loi") * 0.5)
        )
        .withColumn(
            "v", 3.0 + 1.5 * F.cos(F.col("lai") * 0.4) * F.sin(F.col("loi") * 0.6)
        )
    )
    offsets = cube.sparkSession.createDataFrame(
        [  # contribution of THIS cell to the target at (lai+dlai, loi+dloi):
           # cx multiplies into the target's d/dx, cy into its d/dy
            (0, 1, -0.5, 0.0),   # this cell is WEST of target
            (0, -1, 0.5, 0.0),   # EAST
            (1, 0, 0.0, -0.5),   # SOUTH
            (-1, 0, 0.0, 0.5),   # NORTH
        ],
        "dlai long, dloi long, cx double, cy double",
    )
    contrib = (
        cube.crossJoin(F.broadcast(offsets))
        .select(
            (F.col("lai") + F.col("dlai")).alias("lai"),
            (F.col("loi") + F.col("dloi")).alias("loi"),
            (F.col("u") * F.col("cx")).alias("dudx"),
            (F.col("u") * F.col("cy")).alias("dudy"),
            (F.col("v") * F.col("cx")).alias("dvdx"),
            (F.col("v") * F.col("cy")).alias("dvdy"),
        )
        .filter(
            (F.col("lai") >= 1) & (F.col("lai") < n_la - 1)
            & (F.col("loi") >= 1) & (F.col("loi") < n_lo - 1)
        )
    )
    fields = (
        contrib.groupBy("lai", "loi")
        .agg(
            F.sum("dudx").alias("dudx"),
            F.sum("dudy").alias("dudy"),
            F.sum("dvdx").alias("dvdx"),
            F.sum("dvdy").alias("dvdy"),
        )
        .select(
            (F.col("dvdx") - F.col("dudy")).alias("zeta"),
            (F.col("dudx") + F.col("dvdy")).alias("div"),
        )
    )
    return fields.agg(
        F.count(F.lit(1)).alias("n_interior"),
        F.round(F.avg("zeta"), 6).alias("mean_vorticity"),
        F.round(F.max(F.abs(F.col("zeta"))), 6).alias("max_abs_vorticity"),
        F.round(F.avg("div"), 6).alias("mean_divergence"),
        F.round(F.max(F.abs(F.col("div"))), 6).alias("max_abs_divergence"),
        F.round(0.5 * F.avg(F.col("zeta") * F.col("zeta")), 6).alias("enstrophy"),
    )


_VERIF_CUBE_SQL = """
      SELECT d.i AS d, x.i AS x, y.i AS y, l.i AS lead_h,
             10.0 + 5.0 * sin(d.i * 0.2) + x.i * 0.5 - y.i * 0.3
                  + ((d.i * 7919 + x.i * 104729 + y.i * 1299709) % 83) / 83.0 - 0.5
               AS truth,
             10.0 + 5.0 * sin(d.i * 0.2) + x.i * 0.5 - y.i * 0.3
                  + ((d.i * 7919 + x.i * 104729 + y.i * 1299709) % 83) / 83.0 - 0.5
                  + 0.1 * l.i / 24.0
                  + (((d.i * 13 + x.i * 7 + y.i * 11 + l.i) % 17) / 17.0 - 0.5)
                    * (l.i / 24.0)
               AS fcst
      FROM (SELECT unnest(range(0, 20)) AS i) d,
           (SELECT unnest(range(0, 8)) AS i) x,
           (SELECT unnest(range(0, 6)) AS i) y,
           (SELECT unnest([24, 48, 72]) AS i) l
"""


@register(
    "weather_forecast_verification",
    oracle=f"""
    WITH v AS ({_VERIF_CUBE_SQL}),
    e AS (
      SELECT lead_h, truth, fcst, fcst - truth AS err FROM v
    ),
    s AS (
      SELECT lead_h,
             CAST(count(*) AS BIGINT) AS n,
             avg(err) AS bias,
             avg(err * err) AS mse,
             avg(abs(err)) AS mae,
             avg(truth) AS mt, avg(fcst) AS mf,
             avg(truth * fcst) AS mtf,
             avg(truth * truth) AS mtt,
             avg(fcst * fcst) AS mff
      FROM e GROUP BY lead_h
    )
    SELECT lead_h, n,
           round(bias, 6) AS bias,
           round(sqrt(mse), 6) AS rmse,
           round(mae, 6) AS mae,
           round((mtf - mt * mf) / sqrt((mtt - mt * mt) * (mff - mf * mf)), 6)
             AS pearson_r
    FROM s ORDER BY lead_h
    """,
)
def weather_forecast_verification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast verification scores — bias, RMSE, MAE, and Pearson
    correlation of forecast vs analysis per lead time, the standard NWP
    evaluation table (WMO verification practice). One map-combinable
    aggregation per lead computes every sufficient statistic (means of
    err, err², |err|, cross-products) — at 100 TB this is a single pass
    over the forecast archive with 9 doubles of state per lead. The
    synthetic truth/forecast pair is an exact function of indices
    (lead-growing noise + systematic drift), so the oracle recomputes
    every score arithmetically."""
    d = F.col("d")
    x = F.col("x")
    y = F.col("y")
    lead = F.col("lead_h")
    base = (
        10.0 + 5.0 * F.sin(d * 0.2) + x * 0.5 - y * 0.3
        + ((d * 7919 + x * 104729 + y * 1299709) % 83) / 83.0 - 0.5
    )
    n_d, n_x, n_y = 20, 8, 6
    grid = (
        spark.range(n_d * n_x * n_y)
        .select(
            (F.col("id") / (n_x * n_y)).cast("long").alias("d"),
            ((F.col("id") / n_y) % n_x).cast("long").alias("x"),
            (F.col("id") % n_y).alias("y"),
        )
        .crossJoin(
            F.broadcast(
                spark.createDataFrame([(24,), (48,), (72,)], "lead_h long")
            )
        )
    )
    v = grid.select(
        "lead_h",
        base.alias("truth"),
        (
            base
            + 0.1 * lead / 24.0
            + (((d * 13 + x * 7 + y * 11 + lead) % 17) / 17.0 - 0.5) * (lead / 24.0)
        ).alias("fcst"),
    )
    e = v.withColumn("err", F.col("fcst") - F.col("truth"))
    s = e.groupBy("lead_h").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("err").alias("bias"),
        F.avg(F.col("err") * F.col("err")).alias("mse"),
        F.avg(F.abs(F.col("err"))).alias("mae"),
        F.avg("truth").alias("mt"),
        F.avg("fcst").alias("mf"),
        F.avg(F.col("truth") * F.col("fcst")).alias("mtf"),
        F.avg(F.col("truth") * F.col("truth")).alias("mtt"),
        F.avg(F.col("fcst") * F.col("fcst")).alias("mff"),
    )
    return s.select(
        "lead_h",
        "n",
        F.round("bias", 6).alias("bias"),
        F.round(F.sqrt("mse"), 6).alias("rmse"),
        F.round("mae", 6).alias("mae"),
        F.round(
            (F.col("mtf") - F.col("mt") * F.col("mf"))
            / F.sqrt(
                (F.col("mtt") - F.col("mt") * F.col("mt"))
                * (F.col("mff") - F.col("mf") * F.col("mf"))
            ),
            6,
        ).alias("pearson_r"),
    ).orderBy("lead_h")


# Non-convex star polygon (integer vertices) around (10, 10); test
# points carry 0.137/0.211 offsets so no point ever ties a vertex or
# edge ordinate — the crossing comparisons stay far from boundaries.
_PIP_VERTS = [
    (10, 16), (12, 12), (16, 12), (13, 9), (14, 4),
    (10, 7), (6, 4), (7, 9), (4, 12), (8, 12),
]


@register(
    "geo_point_in_polygon",
    oracle=f"""
    WITH verts(i, x, y) AS (
      VALUES {", ".join(f"({i}, {x}, {y})" for i, (x, y) in enumerate(_PIP_VERTS))}
    ),
    edges AS (
      SELECT v1.x AS x1, v1.y AS y1, v2.x AS x2, v2.y AS y2
      FROM verts v1 JOIN verts v2
        ON v2.i = (v1.i + 1) % {len(_PIP_VERTS)}
    ),
    pts AS (
      SELECT g.i AS pid,
             (g.i % 20) + 0.137 AS px,
             ((g.i * 7) % 20) + 0.211 AS py
      FROM (SELECT unnest(range(0, 400)) AS i) g
    ),
    crossings AS (
      SELECT p.pid, p.px, p.py,
             CAST(sum(CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py)
                            AND p.px < e.x1 + (p.py - e.y1) * (e.x2 - e.x1)
                                              / (e.y2 - e.y1)
                           THEN 1 ELSE 0 END) AS BIGINT) AS nx
      FROM pts p CROSS JOIN edges e
      GROUP BY p.pid, p.px, p.py
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(CASE WHEN nx % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
           CAST(sum(CASE WHEN nx % 2 = 1 THEN pid ELSE 0 END) AS BIGINT)
             AS inside_id_checksum,
           round(sum(CASE WHEN nx % 2 = 1 THEN px + py ELSE 0.0 END), 6)
             AS inside_coord_sum
    FROM crossings
    """,
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon via ray casting against a NON-convex star
    polygon — the GIS containment primitive (even-odd rule). The
    polygon's edge list rides as an array literal and each point's
    crossing count is a pure JVM ``aggregate()`` fold over the 10 edges
    — map-only, no join, no UDF; at 100 TB this is the shape of a
    broadcast-polygon containment filter over a point fact table. The
    oracle computes the identical crossings with an explicit edge
    cross-join. Integer vertices + fractional point offsets keep every
    comparison away from edge/vertex ties."""
    n = len(_PIP_VERTS)
    edges = ", ".join(
        f"struct({x1}D as x1, {y1}D as y1, {x2}D as x2, {y2}D as y2)"
        for (x1, y1), (x2, y2) in zip(_PIP_VERTS, _PIP_VERTS[1:] + _PIP_VERTS[:1])
    )
    pts = spark.range(400).select(
        F.col("id").alias("pid"),
        ((F.col("id") % 20) + 0.137).alias("px"),
        (((F.col("id") * 7) % 20) + 0.211).alias("py"),
    )
    crossed = pts.withColumn(
        "nx",
        F.expr(
            f"""
            aggregate(array({edges}), 0L, (acc, e) ->
              acc + CASE WHEN (e.y1 > py) != (e.y2 > py)
                          AND px < e.x1 + (py - e.y1) * (e.x2 - e.x1)
                                          / (e.y2 - e.y1)
                         THEN 1L ELSE 0L END)
            """
        ),
    )
    return crossed.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.when(F.col("nx") % 2 == 1, 1).otherwise(0)).alias("n_inside"),
        F.sum(F.when(F.col("nx") % 2 == 1, F.col("pid")).otherwise(0)).alias(
            "inside_id_checksum"
        ),
        F.round(
            F.sum(
                F.when(F.col("nx") % 2 == 1, F.col("px") + F.col("py")).otherwise(0.0)
            ),
            6,
        ).alias("inside_coord_sum"),
    )


_TRAJ_STEP = """
    SELECT pid,
           x + 0.5 * (2.0 + sin(y * 0.4)) AS x,
           y + 0.5 * (1.0 + 0.8 * cos(x * 0.3)) AS y,
           dist + 0.5 * sqrt(pow(2.0 + sin(y * 0.4), 2)
                             + pow(1.0 + 0.8 * cos(x * 0.3), 2)) AS dist
    FROM {src}
"""


@register(
    "weather_parcel_trajectory",
    oracle=f"""
    WITH p0 AS (
      SELECT g.i AS pid,
             (g.i * 3) % 11 + 0.5 AS x,
             (g.i * 5) % 7 + 0.5 AS y,
             0.0 AS dist
      FROM (SELECT unnest(range(0, 6)) AS i) g
    ),
    p1 AS ({_TRAJ_STEP.format(src="p0")}),
    p2 AS ({_TRAJ_STEP.format(src="p1")}),
    p3 AS ({_TRAJ_STEP.format(src="p2")})
    SELECT pid, round(x, 6) AS x_final, round(y, 6) AS y_final,
           round(dist, 6) AS path_length
    FROM p3 ORDER BY pid
    """,
)
def weather_parcel_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward parcel trajectories (HYSPLIT-style advection): three
    explicit Euler steps through an analytic steady wind field
    u = 2+sin(0.4y), v = 1+0.8cos(0.3x), dt = 0.5 — the fourth
    iterative algorithm whose every iteration the oracle replays
    (chained CTEs), beside k-means, PageRank, and label propagation.
    Each step is a closed-form column rewrite — parcels advect
    embarrassingly parallel, no shuffle at any step; at 100 TB each
    parcel row carries its own state."""
    p = spark.range(6).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 3) % 11 + 0.5).alias("x"),
        ((F.col("id") * 5) % 7 + 0.5).alias("y"),
        F.lit(0.0).alias("dist"),
    )
    for _ in range(3):
        u = 2.0 + F.sin(F.col("y") * 0.4)
        v = 1.0 + 0.8 * F.cos(F.col("x") * 0.3)
        p = p.select(
            "pid",
            (F.col("x") + 0.5 * u).alias("x"),
            (F.col("y") + 0.5 * v).alias("y"),
            (F.col("dist") + 0.5 * F.sqrt(u * u + v * v)).alias("dist"),
        )
    return p.select(
        "pid",
        F.round("x", 6).alias("x_final"),
        F.round("y", 6).alias("y_final"),
        F.round("dist", 6).alias("path_length"),
    ).orderBy("pid")


# ---------------------------------------------------------------------------
# Station observation quality control (WMO-style flags, integer domain)
# ---------------------------------------------------------------------------

_QC_STATIONS = 10
_QC_STEPS = 500


_QC_SERIES_SQL = f"""
      SELECT s.i AS station, t.i AS t,
             CASE WHEN s.i % 3 = 0 AND t.i >= 200 AND t.i < 210 THEN 137
                  ELSE 100 + abs((t.i % 100) - 50) * 3
                       + (s.i * 7919 + t.i * 104729) % 21 - 10
                       + CASE WHEN (s.i * 15485863 + t.i * 1299709) % 101 = 0
                              THEN 800 ELSE 0 END
             END AS v
      FROM (SELECT unnest(range(0, {_QC_STATIONS})) AS i) s,
           (SELECT unnest(range(0, {_QC_STEPS})) AS i) t
"""


@register(
    "weather_station_qc",
    oracle=f"""
    WITH obs AS ({_QC_SERIES_SQL}),
    lagged AS (
      SELECT station, t, v,
             lag(v) OVER (PARTITION BY station ORDER BY t) AS pv
      FROM obs
    ),
    flagged AS (
      SELECT station, t, v,
             CASE WHEN v > 600 OR v < -800 THEN 1 ELSE 0 END AS f_range,
             CASE WHEN pv IS NOT NULL AND abs(v - pv) > 300 THEN 1 ELSE 0 END AS f_step,
             CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END AS chg
      FROM lagged
    ),
    runs AS (
      SELECT station, t, v, f_range, f_step,
             sum(chg) OVER (PARTITION BY station ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged
    ),
    runlen AS (
      SELECT station, t, f_range, f_step,
             count(*) OVER (PARTITION BY station, run_id) AS rl
      FROM runs
    ),
    qc AS (
      SELECT station, f_range, f_step,
             CASE WHEN rl >= 5 THEN 1 ELSE 0 END AS f_persist
      FROM runlen
    )
    SELECT station,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(f_range) AS BIGINT) AS n_range_fail,
           CAST(sum(f_step) AS BIGINT) AS n_step_fail,
           CAST(sum(f_persist) AS BIGINT) AS n_persist_fail,
           CAST(sum(CASE WHEN f_range + f_step + f_persist > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           round(sum(CASE WHEN f_range + f_step + f_persist > 0 THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS flag_rate
    FROM qc GROUP BY station ORDER BY station
    """,
)
def weather_station_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WMO-style station observation quality control — the three
    standard automatic tests, all in exact integer deci-degrees so no
    flag can sit on a float boundary: RANGE (plausible-limit check),
    STEP (|delta| vs the previous observation via a station-partitioned
    lag), and PERSISTENCE (flatline runs >= 5 identical values found by
    gaps-and-islands run ids — a change-counter running sum). The
    synthetic series injects real faults deterministically: hash-timed
    spikes (trip range AND both step sides) and a 10-step flatline on
    every third station. Per-station flag census; windows partition by
    station (the scalable grain — stations are independent)."""
    from pyspark.sql import Window as W

    stations = spark.range(_QC_STATIONS * _QC_STEPS).select(
        (F.col("id") / _QC_STEPS).cast("long").alias("station"),
        (F.col("id") % _QC_STEPS).alias("t"),
    )
    spike = (
        (F.col("station") * 15485863 + F.col("t") * 1299709) % 101 == 0
    )
    base = (
        100
        + F.abs((F.col("t") % 100) - 50) * 3
        + (F.col("station") * 7919 + F.col("t") * 104729) % 21
        - 10
        + F.when(spike, 800).otherwise(0)
    )
    obs = stations.withColumn(
        "v",
        F.when(
            (F.col("station") % 3 == 0) & (F.col("t") >= 200) & (F.col("t") < 210),
            F.lit(137),
        ).otherwise(base),
    )
    wk = W.partitionBy("station").orderBy("t")
    lagged = obs.withColumn("pv", F.lag("v").over(wk))
    flagged = lagged.select(
        "station",
        "t",
        "v",
        F.when((F.col("v") > 600) | (F.col("v") < -800), 1).otherwise(0).alias("f_range"),
        F.when(
            F.col("pv").isNotNull() & (F.abs(F.col("v") - F.col("pv")) > 300), 1
        )
        .otherwise(0)
        .alias("f_step"),
        F.when(F.col("pv").isNull() | (F.col("v") != F.col("pv")), 1)
        .otherwise(0)
        .alias("chg"),
    )
    runs = flagged.withColumn(
        "run_id", F.sum("chg").over(wk.rowsBetween(W.unboundedPreceding, 0))
    )
    runlen = runs.withColumn(
        "rl", F.count(F.lit(1)).over(W.partitionBy("station", "run_id"))
    )
    qc = runlen.select(
        "station",
        "f_range",
        "f_step",
        F.when(F.col("rl") >= 5, 1).otherwise(0).alias("f_persist"),
    )
    any_flag = F.col("f_range") + F.col("f_step") + F.col("f_persist") > 0
    return (
        qc.groupBy("station")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("f_range").alias("n_range_fail"),
            F.sum("f_step").alias("n_step_fail"),
            F.sum("f_persist").alias("n_persist_fail"),
            F.sum(F.when(any_flag, 1).otherwise(0)).alias("n_flagged"),
            F.round(
                F.sum(F.when(any_flag, 1).otherwise(0)) * 1.0 / F.count(F.lit(1)), 6
            ).alias("flag_rate"),
        )
        .orderBy("station")
    )


# ---------------------------------------------------------------------------
# Empirical return periods of annual maxima
# ---------------------------------------------------------------------------

_RP_YEARS = 20
_RP_DAYS = 365


@register(
    "weather_return_period",
    oracle=f"""
    WITH series AS (
      SELECT y.i AS year_i, d.i AS doy,
             100 + abs((d.i % 120) - 60) * 2
               + (y.i * 7919 + d.i * 104729) % 41
               + CASE WHEN (y.i * 15485863 + d.i * 1299709) % 503 = 0
                      THEN 150 ELSE 0 END AS v
      FROM (SELECT unnest(range(0, {_RP_YEARS})) AS i) y,
           (SELECT unnest(range(0, {_RP_DAYS})) AS i) d
    ),
    ann AS (
      SELECT year_i, CAST(max(v) AS BIGINT) AS annual_max
      FROM series GROUP BY year_i
    ),
    ranked AS (
      SELECT year_i, annual_max,
             row_number() OVER (ORDER BY annual_max DESC, year_i) AS rk
      FROM ann
    )
    SELECT year_i, annual_max, CAST(rk AS BIGINT) AS rank,
           round(({_RP_YEARS} + 1) * 1.0 / rk, 6) AS return_period_years,
           round(rk * 1.0 / ({_RP_YEARS} + 1), 6) AS exceedance_prob
    FROM ranked ORDER BY rank
    """,
)
def weather_return_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical return periods of annual maxima (the Weibull plotting
    position T = (n+1)/rank) — the extreme-value readout behind design
    storms and flood frequency, computed WITHOUT distribution fitting:
    a 20-year daily series in exact integer deci-units (triangular
    seasonality + deterministic noise + hash-timed extreme spikes),
    reduced map-combinably to annual maxima, ranked descending with a
    year tie-break. All integer until the two final exact-division
    ratios. The annual-max reduction is the scalable stage; the
    ranking window runs on the <= n_years frame."""
    from pyspark.sql import Window as W

    series = spark.range(_RP_YEARS * _RP_DAYS).select(
        (F.col("id") / _RP_DAYS).cast("long").alias("year_i"),
        (F.col("id") % _RP_DAYS).alias("doy"),
    )
    spike = (F.col("year_i") * 15485863 + F.col("doy") * 1299709) % 503 == 0
    v = (
        100
        + F.abs((F.col("doy") % 120) - 60) * 2
        + (F.col("year_i") * 7919 + F.col("doy") * 104729) % 41
        + F.when(spike, 150).otherwise(0)
    )
    ann = (
        series.withColumn("v", v)
        .groupBy("year_i")
        .agg(F.max("v").cast("long").alias("annual_max"))
    )
    ranked = ann.withColumn(
        "rank",
        F.row_number()
        .over(W.orderBy(F.col("annual_max").desc(), "year_i"))
        .cast("long"),
    )
    n1 = _RP_YEARS + 1
    return ranked.select(
        "year_i",
        "annual_max",
        "rank",
        F.round(F.lit(n1) * 1.0 / F.col("rank"), 6).alias("return_period_years"),
        F.round(F.col("rank") * 1.0 / n1, 6).alias("exceedance_prob"),
    ).orderBy("rank")
