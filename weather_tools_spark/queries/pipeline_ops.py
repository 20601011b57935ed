"""Pipeline operators from the weather-dl side of the reference,
re-expressed relationally and oracle-checked.

- Cartesian partition fan-out over selection keys + target-path
  templating (weather_dl/download_pipeline/partition.py:164-207,
  parsers.py:482-487) → crossJoin of tiny literal dimension frames +
  format_string, with round-robin license assignment
  (partition.py:67-90) as ``row_number % n``.
- Manifest last-writer-wins upsert (manifest.py:546-561 BigQuery MERGE
  keyed by location) → window `row_number` over an update stream; the
  driver's events table stands in as the update stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from weather_tools_spark.catalog import load_table
from weather_tools_spark.queries import register

_YEARS = [2016, 2017]
_MONTHS = [1]
_DAYS = [1, 15]
_LEVELS = [500, 850]
_N_LICENSES = 3


@register(
    "dl_partition_fanout",
    oracle=f"""
    WITH y AS (SELECT unnest([{", ".join(map(str, _YEARS))}]) AS year),
         m AS (SELECT unnest([{", ".join(map(str, _MONTHS))}]) AS month),
         d AS (SELECT unnest([{", ".join(map(str, _DAYS))}]) AS day),
         p AS (SELECT unnest([{", ".join(map(str, _LEVELS))}]) AS pressure_level),
    fanout AS (
      SELECT year, month, day, pressure_level,
             printf('era5-%04d%02d%02d-pressure-%d.nc', year, month, day, pressure_level) AS target
      FROM y CROSS JOIN m CROSS JOIN d CROSS JOIN p
    )
    SELECT year, month, day, pressure_level, target,
           CAST((row_number() OVER (ORDER BY year, month, day, pressure_level) - 1)
                % {_N_LICENSES} AS BIGINT) AS license_slot
    FROM fanout
    ORDER BY year, month, day, pressure_level
    """,
)
def dl_partition_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition fan-out: Cartesian product of selection-key values →
    one row per download partition, with the formatted target path and a
    round-robin license slot.

    Implementation note: built as a chain of explode()s over literal
    arrays on a single-partition seed frame — NOT as crossJoin of
    multi-partition frames. A k-way crossJoin of default-parallelism
    frames multiplies task counts (32^k tasks for literal-sized inputs);
    chained explode keeps the product in one narrow stage, and the
    result can be repartitioned to fan work out when the product is
    actually large."""

    def lits(vals: list[int]) -> F.Column:
        return F.array(*[F.lit(v) for v in vals])

    fanout = (
        spark.range(1)
        .coalesce(1)
        .select(F.explode(lits(_YEARS)).alias("year"))
        .select("year", F.explode(lits(_MONTHS)).alias("month"))
        .select("year", "month", F.explode(lits(_DAYS)).alias("day"))
        .select("year", "month", "day", F.explode(lits(_LEVELS)).alias("pressure_level"))
        .withColumn(
            "target",
            F.format_string(
                "era5-%04d%02d%02d-pressure-%d.nc",
                F.col("year"), F.col("month"), F.col("day"), F.col("pressure_level"),
            ),
        )
    )
    w = W.orderBy("year", "month", "day", "pressure_level")
    return (
        fanout.withColumn(
            "license_slot", ((F.row_number().over(w) - 1) % _N_LICENSES).cast("bigint")
        )
        .orderBy("year", "month", "day", "pressure_level")
    )


@register(
    "manifest_latest_state",
    oracle="""
    WITH updates AS (
      SELECT 'loc_' || CAST(user_id % 50 AS VARCHAR) AS location,
             event_type AS status,
             ts, event_id, value
      FROM events
    ),
    ranked AS (
      SELECT location, status, ts, event_id, value,
             row_number() OVER (PARTITION BY location
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM updates
    )
    SELECT location, status,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS updated_at,
           round(value, 4) AS size
    FROM ranked WHERE rk = 1
    ORDER BY location
    """,
)
def manifest_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest upsert (last-writer-wins MERGE keyed by location): the
    final state after replaying an update stream is `row_number()=1` per
    key by descending (ts, id) — one shuffle on the merge key; identical
    result to applying per-row MERGEs in order."""
    ev = load_table(spark, "events", sf_dir)
    updates = ev.select(
        F.concat(F.lit("loc_"), (F.col("user_id") % 50).cast("string")).alias("location"),
        F.col("event_type").alias("status"),
        "ts",
        "event_id",
        "value",
    )
    w = W.partitionBy("location").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        updates.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "location",
            "status",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("updated_at"),
            F.round("value", 4).alias("size"),
        )
        .orderBy("location")
    )


@register(
    "mars_range_expansion",
    oracle="""
    WITH dates AS (
      SELECT unnest(generate_series(DATE '2020-01-07', DATE '2020-01-14', INTERVAL 2 DAY)) AS dt
    ),
    levels AS (SELECT unnest(generate_series(10, 12, 1)) AS level)
    SELECT strftime(dt, '%Y-%m-%d') AS date_str, CAST(level AS BIGINT) AS level
    FROM dates CROSS JOIN levels
    ORDER BY date_str, level
    """,
)
def mars_range_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARS-style range expansion (`start/to/end/by/step` for dates and
    ints — parsers.py:238-325 semantics) done with sequence() + explode —
    config-time fan-out as a relational operator."""
    # chained explode on a single-partition seed (see dl_partition_fanout
    # note on why not crossJoin for literal-sized dimensions)
    return (
        spark.range(1)
        .coalesce(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit("2020-01-07").cast("date"),
                    F.lit("2020-01-14").cast("date"),
                    F.expr("INTERVAL 2 DAY"),
                )
            ).alias("dt")
        )
        .select("dt", F.explode(F.sequence(F.lit(10), F.lit(12), F.lit(1))).alias("level"))
        .select(
            F.date_format("dt", "yyyy-MM-dd").alias("date_str"),
            F.col("level").cast("bigint").alias("level"),
        )
        .orderBy("date_str", "level")
    )


@register(
    "sample_stratified_deterministic",
    oracle="""
    SELECT event_type,
           count(*) AS n_total,
           CAST(sum(CASE WHEN md5(CAST(event_id AS VARCHAR)) <
                              CASE event_type WHEN 'purchase' THEN '80'
                                              WHEN 'signup' THEN '40'
                                              ELSE '1a' END
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(sum(CASE WHEN md5(CAST(event_id AS VARCHAR)) <
                              CASE event_type WHEN 'purchase' THEN '80'
                                              WHEN 'signup' THEN '40'
                                              ELSE '1a' END
                         THEN event_id END) AS BIGINT) AS id_checksum,
           round((CAST(sum(CASE WHEN md5(CAST(event_id AS VARCHAR)) <
                                     CASE event_type WHEN 'purchase' THEN '80'
                                                     WHEN 'signup' THEN '40'
                                                     ELSE '1a' END
                                THEN CAST(round((value) * 1000000, 0) AS BIGINT) END) AS DOUBLE) / 1000000)
                 / sum(CASE WHEN md5(CAST(event_id AS VARCHAR)) <
                                 CASE event_type WHEN 'purchase' THEN '80'
                                                 WHEN 'signup' THEN '40'
                                                 ELSE '1a' END
                            THEN 1 ELSE 0 END), 6) AS avg_value_sampled
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def sample_stratified_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (per-stratum-rate) sampling — the
    reproducible twin of ``df.sampleBy``: keep a row iff the md5 of its
    stable key is below a per-stratum hex threshold (purchase 50% =
    '80'/'100', signup 25% = '40', rest 26/256 ≈ 10.2%). Hash-threshold
    Bernoulli sampling is map-only (no window, no per-stratum global
    rank, no shuffle before the partial agg), so it scales to any corpus
    and any stratum skew, and a row's membership never changes as data
    grows — the property training-data holdouts need (cf.
    ``corpus_train_split``). Output audits the sample per stratum:
    realized size vs total and an id checksum pinning exact membership.
    Seed-based ``sample()``/``sampleBy`` is partitioning-dependent; this
    is the deterministic form a 1000-executor run can reproduce."""
    ev = load_table(spark, "events", sf_dir)
    thr = (
        F.when(F.col("event_type") == "purchase", "80")
        .when(F.col("event_type") == "signup", "40")
        .otherwise("1a")
    )
    sampled = F.md5(F.col("event_id").cast("string")) < thr
    n_sampled = F.sum(F.when(sampled, 1).otherwise(0))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            n_sampled.alias("n_sampled"),
            F.sum(F.when(sampled, F.col("event_id"))).alias("id_checksum"),
            F.round(
                (
                    F.sum(F.when(sampled, F.round(F.col("value") * 1_000_000, 0).cast("long")))
                    / 1_000_000
                ).cast("double")
                / n_sampled,
                6,
            ).alias("avg_value_sampled"),
        )
        .orderBy("event_type")
    )


@register(
    "unpivot_lineitem_metrics",
    oracle="""
    WITH m AS (
      SELECT 'l_quantity' AS variable, l_quantity AS value FROM lineitem
      UNION ALL SELECT 'l_extendedprice' AS variable, l_extendedprice FROM lineitem
      UNION ALL SELECT 'l_discount' AS variable, l_discount FROM lineitem
      UNION ALL SELECT 'l_tax' AS variable, l_tax FROM lineitem
    )
    SELECT variable, count(*) AS n,
           round(CAST(sum(CAST(round((value) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 10000, 0) / 100 AS sum_value,
           round((CAST(sum(CAST(round((value) * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000) / count(value), 6) AS avg_value
    FROM m GROUP BY variable ORDER BY variable
    """,
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot through the file-splitter's ``melt_variables``
    (the reference's per-variable file splitting,
    weather_sp/splitter_pipeline/file_splitters.py semantics, as a
    queryable operator). ``stack()`` is a narrow map-side generator — 4×
    the rows but zero shuffle until the aggregate, whose partial
    (map-side) phase collapses each task's output to ≤4 rows before the
    single exchange; the long format then feeds per-variable stats in
    one pass."""
    from weather_tools_spark.pipeline.splitter import melt_variables
    from weather_tools_spark.queries.core_sql import _davg, _dsum, _dsum_round

    li = load_table(spark, "lineitem", sf_dir)
    melted = melt_variables(
        li.select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        id_cols=["l_orderkey"],
        var_cols=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
    return (
        melted.groupBy("variable")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum_round(F.col("value")).alias("sum_value"),
            F.round(_davg(F.col("value")), 6).alias("avg_value"),
        )
        .orderBy("variable")
    )


@register(
    "pipeline_compaction_report",
    oracle="""
    SELECT 'coalesce' AS mode,
           CAST(16 AS INTEGER) AS n_files_before,
           CAST(count(*) AS BIGINT) AS rows_before,
           CAST(count(*) AS BIGINT) AS rows_after,
           TRUE AS rows_preserved,
           TRUE AS files_reduced
    FROM events
    """,
)
def pipeline_compaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end-to-end: fragment the events table into
    16 files in a scratch dir, compact to ~4 target-sized files with the
    shuffle-free coalesce plan, and report the audit
    (operators/compaction.py), projected to its filesystem-independent
    facts so the DuckDB oracle hash-gates the run: source fragment
    count, row preservation, and that compaction strictly reduced the
    file count. The byte-size-dependent remainder (planned vs actual
    file counts for a given target size) is asserted in
    tests/test_compaction.py."""
    import os
    import tempfile

    from weather_tools_spark.operators import compaction as C

    base = tempfile.mkdtemp(prefix="wts_compaction_")
    src, dst = os.path.join(base, "src"), os.path.join(base, "dst")
    ev = load_table(spark, "events", sf_dir)
    n_rows = ev.count()
    ev.repartition(16).write.parquet(src)
    total = C.directory_stats(spark, src)["total_bytes"]
    report = C.compact(spark, src, dst, target_file_bytes=(total + 3) // 4, mode="coalesce")
    n_after = spark.read.parquet(dst).count()
    return spark.createDataFrame(
        [
            (
                report["mode"],
                report["before"]["n_files"],
                n_rows,
                n_after,
                n_rows == n_after,
                report["after"]["n_files"] < report["before"]["n_files"],
            )
        ],
        "mode string, n_files_before int, rows_before long, rows_after long, "
        "rows_preserved boolean, files_reduced boolean",
    )


@register(
    "pipeline_quarantine_report",
    oracle="""
    WITH n AS (SELECT least(500, count(*)) AS n_good FROM events)
    SELECT CAST(n_good AS BIGINT) AS n_good,
           CAST(3 AS BIGINT) AS n_quarantined,
           CAST(n_good + 3 AS BIGINT) AS n_total,
           round(3.0 / (n_good + 3), 6) AS malformed_rate,
           TRUE AS nothing_dropped,
           TRUE AS all_bad_captured,
           CAST(2 AS BIGINT) AS n_bad_json_like,
           CAST(1 AS BIGINT) AS n_bad_other
    FROM n
    """,
)
def pipeline_quarantine_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine end-to-end: serialize a slice of the
    events table to line-delimited JSON, inject malformed lines, ingest
    through sources/quarantine.py, and report the ingest-health summary
    plus invariant booleans (nothing dropped, every bad line captured)
    and a reason histogram over the dead-letter branch (json-like vs
    not). Every projected fact is filesystem-independent — counts and
    the malformed rate are functions of the table size and the three
    injected lines — so the DuckDB oracle hash-gates the whole run.
    tests/test_quarantine.py asserts the row-level detail."""
    import os
    import tempfile

    from weather_tools_spark.sources.quarantine import (
        quarantine_summary,
        read_json_with_quarantine,
    )
    from weather_tools_spark.streaming.events import EVENT_SCHEMA

    base = tempfile.mkdtemp(prefix="wts_quarantine_")
    feed = os.path.join(base, "feed")
    ev = load_table(spark, "events", sf_dir).limit(500)
    n_src = ev.count()
    clean = ev.select(
        F.to_json(F.struct("event_id", "event_type", "value")).alias("value")
    )
    bad = spark.createDataFrame(
        [("{truncated",), ("not json",), ('{"event_id": }',)], ["value"]
    )
    clean.unionAll(bad).coalesce(1).write.mode("overwrite").text(feed)

    schema = "event_id long, event_type string, value double"
    from pyspark.sql.types import _parse_datatype_string

    good, quarantined = read_json_with_quarantine(
        spark, feed, _parse_datatype_string(schema)
    )
    from weather_tools_spark.operators.bounded import bounded_rows

    report = bounded_rows(
        quarantine_summary(good, quarantined), 1, "whole-feed quarantine summary"
    )[0]
    reasons = bounded_rows(
        quarantined.agg(
            F.sum(F.when(F.col("raw_record").startswith("{"), 1).otherwise(0)).alias("json_like"),
            F.sum(F.when(F.col("raw_record").startswith("{"), 0).otherwise(1)).alias("other"),
        ),
        1,
        "whole-feed quarantine reason counts",
    )[0]
    return spark.createDataFrame(
        [
            (
                report.n_good,
                report.n_quarantined,
                report.n_total,
                report.malformed_rate,
                report.n_good == n_src,
                report.n_quarantined == 3,
                reasons.json_like,
                reasons.other,
            )
        ],
        "n_good long, n_quarantined long, n_total long, malformed_rate double, "
        "nothing_dropped boolean, all_bad_captured boolean, "
        "n_bad_json_like long, n_bad_other long",
    )


@register(
    "zarr_pruned_scan_agg",
    oracle="""
    WITH cells AS (
      SELECT t.i AS ti, la.i AS lai, lo.i AS loi
      FROM (SELECT unnest(range(0, 6)) AS i) t,
           (SELECT unnest(range(0, 4)) AS i) la,
           (SELECT unnest(range(0, 5)) AS i) lo
      -- the pruned slice: hours [2,5) x lats index {1,2} x all lons
      WHERE t.i BETWEEN 2 AND 4 AND la.i IN (1, 2)
    )
    SELECT CAST('d2m' AS VARCHAR) AS variable,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(sum(ti * 10000 + lai * 100 + loi + 0.25), 2) AS sum_value,
           round(min(ti * 10000 + lai * 100 + loi + 0.25), 2) AS min_value,
           round(max(ti * 10000 + lai * 100 + loi + 0.25), 2) AS max_value
    FROM cells
    UNION ALL
    SELECT 'u10', CAST(count(*) AS BIGINT),
           round(sum(ti * 10000 + lai * 100 + loi + 1.25), 2),
           round(min(ti * 10000 + lai * 100 + loi + 1.25), 2),
           round(max(ti * 10000 + lai * 100 + loi + 1.25), 2)
    FROM cells
    ORDER BY variable
    """,
)
def zarr_pruned_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Zarr v2 store, end-to-end through the driver surface: write
    a zlib-chunked v2 store with the distributed chunk sink
    (sources/zarr_v2.write_zarr_v2 — genuine .zarray/.zmetadata JSON +
    C-order compressed chunk files), reopen it from consolidated
    metadata alone, run the CHUNK-PRUNED scan with the stdlib decoder
    (np.frombuffer + zlib, zarr_v2.zarr2_chunk_decoder),
    and aggregate the decoded values per variable. Cell values are an
    exact float64 function of the grid indices, so the DuckDB oracle
    recomputes the same sums arithmetically — a hash gate over the
    actual decoded bytes, pruning included (edge chunks cross the
    pruned boundary on every axis). Reference semantics:
    xr.open_zarr planning, xql/src/xql/open.py:69-98."""
    import tempfile

    from weather_tools_spark.sources import zarr_scan as ZS
    from weather_tools_spark.sources import zarr_v2 as Z2

    store = tempfile.mkdtemp(prefix="wts_zarr_") + "/store.zarr"
    times = [f"2024-03-01 {h:02d}:00:00" for h in range(6)]
    lats = [51.0, 50.75, 50.5, 50.25]
    lons = [8.0, 8.25, 8.5, 8.75, 9.0]
    meta = ZS.ChunkedDatasetMeta(
        uri=store, times=times, lats=lats, lons=lons,
        chunk_time=4, chunk_lat=3, chunk_lon=2, variables=("d2m", "u10"),
    )
    # deterministic source grid, built distributed (no driver loop)
    nt, nla, nlo = len(times), len(lats), len(lons)
    grid = (
        spark.range(nt * nla * nlo)
        .select(
            (F.col("id") / (nla * nlo)).cast("int").alias("ti"),
            ((F.col("id") / nlo) % nla).cast("int").alias("lai"),
            (F.col("id") % nlo).cast("int").alias("loi"),
        )
        .select(
            F.to_timestamp(
                F.concat(F.lit("2024-03-01 "), F.lpad(F.col("ti").cast("string"), 2, "0"), F.lit(":00:00"))
            ).alias("time"),
            (F.lit(51.0) - F.col("lai") * 0.25).alias("latitude"),
            (F.lit(8.0) + F.col("loi") * 0.25).alias("longitude"),
            (F.col("ti") * 10000 + F.col("lai") * 100 + F.col("loi") + 0.25).alias("d2m"),
            (F.col("ti") * 10000 + F.col("lai") * 100 + F.col("loi") + 1.25).alias("u10"),
        )
    )
    Z2.write_zarr_v2(grid, store, meta)
    got = ZS.scan(
        spark,
        Z2.open_zarr_v2(store),
        time_range=("2024-03-01 02:00:00", "2024-03-01 05:00:00"),
        lat_range=(50.4, 50.8),  # lat indices 1,2 (50.75, 50.5)
    )
    melted = got.selectExpr(
        "stack(2, 'd2m', d2m, 'u10', u10) AS (variable, value)"
    )
    return (
        melted.groupBy("variable")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
        .orderBy("variable")
    )


@register(
    "netcdf_roundtrip_agg",
    oracle="""
    WITH cells AS (
      SELECT d.i AS di, h.i AS hi, la.i AS lai, lo.i AS loi
      FROM (SELECT unnest(range(0, 2)) AS i) d,
           (SELECT unnest(range(0, 4)) AS i) h,
           (SELECT unnest(range(0, 3)) AS i) la,
           (SELECT unnest(range(0, 3)) AS i) lo
    )
    SELECT CAST(2 AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(sum(di * 100000 + hi * 1000 + lai * 10 + loi + 0.125), 3) AS sum_d2m,
           round(min(di * 100000 + hi * 1000 + lai * 10 + loi + 0.125), 3) AS min_d2m,
           round(max(di * 100000 + hi * 1000 + lai * 10 + loi + 0.125), 3) AS max_d2m
    FROM cells
    """,
)
def netcdf_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic NetCDF end-to-end through the driver surface: a
    deterministic 2-day grid flows through the DISTRIBUTED file-per-day
    sink (sources/netcdf3.write_netcdf3_partitioned — genuine CDF-1
    bytes, executor tasks each serialize whole files), then back in
    through hypercube ingest, whose decode_auto routes the
    files to the stdlib classic codec by MAGIC BYTES (no xarray). The
    aggregate is over the decoded values; cell values are an exact
    float64 function of grid indices, so the DuckDB oracle recomputes
    the same sums arithmetically — a hash gate over real NetCDF bytes.
    Reference semantics: engine dispatch, weather_mv
    loader_pipeline/sinks.py:437-519."""
    import os
    import tempfile

    from weather_tools_spark.sources import hypercube as H
    from weather_tools_spark.sources import netcdf3 as N3

    out_dir = tempfile.mkdtemp(prefix="wts_nc_")
    nd, nh, nla, nlo = 2, 4, 3, 3
    grid = (
        spark.range(nd * nh * nla * nlo)
        .select(
            (F.col("id") / (nh * nla * nlo)).cast("int").alias("di"),
            ((F.col("id") / (nla * nlo)) % nh).cast("int").alias("hi"),
            ((F.col("id") / nlo) % nla).cast("int").alias("lai"),
            (F.col("id") % nlo).cast("int").alias("loi"),
        )
        .select(
            F.to_timestamp(
                F.concat(
                    F.lit("2024-04-0"), (F.col("di") + 1).cast("string"),
                    F.lit(" "), F.lpad((F.col("hi") * 6).cast("string"), 2, "0"),
                    F.lit(":00:00"),
                )
            ).alias("time"),
            (F.lit(52.0) - F.col("lai") * 0.25).alias("latitude"),
            (F.lit(5.0) + F.col("loi") * 0.25).alias("longitude"),
            (F.col("di") * 100000 + F.col("hi") * 1000 + F.col("lai") * 10
             + F.col("loi") + 0.125).alias("d2m"),
        )
    )
    n_files = N3.write_netcdf3_partitioned(grid, out_dir, ["d2m"])
    paths = sorted(os.path.join(out_dir, f) for f in os.listdir(out_dir))
    from pyspark.sql.types import _parse_datatype_string

    decoded = H.ingest(
        spark,
        paths,
        schema=_parse_datatype_string(
            "time timestamp, latitude double, longitude double, "
            "d2m double, data_uri string, data_first_step timestamp"
        ),
    )
    return decoded.agg(
        F.lit(n_files).cast("bigint").alias("n_files"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("d2m"), 3).alias("sum_d2m"),
        F.round(F.min("d2m"), 3).alias("min_d2m"),
        F.round(F.max("d2m"), 3).alias("max_d2m"),
    )


@register(
    "netcdf4_roundtrip_agg",
    oracle="""
    WITH cells AS (
      SELECT d.i AS di, h.i AS hi, la.i AS lai, lo.i AS loi
      FROM (SELECT unnest(range(0, 2)) AS i) d,
           (SELECT unnest(range(0, 4)) AS i) h,
           (SELECT unnest(range(0, 3)) AS i) la,
           (SELECT unnest(range(0, 3)) AS i) lo
    )
    SELECT CAST(2 AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(sum(di * 200000 + hi * 2000 + lai * 20 + loi + 0.25), 3) AS sum_d2m,
           round(min(di * 200000 + hi * 2000 + lai * 20 + loi + 0.25), 3) AS min_d2m,
           round(max(di * 200000 + hi * 2000 + lai * 20 + loi + 0.25), 3) AS max_d2m
    FROM cells
    """,
)
def netcdf4_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetCDF-4/HDF5 end-to-end through the driver surface: a
    deterministic 2-day grid flows through the DISTRIBUTED NetCDF-4
    sink (sources/hdf5.write_netcdf4_partitioned — genuine HDF5 bytes:
    superblock v0, symbol-table root group, v1 object headers, chunked
    v1-B-tree layout with a shuffle+deflate filter pipeline, one whole
    file per executor task), then back in through hypercube ingest
    (decode_auto), which routes the files to the stdlib HDF5
    subset codec by the \\x89HDF magic (no xarray/h5py). The aggregate
    is over the decoded values; cell values are an exact float64
    function of grid indices, so the DuckDB oracle recomputes the same
    sums arithmetically — a hash gate over real HDF5 bytes through the
    full chunk/filter path. Reference semantics: engine dispatch,
    weather_mv loader_pipeline/sinks.py:437-519."""
    import os
    import tempfile

    from weather_tools_spark.sources import hdf5 as H5
    from weather_tools_spark.sources import hypercube as H

    out_dir = tempfile.mkdtemp(prefix="wts_nc4_")
    nd, nh, nla, nlo = 2, 4, 3, 3
    grid = (
        spark.range(nd * nh * nla * nlo)
        .select(
            (F.col("id") / (nh * nla * nlo)).cast("int").alias("di"),
            ((F.col("id") / (nla * nlo)) % nh).cast("int").alias("hi"),
            ((F.col("id") / nlo) % nla).cast("int").alias("lai"),
            (F.col("id") % nlo).cast("int").alias("loi"),
        )
        .select(
            F.to_timestamp(
                F.concat(
                    F.lit("2024-08-0"), (F.col("di") + 1).cast("string"),
                    F.lit(" "), F.lpad((F.col("hi") * 6).cast("string"), 2, "0"),
                    F.lit(":00:00"),
                )
            ).alias("time"),
            (F.lit(54.0) - F.col("lai") * 0.25).alias("latitude"),
            (F.lit(7.0) + F.col("loi") * 0.25).alias("longitude"),
            (F.col("di") * 200000 + F.col("hi") * 2000 + F.col("lai") * 20
             + F.col("loi") + 0.25).alias("d2m"),
        )
    )
    n_files = H5.write_netcdf4_partitioned(grid, out_dir, ["d2m"])
    paths = sorted(os.path.join(out_dir, f) for f in os.listdir(out_dir))
    from pyspark.sql.types import _parse_datatype_string

    decoded = H.ingest(
        spark,
        paths,
        schema=_parse_datatype_string(
            "time timestamp, latitude double, longitude double, "
            "d2m double, data_uri string, data_first_step timestamp"
        ),
    )
    return decoded.agg(
        F.lit(n_files).cast("bigint").alias("n_files"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("d2m"), 3).alias("sum_d2m"),
        F.round(F.min("d2m"), 3).alias("min_d2m"),
        F.round(F.max("d2m"), 3).alias("max_d2m"),
    )


@register(
    "geotiff_roundtrip_agg",
    oracle="""
    WITH cells AS (
      SELECT h.i AS hi, r.i AS row_i, c.i AS col_i
      FROM (SELECT unnest(range(0, 2)) AS i) h,
           (SELECT unnest(range(0, 5)) AS i) r,
           (SELECT unnest(range(0, 4)) AS i) c
    )
    SELECT CAST(2 AS BIGINT) AS n_rasters,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(sum(hi * 1000 + row_i * 10 + col_i + 0.5), 3) AS sum_value,
           round(min(hi * 1000 + row_i * 10 + col_i + 0.5), 3) AS min_value,
           round(max(hi * 1000 + row_i * 10 + col_i + 0.5), 3) AS max_value,
           round(min(52.0 - row_i * 0.25), 2) AS min_lat,
           round(max(6.0 + col_i * 0.25), 2) AS max_lon
    FROM cells
    """,
)
def geotiff_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTIFF end-to-end through the driver surface: a deterministic
    2-slice grid flows through the DISTRIBUTED raster sink
    (sources/geotiff.write_geotiff_partitioned — genuine little-endian
    TIFF bytes with ModelPixelScale/ModelTiepoint georeferencing,
    Deflate strips, one whole raster per executor task), then back in
    through the stdlib parser (np.frombuffer + zlib). The aggregate
    covers both the decoded VALUES and the reconstructed GEOREFERENCING
    (min latitude / max longitude recomputed from the tiepoint+scale
    tags), all exact float64 functions of grid indices, so the DuckDB
    oracle recomputes them arithmetically. Reference semantics:
    rioxarray/rasterio open + COG output, weather_mv
    loader_pipeline/sinks.py:437-519, regrid.py."""
    import os
    import tempfile

    import pandas as pd

    from weather_tools_spark.sources import geotiff as GT

    out_dir = tempfile.mkdtemp(prefix="wts_gtiff_")
    nh, nr, nc = 2, 5, 4
    grid = (
        spark.range(nh * nr * nc)
        .select(
            (F.col("id") / (nr * nc)).cast("int").alias("hi"),
            ((F.col("id") / nc) % nr).cast("int").alias("row_i"),
            (F.col("id") % nc).cast("int").alias("col_i"),
        )
        .select(
            F.to_timestamp(
                F.concat(F.lit("2024-05-02 "), F.lpad((F.col("hi") * 12).cast("string"), 2, "0"),
                         F.lit(":00:00"))
            ).alias("time"),
            (F.lit(52.0) - F.col("row_i") * 0.25).alias("latitude"),
            (F.lit(6.0) + F.col("col_i") * 0.25).alias("longitude"),
            (F.col("hi") * 1000 + F.col("row_i") * 10 + F.col("col_i") + 0.5).alias("value"),
        )
    )
    n_rasters = GT.write_geotiff_partitioned(grid, out_dir)

    # decode distributed: one task per raster file, stdlib parser
    paths = sorted(os.path.join(out_dir, f) for f in os.listdir(out_dir))
    files = spark.createDataFrame([(p,) for p in paths], "path string").repartition(len(paths))

    def decode(batches):
        for pdf in batches:
            for p in pdf["path"]:
                yield GT.gtiff_decode(p)

    decoded = files.mapInPandas(decode, "latitude double, longitude double, value double")
    return decoded.agg(
        F.lit(n_rasters).cast("bigint").alias("n_rasters"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("value"), 3).alias("sum_value"),
        F.round(F.min("value"), 3).alias("min_value"),
        F.round(F.max("value"), 3).alias("max_value"),
        F.round(F.min("latitude"), 2).alias("min_lat"),
        F.round(F.max("longitude"), 2).alias("max_lon"),
    )


@register(
    "grib_roundtrip_agg",
    oracle="""
    WITH cells AS (
      SELECT h.i AS hi, r.i AS row_i, c.i AS col_i
      FROM (SELECT unnest(range(0, 2)) AS i) h,
           (SELECT unnest(range(0, 3)) AS i) r,
           (SELECT unnest(range(0, 4)) AS i) c
    )
    SELECT CAST(2 AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(sum(hi * 1000 + row_i * 10 + col_i + 0.125), 3) AS sum_d2m,
           round(sum(hi * 2000 - row_i * 20 - col_i - 0.25), 3) AS sum_u10,
           round(max(hi * 1000 + row_i * 10 + col_i + 0.125), 3) AS max_d2m,
           round(min(hi * 2000 - row_i * 20 - col_i - 0.25), 3) AS min_u10
    FROM cells
    """,
)
def grib_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 end-to-end through the driver surface: a deterministic
    2-slice, 2-parameter grid flows through the DISTRIBUTED GRIB2 sink
    (sources/grib2.write_grib2_partitioned — genuine WMO section
    layout, simple packing, one whole multi-message file per executor
    task), then back in through hypercube ingest (decode_auto),
    which routes the files to the stdlib codec by the GRIB magic +
    edition byte. Cell values are exact multiples of 10^-3 so simple
    packing at D=3 round-trips exactly and the DuckDB oracle recomputes
    the same aggregates arithmetically — a hash gate over real GRIB2
    bytes, negative values and both parameters included. Reference
    semantics: cfgrib decode + edition fallback, weather_mv
    loader_pipeline/sinks.py:437-519."""
    import os
    import tempfile

    from weather_tools_spark.sources import grib2 as G2
    from weather_tools_spark.sources import hypercube as H

    out_dir = tempfile.mkdtemp(prefix="wts_grib_")
    nh, nr, nc = 2, 3, 4
    grid = (
        spark.range(nh * nr * nc)
        .select(
            (F.col("id") / (nr * nc)).cast("int").alias("hi"),
            ((F.col("id") / nc) % nr).cast("int").alias("row_i"),
            (F.col("id") % nc).cast("int").alias("col_i"),
        )
        .select(
            F.to_timestamp(
                F.concat(F.lit("2024-06-03 "), F.lpad((F.col("hi") * 12).cast("string"), 2, "0"),
                         F.lit(":00:00"))
            ).alias("time"),
            (F.lit(49.0) - F.col("row_i") * 0.25).alias("latitude"),
            (F.lit(2.0) + F.col("col_i") * 0.25).alias("longitude"),
            (F.col("hi") * 1000 + F.col("row_i") * 10 + F.col("col_i") + 0.125).alias("d2m"),
            (F.col("hi") * 2000 - F.col("row_i") * 20 - F.col("col_i") - 0.25).alias("u10"),
        )
    )
    n_files = G2.write_grib2_partitioned(grid, out_dir, ["d2m", "u10"])
    paths = sorted(os.path.join(out_dir, f) for f in os.listdir(out_dir))
    from pyspark.sql.types import _parse_datatype_string

    decoded = H.ingest(
        spark,
        paths,
        schema=_parse_datatype_string(
            "time timestamp, latitude double, longitude double, "
            "d2m double, u10 double, data_uri string, data_first_step timestamp"
        ),
    )
    return decoded.agg(
        F.lit(n_files).cast("bigint").alias("n_files"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("d2m"), 3).alias("sum_d2m"),
        F.round(F.sum("u10"), 3).alias("sum_u10"),
        F.round(F.max("d2m"), 3).alias("max_d2m"),
        F.round(F.min("u10"), 3).alias("min_u10"),
    )


@register(
    "grib1_roundtrip_agg",
    oracle="""
    WITH cells AS (
      SELECT h.i AS hi, r.i AS row_i, c.i AS col_i
      FROM (SELECT unnest(range(0, 2)) AS i) h,
           (SELECT unnest(range(0, 3)) AS i) r,
           (SELECT unnest(range(0, 4)) AS i) c
    )
    SELECT CAST(2 AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(sum(hi * 1000 + row_i * 10 + col_i + 0.375), 3) AS sum_d2m,
           round(sum(hi * 2000 - row_i * 20 - col_i - 0.125), 3) AS sum_u10,
           round(max(hi * 1000 + row_i * 10 + col_i + 0.375), 3) AS max_d2m,
           round(min(hi * 2000 - row_i * 20 - col_i - 0.125), 3) AS min_u10
    FROM cells
    """,
)
def grib1_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB edition-1 end-to-end through the driver surface: the
    deterministic 2-slice, 2-parameter grid flows through the
    DISTRIBUTED GRIB1 sink (sources/grib1.write_grib1_partitioned —
    genuine FM 92 Ed.1 section layout: 3-byte lengths, millidegree
    sign-magnitude grid, IBM hexadecimal-float reference value, simple
    packing), then back in through hypercube ingest
    (decode_auto), which routes the files to the edition-1 stdlib
    codec by the GRIB magic + edition byte — the reference's cfgrib
    edition fallback (weather_mv loader_pipeline/sinks.py:370-389) as
    a real decode path. Cell values are exact multiples of 10^-3 so
    packing at D=3 round-trips exactly and the DuckDB oracle recomputes
    the same aggregates arithmetically — a hash gate over real GRIB1
    bytes, negative values included."""
    import os
    import tempfile

    from weather_tools_spark.sources import grib1 as G1
    from weather_tools_spark.sources import hypercube as H

    out_dir = tempfile.mkdtemp(prefix="wts_grib1_")
    nh, nr, nc = 2, 3, 4
    grid = (
        spark.range(nh * nr * nc)
        .select(
            (F.col("id") / (nr * nc)).cast("int").alias("hi"),
            ((F.col("id") / nc) % nr).cast("int").alias("row_i"),
            (F.col("id") % nc).cast("int").alias("col_i"),
        )
        .select(
            F.to_timestamp(
                F.concat(F.lit("2024-07-04 "), F.lpad((F.col("hi") * 12).cast("string"), 2, "0"),
                         F.lit(":00:00"))
            ).alias("time"),
            (F.lit(47.0) - F.col("row_i") * 0.25).alias("latitude"),
            (F.lit(-4.0) + F.col("col_i") * 0.25).alias("longitude"),
            (F.col("hi") * 1000 + F.col("row_i") * 10 + F.col("col_i") + 0.375).alias("d2m"),
            (F.col("hi") * 2000 - F.col("row_i") * 20 - F.col("col_i") - 0.125).alias("u10"),
        )
    )
    n_files = G1.write_grib1_partitioned(grid, out_dir, ["d2m", "u10"])
    paths = sorted(os.path.join(out_dir, f) for f in os.listdir(out_dir))
    from pyspark.sql.types import _parse_datatype_string

    decoded = H.ingest(
        spark,
        paths,
        schema=_parse_datatype_string(
            "time timestamp, latitude double, longitude double, "
            "d2m double, u10 double, data_uri string, data_first_step timestamp"
        ),
    )
    return decoded.agg(
        F.lit(n_files).cast("bigint").alias("n_files"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("d2m"), 3).alias("sum_d2m"),
        F.round(F.sum("u10"), 3).alias("sum_u10"),
        F.round(F.max("d2m"), 3).alias("max_d2m"),
        F.round(F.min("u10"), 3).alias("min_u10"),
    )


@register(
    "dl_config_grammar_fanout",
    oracle="""
    WITH y AS (SELECT unnest(['2015','2016']) AS year),
         m AS (SELECT lpad(CAST(i AS VARCHAR), 2, '0') AS month
               FROM (SELECT unnest(range(1, 13)) AS i))
    SELECT year, month,
           concat('gs://bucket/era5/', year, '-', month, '.nc') AS target,
           CAST(2 AS BIGINT) AS n_variables,
           CAST(3 AS BIGINT) AS n_levels,
           CAST(4 AS BIGINT) AS n_times
    FROM y, m
    ORDER BY year, month
    """,
)
def dl_config_grammar_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weather-dl CONFIG-FILE grammar end to end: a reference-style
    ``*.cfg`` text (multiline lists, explicit ``500/850/1000`` MARS
    list, ``01/to/12`` and ``00/to/18/by/6`` MARS ranges, API-key
    subsections) parses through pipeline/configfile.process_config
    (parsers.py:157-487 semantics) and drives the Cartesian fan-out;
    the oracle recomputes the partition product and target paths, and
    the selection-list lengths gate the MARS expansions — a hash gate
    over the grammar itself."""
    from weather_tools_spark.pipeline.configfile import process_config
    from weather_tools_spark.pipeline.partition import fanout

    cfg_text = """
[parameters]
client=cds
dataset=reanalysis-era5-pressure-levels
target_path=gs://bucket/era5/{year}-{month}.nc
partition_keys=
    year
    month

[parameters.alice]
api_key=KKKK1
api_url=https://cds.example/v1

[selection]
product_type=reanalysis
variable=
    u_component_of_wind
    v_component_of_wind
pressure_level=500/850/1000
year=
    2015
    2016
month=01/to/12
time=00/to/18/by/6
"""
    config = process_config(cfg_text, "era5.cfg")
    parts = fanout(spark, config)
    return parts.select(
        "year",
        "month",
        "target",
        F.lit(len(config.selection["variable"])).cast("bigint").alias("n_variables"),
        F.lit(len(config.selection["pressure_level"])).cast("bigint").alias("n_levels"),
        F.lit(len(config.selection["time"])).cast("bigint").alias("n_times"),
    ).orderBy("year", "month")


@register(
    "grib_manifest_pruned_scan",
    oracle="""
    WITH cells AS (
      SELECT d.i AS di, s.i AS si, r.i AS row_i, c.i AS col_i
      FROM (SELECT unnest(range(0, 3)) AS i) d,
           (SELECT unnest(range(0, 4)) AS i) s,
           (SELECT unnest(range(0, 2)) AS i) r,
           (SELECT unnest(range(0, 3)) AS i) c
      -- pruned slice: u10 only exists as every message; select days {0,1}, steps ≤ 6h
      WHERE d.i <= 1 AND s.i <= 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           CAST(count(DISTINCT di) AS BIGINT) AS n_days,
           CAST(count(DISTINCT si) AS BIGINT) AS n_steps,
           round(sum(di * 1000 + si * 100 + row_i * 10 + col_i + 0.625), 3) AS sum_value,
           round(max(di * 1000 + si * 100 + row_i * 10 + col_i + 0.625), 3) AS max_value
    FROM cells
    """,
)
def grib_manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kerchunk-style GRIB access path end to end: a 3-day,
    4-step, 2-parameter corpus is written by the DISTRIBUTED sink, a
    message-level manifest is built from SECTION HEADERS ONLY (one
    task per file), and the scan decodes ONLY the byte ranges whose
    manifest rows survive the parameter/time/step predicates — here
    u10 within the first two days at steps ≤ 6 h (4 of 24 messages).
    Values are exact functions of (day, step, grid index), so the
    DuckDB oracle recomputes the pruned slice arithmetically — a hash
    gate over both the pruning logic and the byte-range decode.
    Reference granularity: cfgrib filter-by-key open, weather_mv
    loader_pipeline/sinks.py:437-519."""
    import os
    import tempfile

    from weather_tools_spark.sources import grib2 as G2
    from weather_tools_spark.sources.grib_manifest import (
        build_grib_manifest,
        scan_grib_manifest,
    )

    out_dir = tempfile.mkdtemp(prefix="wts_gman_")
    lats, lons = [49.0, 48.75], [2.0, 2.25, 2.5]

    def write_day(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        (di,) = key
        idx = np.arange(6, dtype="f8")
        grid = (idx // 3 * 10 + idx % 3).reshape(2, 3)
        msgs = []
        for si in range(4):
            for prm, off in (("u10", 0.625), ("v10", 0.375)):
                msgs.append({
                    "param": prm,
                    "ref_time": f"2024-07-{10 + int(di):02d} 00:00:00",
                    "lats": np.array(lats), "lons": np.array(lons),
                    "values": grid + di * 1000 + si * 100 + off,
                    "step_hours": 6 * si,
                })
        path = os.path.join(out_dir, f"fc-{int(di)}.grib2")
        G2.write_grib2(path, msgs)
        return pd.DataFrame({"path": [path]})

    files = (
        spark.range(3).selectExpr("id as di")
        .repartition(3)
        .groupBy("di").applyInPandas(write_day, "path string")
        .collect()
    )
    manifest = build_grib_manifest(spark, sorted(r.path for r in files))
    rows = scan_grib_manifest(
        spark, manifest, params=["u10"],
        time_range=("2024-07-10", "2024-07-12"), max_step_hours=6,
    )
    return rows.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.countDistinct(F.to_date("time")).alias("n_days"),
        F.countDistinct("step").alias("n_steps"),
        F.round(F.sum("value"), 3).alias("sum_value"),
        F.round(F.max("value"), 3).alias("max_value"),
    )


def _reduced_gauss_expectations() -> dict:
    """Deterministic facts about the reduced-Gaussian test grid,
    computed once at import from the exact Gauss-Legendre nodes and
    embedded as literals in the oracle SQL (DuckDB has no Legendre
    roots; the nodes are pure deterministic math, same pattern as the
    Lambert cone constants)."""
    import numpy as np

    from weather_tools_spark.sources.grib2 import gaussian_latitudes

    counts = [18, 24, 30, 24, 18]
    sub = gaussian_latitudes(16)[6:11]
    lat_pts = np.repeat(sub, counts)
    return {
        "counts": counts,
        "lat1": float(sub[0]),
        "lat2": float(sub[-1]),
        "npts": int(sum(counts)),
        "sum_lat": round(float(lat_pts.sum()), 6),
        "min_lat": round(float(lat_pts.min()), 6),
        "max_lat": round(float(lat_pts.max()), 6),
    }


_RG = _reduced_gauss_expectations()

@register(
    "grib_reduced_gaussian_agg",
    oracle=f"""
    WITH pts AS (
      SELECT unnest(range(0, {_RG['npts']})) AS i
    )
    SELECT CAST({_RG['npts']} AS BIGINT) AS n_points,
           round(sum(i * 0.125 - 40.0), 3) AS sum_d2m,
           round(min(i * 0.125 - 40.0), 3) AS min_d2m,
           round(max(i * 0.125 - 40.0), 3) AS max_d2m,
           {_RG['sum_lat']!r} AS sum_lat,
           {_RG['min_lat']!r} AS min_lat,
           {_RG['max_lat']!r} AS max_lat
    FROM pts
    """,
)
def grib_reduced_gaussian_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduced-Gaussian GRIB2 end-to-end (grid template 3.40 with the
    points-per-row list — ERA5's native ragged layout): a
    deterministic point sequence is serialized by an EXECUTOR task
    into genuine reduced-grid GRIB2 bytes, read back through the
    distributed ingest (per-point lat/lon from exact Gauss-Legendre
    nodes), and aggregated over BOTH the decoded values and the
    reconstructed latitudes. The oracle recomputes the value
    aggregates arithmetically and pins the latitude aggregates against
    import-time Legendre literals — a hash gate over the ragged-grid
    decode path. Reference: ECMWF native grids via cfgrib/xarray,
    weather_mv loader_pipeline/sinks.py:437-519."""
    import os
    import tempfile

    import pandas as pd

    from weather_tools_spark.sources import grib2 as G2

    out_dir = tempfile.mkdtemp(prefix="wts_rg_")
    path = os.path.join(out_dir, "native.grib2")
    rg = _RG

    def write_one(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        vals = pdf["i"].to_numpy(dtype="f8") * 0.125 - 40.0
        grid = {"type": "gaussian_reduced", "n": 16, "lat1": rg["lat1"],
                "lat2": rg["lat2"], "counts": rg["counts"]}
        G2.write_grib2(path, [{"param": "d2m", "ref_time": "2024-04-04",
                               "values": vals, "grid": grid}])
        return pd.DataFrame({"path": [path]})

    (
        spark.range(rg["npts"]).selectExpr("id as i", "1 as g").coalesce(1)
        .groupBy("g").applyInPandas(lambda k, pdf: write_one(pdf.sort_values("i")),
                                    "path string")
        .count()
    )

    files = spark.createDataFrame([(path,)], "path string")

    def decode(batches):
        for pdf in batches:
            for p in pdf["path"]:
                yield G2.grib2_decode(p, None)

    rows = files.mapInPandas(decode, "time timestamp, latitude double, longitude double, d2m double")
    return rows.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("d2m"), 3).alias("sum_d2m"),
        F.round(F.min("d2m"), 3).alias("min_d2m"),
        F.round(F.max("d2m"), 3).alias("max_d2m"),
        F.round(F.sum("latitude"), 6).alias("sum_lat"),
        F.round(F.min("latitude"), 6).alias("min_lat"),
        F.round(F.max("latitude"), 6).alias("max_lat"),
    )


@register(
    "regrid_conservative_agg",
    oracle="""
    WITH src AS (
      SELECT la.i AS lai, lo.i AS loi,
             50.125 + la.i * 0.25 AS lat,
             0.125 + lo.i * 0.25 AS lon,
             la.i * 10 + lo.i + 0.5 AS v
      FROM (SELECT unnest(range(0, 16)) AS i) la,
           (SELECT unnest(range(0, 16)) AS i) lo
    ), wcell AS (
      SELECT lai // 4 AS ti, loi // 4 AS tj, v,
             (sin(radians(lat + 0.125)) - sin(radians(lat - 0.125))) * 0.25 AS w
      FROM src
    )
    SELECT round(50.0 + ti * 1.0 + 0.5, 2) AS latitude,
           round(0.0 + tj * 1.0 + 0.5, 2) AS longitude,
           round(sum(v * w) / sum(w), 6) AS v
    FROM wcell GROUP BY ti, tj ORDER BY latitude, longitude
    """,
)
def regrid_conservative_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order conservative regrid (MetView/ESMF semantics,
    reference weather_mv loader_pipeline/regrid.py) 0.25° → 1.0° over
    a deterministic grid: each source cell explodes onto the target
    cells it overlaps with true spherical-area weights
    (sin φ_hi − sin φ_lo)·Δλ, one map-combinable shuffle aggregates
    Σw·v/Σw. Values are exact functions of grid indices, so the DuckDB
    oracle recomputes the identical weighted means with its own trig —
    hash-gating both the overlap geometry and the weight arithmetic."""
    from weather_tools_spark.operators.regrid import regrid_conservative

    n = 16
    src = (
        spark.range(n * n)
        .select(
            (F.col("id") / n).cast("long").alias("lai"),
            (F.col("id") % n).alias("loi"),
        )
        .select(
            F.lit("2024-01-01").cast("timestamp").alias("time"),
            (F.lit(50.125) + F.col("lai") * 0.25).alias("latitude"),
            (F.lit(0.125) + F.col("loi") * 0.25).alias("longitude"),
            (F.col("lai") * 10 + F.col("loi") + 0.5).alias("v"),
        )
    )
    out = regrid_conservative(src, 0.25, 0.25, 1.0, 1.0, ["v"])
    return out.select(
        F.round("latitude", 2).alias("latitude"),
        F.round("longitude", 2).alias("longitude"),
        F.round("v", 6).alias("v"),
    ).orderBy("latitude", "longitude")


@register(
    "xql_zarr_daily_avg",
    oracle="""
    WITH cells AS (
      SELECT t.i AS ti, la.i AS lai, lo.i AS loi,
             ti // 8 AS day_i,
             ti * 100 + lai * 10 + loi + 0.5 AS v
      FROM (SELECT unnest(range(0, 16)) AS i) t,
           (SELECT unnest(range(0, 4)) AS i) la,
           (SELECT unnest(range(0, 3)) AS i) lo
      WHERE la.i IN (1, 2)  -- the bbox keeps lats 49.75, 49.5
    )
    SELECT strftime(DATE '2024-07-01' + INTERVAL (day_i) DAY, '%Y-%m-%d') AS time_date,
           round(avg(v), 6) AS avg_d2m
    FROM cells GROUP BY day_i ORDER BY time_date
    """,
)
def xql_zarr_daily_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FLAGSHIP flow end-to-end: xql's anecdotal
    headline query (daily AVG of a variable over a lat/lon box on an
    ERA5-style Zarr store — xql README, 1 m 55 s on Dask) executed
    against a REAL self-written Zarr v2 store through the URI opener
    and the xql SQL surface:

      write_zarr_v2 (distributed chunk sink) → open_dataset(uri,
      lat_range=bbox, view=...) — chunk-range PRUNING + stdlib zlib
      decode — → xql.run_query("SELECT time_date, AVG('d2m') ...")
      with the quoted-agg and time-bucket rewrites.

    Values are an exact float64 function of grid indices, so the
    DuckDB oracle recomputes the per-day averages arithmetically —
    hash-gating the store bytes, the pruned scan, AND the xql rewrite
    chain at once. Reference: xql/src/xql/open.py:68-98 (open),
    apply.py:56-60,132-156 (time buckets / agg naming)."""
    import tempfile

    from weather_tools_spark.plans import xql as XQL
    from weather_tools_spark.sources import opener as OP
    from weather_tools_spark.sources import zarr_scan as ZS
    from weather_tools_spark.sources import zarr_v2 as Z2

    store = tempfile.mkdtemp(prefix="wts_xqlzarr_") + "/era5.zarr"
    # 2 days x 8 three-hourly steps, 4 lats x 3 lons
    times = [
        f"2024-07-0{d} {h:02d}:00:00" for d in (1, 2) for h in range(0, 24, 3)
    ]
    lats = [50.0, 49.75, 49.5, 49.25]
    lons = [8.0, 8.25, 8.5]
    meta = ZS.ChunkedDatasetMeta(
        uri=store, times=times, lats=lats, lons=lons,
        chunk_time=8, chunk_lat=2, chunk_lon=2, variables=("d2m",),
    )
    nt, nla, nlo = len(times), len(lats), len(lons)
    t_strs = [(i, s) for i, s in enumerate(times)]
    t_map = F.create_map(*[x for i, s in t_strs for x in (F.lit(i), F.lit(s))])
    grid = (
        spark.range(nt * nla * nlo)
        .select(
            (F.col("id") / (nla * nlo)).cast("int").alias("ti"),
            ((F.col("id") / nlo) % nla).cast("int").alias("lai"),
            (F.col("id") % nlo).cast("int").alias("loi"),
        )
        .select(
            F.to_timestamp(t_map[F.col("ti")]).alias("time"),
            (F.lit(50.0) - F.col("lai") * 0.25).alias("latitude"),
            (F.lit(8.0) + F.col("loi") * 0.25).alias("longitude"),
            (F.col("ti") * 100 + F.col("lai") * 10 + F.col("loi") + 0.5).alias("d2m"),
        )
    )
    Z2.write_zarr_v2(grid, store, meta)
    OP.open_dataset(spark, store, lat_range=(49.4, 49.9), view="era5_zarr")
    out = XQL.run_query(
        spark,
        "SELECT time_date, AVG('d2m') FROM era5_zarr GROUP BY time_date ORDER BY time_date",
    )
    return out.select("time_date", F.round("avg_d2m", 6).alias("avg_d2m"))


# ---------------------------------------------------------------------------
# Training-mix token allocation
# ---------------------------------------------------------------------------

_MIX_BUDGET_FRAC = 0.5  # token budget = 50% of corpus tokens


@register(
    "corpus_mixture_plan",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             CAST((CAST(substr(source, 4) AS INT) % 4) + 1 AS DOUBLE) AS wf,
             sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT sum(wf) AS wsum, sum(tokens) AS tsum FROM tok
    )
    SELECT source,
           CAST(tokens AS BIGINT) AS tokens,
           round(wf / tot.wsum, 6) AS target_weight,
           round(least(1.0, (wf / tot.wsum) * ({_MIX_BUDGET_FRAC!r} * tot.tsum) / tokens), 6)
             AS sample_rate,
           round((wf / tot.wsum) * ({_MIX_BUDGET_FRAC!r} * tot.tsum) / tokens, 6) AS epochs,
           CAST(round((wf / tot.wsum) * ({_MIX_BUDGET_FRAC!r} * tot.tsum), 0) AS BIGINT)
             AS planned_tokens
    FROM tok CROSS JOIN tot
    ORDER BY source
    """,
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix planning (the DoReMi/Pile-style domain-weighting
    stage): given per-source token counts and target mixture weights
    (deterministic per-source factors standing in for a tuned weight
    table), compute each source's sampling rate (≤1 → subsample),
    epoch multiplier (>1 → repeat upweighted domains), and planned
    token count against a 50%-of-corpus budget. One map-combinable
    token count + a broadcast scalar; everything downstream is
    arithmetic on the |sources| summary frame."""
    docs = load_table(spark, "documents", sf_dir)
    tok = (
        docs.select(
            "source",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
            ((F.substring("source", 4, 10).cast("int") % 4) + 1).cast("double").alias("wf"),
        )
        .groupBy("source")
        .agg(F.first("wf").alias("wf"), F.sum("n_tok").alias("tokens"))
    )
    tot = tok.agg(F.sum("wf").alias("wsum"), F.sum("tokens").alias("tsum"))
    j = tok.crossJoin(F.broadcast(tot))
    budget = _MIX_BUDGET_FRAC * F.col("tsum")
    weight = F.col("wf") / F.col("wsum")
    return (
        j.select(
            "source",
            F.col("tokens").cast("long").alias("tokens"),
            F.round(weight, 6).alias("target_weight"),
            F.round(F.least(F.lit(1.0), weight * budget / F.col("tokens")), 6).alias("sample_rate"),
            F.round(weight * budget / F.col("tokens"), 6).alias("epochs"),
            F.round(weight * budget, 0).cast("long").alias("planned_tokens"),
        )
        .orderBy("source")
    )


@register(
    "weather_format_scan_agg",
    oracle="""
    WITH cells AS (
      SELECT h.i AS hi, r.i AS row_i, c.i AS col_i,
             49.0 - r.i * 0.25 AS latitude,
             2.0 + c.i * 0.25 AS longitude,
             h.i * 1000 + r.i * 10 + c.i + 0.125 AS d2m,
             h.i * 2000 - r.i * 20 - c.i - 0.25 AS u10
      FROM (SELECT unnest(range(0, 2)) AS i) h,
           (SELECT unnest(range(0, 3)) AS i) r,
           (SELECT unnest(range(0, 4)) AS i) c
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           round(sum(d2m), 3) AS sum_d2m,
           round(sum(u10), 3) AS sum_u10,
           round(min(latitude), 2) AS min_lat
    FROM cells
    WHERE latitude >= 48.75 AND longitude < 2.75
    """,
)
def weather_format_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PySpark-4 Python DataSource path end-to-end: the same
    deterministic grid as grib_roundtrip_agg flows through the
    distributed GRIB2 sink, then back in via
    ``spark.read.format("weather")`` (sources/datasource.py) with
    latitude/longitude predicates that the source ABSORBS through
    ``pushFilters`` — rows are dropped inside the decode task, before
    Spark sees them — and one partition per file. The oracle recomputes
    the filtered aggregate arithmetically, so the hash gate covers the
    DataSource read, the pushdown semantics, and the Arrow hand-off."""
    import os
    import tempfile

    from weather_tools_spark.sources import grib2 as G2
    from weather_tools_spark.sources.datasource import register as register_fmt

    out_dir = tempfile.mkdtemp(prefix="wts_fmt_")
    nh, nr, nc = 2, 3, 4
    grid = (
        spark.range(nh * nr * nc)
        .select(
            (F.col("id") / (nr * nc)).cast("int").alias("hi"),
            ((F.col("id") / nc) % nr).cast("int").alias("row_i"),
            (F.col("id") % nc).cast("int").alias("col_i"),
        )
        .select(
            F.to_timestamp(
                F.concat(F.lit("2024-06-03 "), F.lpad((F.col("hi") * 12).cast("string"), 2, "0"),
                         F.lit(":00:00"))
            ).alias("time"),
            (F.lit(49.0) - F.col("row_i") * 0.25).alias("latitude"),
            (F.lit(2.0) + F.col("col_i") * 0.25).alias("longitude"),
            (F.col("hi") * 1000 + F.col("row_i") * 10 + F.col("col_i") + 0.125).alias("d2m"),
            (F.col("hi") * 2000 - F.col("row_i") * 20 - F.col("col_i") - 0.25).alias("u10"),
        )
    )
    G2.write_grib2_partitioned(grid, out_dir, ["d2m", "u10"])
    register_fmt(spark)
    df = (
        spark.read.format("weather")
        .load(os.path.join(out_dir, "*"))
        .filter((F.col("latitude") >= 48.75) & (F.col("longitude") < 2.75))
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("d2m"), 3).alias("sum_d2m"),
        F.round(F.sum("u10"), 3).alias("sum_u10"),
        F.round(F.min("latitude"), 2).alias("min_lat"),
    )


@register(
    "weather_format_projected_scan",
    oracle="""
    WITH cells AS (
      SELECT 49.0 - r.i * 0.25 AS latitude,
             2.0 + c.i * 0.25 AS longitude,
             h.i * 1000 + r.i * 10 + c.i + 0.125 AS d2m
      FROM (SELECT unnest(range(0, 2)) AS i) h,
           (SELECT unnest(range(0, 3)) AS i) r,
           (SELECT unnest(range(0, 4)) AS i) c
    )
    SELECT 4 AS n_cols,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(sum(d2m), 3) AS sum_d2m,
           round(min(latitude), 2) AS min_lat
    FROM cells
    WHERE latitude >= 48.75
    """,
)
def weather_format_projected_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column PRUNING through the Python DataSource: the same
    two-variable grid as weather_format_scan_agg goes out through the
    GRIB2 sink, but the read projects a single variable via
    ``.option("columns", "d2m")`` — the u10 GRIB messages are skipped
    at the section-1 header inside the decode task (read_grib2's
    ``want`` filter, sources/datasource.py + grib2.py), never unpacked,
    never shipped through Arrow. Spark 4.1's Python DataSource has no
    ``pruneColumns`` hook (the reader receives the full schema under a
    narrow select), so the option IS the projection pushdown — the
    reference's ``_only_target_vars``
    (weather_mv/loader_pipeline/util.py:159-191). The n_cols literal
    pins the narrowed scan schema (time, latitude, longitude, d2m) in
    the hash-gated result; lat pushdown composes with the projection."""
    import os
    import tempfile

    from weather_tools_spark.sources import grib2 as G2
    from weather_tools_spark.sources.datasource import register as register_fmt

    out_dir = tempfile.mkdtemp(prefix="wts_prj_")
    nh, nr, nc = 2, 3, 4
    grid = (
        spark.range(nh * nr * nc)
        .select(
            (F.col("id") / (nr * nc)).cast("int").alias("hi"),
            ((F.col("id") / nc) % nr).cast("int").alias("row_i"),
            (F.col("id") % nc).cast("int").alias("col_i"),
        )
        .select(
            F.to_timestamp(
                F.concat(F.lit("2024-06-03 "), F.lpad((F.col("hi") * 12).cast("string"), 2, "0"),
                         F.lit(":00:00"))
            ).alias("time"),
            (F.lit(49.0) - F.col("row_i") * 0.25).alias("latitude"),
            (F.lit(2.0) + F.col("col_i") * 0.25).alias("longitude"),
            (F.col("hi") * 1000 + F.col("row_i") * 10 + F.col("col_i") + 0.125).alias("d2m"),
            (F.col("hi") * 2000 - F.col("row_i") * 20 - F.col("col_i") - 0.25).alias("u10"),
        )
    )
    G2.write_grib2_partitioned(grid, out_dir, ["d2m", "u10"])
    register_fmt(spark)
    df = (
        spark.read.format("weather")
        .option("columns", "d2m")
        .load(os.path.join(out_dir, "*"))
        .filter(F.col("latitude") >= 48.75)
    )
    return df.agg(
        F.lit(len(df.columns)).cast("int").alias("n_cols"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("d2m"), 3).alias("sum_d2m"),
        F.round(F.min("latitude"), 2).alias("min_lat"),
    )


@register(
    "dq_expectation_suite",
    oracle="""
    WITH checks AS (
      SELECT 'orders_totalprice_positive' AS check_name,
             CAST(count(*) AS BIGINT) AS n_checked,
             CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_violations
      FROM orders
      UNION ALL
      SELECT 'orders_date_in_range',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01'
                            AND o_orderdate < TIMESTAMP '1999-01-01'
                           THEN 0 ELSE 1 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders_custkey_fk_resolves',
             CAST((SELECT count(*) FROM orders) AS BIGINT),
             CAST((SELECT count(*) FROM orders o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
      UNION ALL
      SELECT 'customer_custkey_unique',
             CAST((SELECT count(*) FROM customer) AS BIGINT),
             CAST((SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
               AS BIGINT)
      UNION ALL
      SELECT 'lineitem_quantity_in_domain',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
                           THEN 0 ELSE 1 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem_orderkey_fk_resolves',
             CAST((SELECT count(*) FROM lineitem) AS BIGINT),
             CAST((SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    )
    SELECT check_name, n_checked, n_violations,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
    FROM checks ORDER BY check_name
    """,
)
def dq_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (Great-Expectations /
    dbt-test shape): domain checks (positive amounts, date ranges, value
    domains), uniqueness, and referential integrity (FK orphans via
    LEFT ANTI joins) — each check one map-combinable aggregate or one
    anti-join, unioned into a single pass/fail report that gates a
    pipeline promotion step. At 100 TB the FK checks are the only
    shuffles (anti-join on the key); everything else is map-side."""
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)

    def agg_check(name: str, df: DataFrame, ok) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("long").alias("n_checked"),
            F.sum(F.when(ok, 0).otherwise(1)).cast("long").alias("n_violations"),
        )

    c1 = agg_check("orders_totalprice_positive", orders, F.col("o_totalprice") > 0)
    c2 = agg_check(
        "orders_date_in_range",
        orders,
        (F.col("o_orderdate") >= F.lit("1992-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")),
    )
    orphans_o = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_anti"
    ).count()
    n_orders = orders.count()
    c3 = spark.createDataFrame(
        [("orders_custkey_fk_resolves", n_orders, orphans_o)],
        "check_name string, n_checked long, n_violations long",
    )
    n_cust = cust.count()
    n_cust_distinct = cust.select("c_custkey").distinct().count()
    c4 = spark.createDataFrame(
        [("customer_custkey_unique", n_cust, n_cust - n_cust_distinct)],
        "check_name string, n_checked long, n_violations long",
    )
    c5 = agg_check(
        "lineitem_quantity_in_domain",
        li,
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50),
    )
    orphans_l = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "left_anti"
    ).count()
    n_li = li.count()
    c6 = spark.createDataFrame(
        [("lineitem_orderkey_fk_resolves", n_li, orphans_l)],
        "check_name string, n_checked long, n_violations long",
    )
    report = c1.unionByName(c2).unionByName(c3).unionByName(c4).unionByName(c5).unionByName(c6)
    return report.select(
        "check_name",
        "n_checked",
        "n_violations",
        F.when(F.col("n_violations") == 0, 1).otherwise(0).cast("long").alias("passed"),
    ).orderBy("check_name")


# ---------------------------------------------------------------------------
# Z-order clustering quality census
# ---------------------------------------------------------------------------

_ZO_BITS = 8          # 8 bits per dimension -> 16-bit Morton key
_ZO_BUCKETS = 16      # files the clustered write would produce


def _zo_spread_sql(expr: str) -> str:
    """Bit-dilate the low 8 bits of `expr` (bit i -> position 2i) in
    pure integer //, %, * arithmetic — same in both engines."""
    terms = [
        f"((CAST(floor(({expr}) / {1 << i}) AS BIGINT) % 2) * {1 << (2 * i)})"
        for i in range(_ZO_BITS)
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "storage_zorder_clustering",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey,
             ('0x' || substr(md5('zx:' || CAST(c_custkey AS VARCHAR)), 1, 4))::BIGINT
               % 256 AS xi,
             ('0x' || substr(md5('zy:' || CAST(c_custkey AS VARCHAR)), 1, 4))::BIGINT
               % 256 AS yi
      FROM customer
    ),
    keyed AS (
      SELECT c_custkey, xi, yi,
             {_zo_spread_sql("xi")} + 2 * {_zo_spread_sql("yi")} AS z
      FROM pts
    ),
    bucketed AS (
      SELECT CAST(floor(z / {(1 << (2 * _ZO_BITS)) // _ZO_BUCKETS}) AS BIGINT)
               AS bucket, c_custkey, xi, yi
      FROM keyed
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(xi) AS BIGINT) AS min_x, CAST(max(xi) AS BIGINT) AS max_x,
           CAST(min(yi) AS BIGINT) AS min_y, CAST(max(yi) AS BIGINT) AS max_y,
           CAST((max(xi) - min(xi) + 1) * (max(yi) - min(yi) + 1) AS BIGINT)
             AS bbox_area
    FROM bucketed
    GROUP BY bucket ORDER BY bucket
    """,
)
def storage_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering census — the data-skipping layout
    Delta/Iceberg ZORDER BY produces: interleave the bits of two
    8-bit grid indices (pure integer bit dilation, replayed by the
    oracle with // and % arithmetic) and range-bucket rows by the
    Morton key into the files a clustered write would emit. Each
    bucket's per-dimension min/max footprint IS the parquet min/max
    statistic a scan would prune on, and the reported bbox_area per
    bucket is the clustering-quality figure: a Morton bucket covers
    ~1/16 of the 2-D square in BOTH dimensions (area ~ 2^16/16),
    where a single-column sort leaves every file spanning the full
    range of the other dimension (area ~ 256 * 16). The real sorted
    write + row-group pruning proof lives in operators/zorder.py and
    test_scale_helpers; this query hash-gates the key arithmetic that
    write relies on."""
    cust = load_table(spark, "customer", sf_dir)

    def frac16(tag: str) -> str:
        return (
            f"cast(conv(substr(md5(concat('{tag}:', cast(c_custkey as string))),"
            f" 1, 4), 16, 10) as bigint) % 256"
        )

    pts = cust.select(
        "c_custkey",
        F.expr(frac16("zx")).alias("xi"),
        F.expr(frac16("zy")).alias("yi"),
    )
    z = F.expr(_zo_spread_sql("xi")) + 2 * F.expr(_zo_spread_sql("yi"))
    bucket_div = (1 << (2 * _ZO_BITS)) // _ZO_BUCKETS
    return (
        pts.withColumn("z", z)
        .withColumn("bucket", F.floor(F.col("z") / bucket_div).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("xi").alias("min_x"),
            F.max("xi").alias("max_x"),
            F.min("yi").alias("min_y"),
            F.max("yi").alias("max_y"),
            ((F.max("xi") - F.min("xi") + 1) * (F.max("yi") - F.min("yi") + 1)).alias(
                "bbox_area"
            ),
        )
        .orderBy("bucket")
    )


@register(
    "format_transcode_chain",
    oracle="""
    WITH cells AS (
      SELECT t.i AS ti, la.i AS lai, lo.i AS loi,
             ti * 100 + lai * 10 + loi + 0.5 AS v
      FROM (SELECT unnest(range(0, 2)) AS i) t,
           (SELECT unnest(range(0, 4)) AS i) la,
           (SELECT unnest(range(0, 3)) AS i) lo
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells_full,
           round(sum(v), 3) AS sum_full,
           CAST(count(*) FILTER (WHERE lai IN (1, 2)) AS BIGINT) AS n_cells_bbox,
           round(sum(v) FILTER (WHERE lai IN (1, 2)), 3) AS sum_bbox,
           round(avg(v) FILTER (WHERE lai IN (1, 2)), 6) AS avg_bbox
    FROM cells
    """,
)
def format_transcode_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format TRANSCODING proof — the interop a format library
    must actually deliver: a deterministic hypercube is written as REAL
    GRIB2 (distributed multi-message sink, simple packing), decoded
    back through magic-byte ingest, re-written as a REAL Zarr v2 store
    (distributed chunk sink, zlib), and finally read through the
    chunk-PRUNED Zarr scan with a latitude bbox — four codec legs
    chained through the public surfaces, with the full-domain and
    pruned-bbox aggregates both gated against the generating formula.
    A bit error in any leg (packing, section lengths, chunk layout,
    pruning arithmetic) flips the hash. Values are exact multiples of
    10^-3 so GRIB D=3 packing is lossless."""
    import os
    import tempfile

    from pyspark.sql.types import _parse_datatype_string

    from weather_tools_spark.sources import grib2 as G2
    from weather_tools_spark.sources import hypercube as H
    from weather_tools_spark.sources import opener as OP
    from weather_tools_spark.sources import zarr_scan as ZS
    from weather_tools_spark.sources import zarr_v2 as Z2

    tmp = tempfile.mkdtemp(prefix="wts_transcode_")
    grib_dir = os.path.join(tmp, "grib")
    os.makedirs(grib_dir)
    store = os.path.join(tmp, "transcoded.zarr")

    times = ["2024-06-03 00:00:00", "2024-06-03 12:00:00"]
    lats = [49.0, 48.75, 48.5, 48.25]
    lons = [2.0, 2.25, 2.5]
    nt, nla, nlo = len(times), len(lats), len(lons)
    t_map = F.create_map(
        *[x for i, s in enumerate(times) for x in (F.lit(i), F.lit(s))]
    )
    grid = (
        spark.range(nt * nla * nlo)
        .select(
            (F.col("id") / (nla * nlo)).cast("int").alias("ti"),
            ((F.col("id") / nlo) % nla).cast("int").alias("lai"),
            (F.col("id") % nlo).cast("int").alias("loi"),
        )
        .select(
            F.to_timestamp(t_map[F.col("ti")]).alias("time"),
            (F.lit(49.0) - F.col("lai") * 0.25).alias("latitude"),
            (F.lit(2.0) + F.col("loi") * 0.25).alias("longitude"),
            (F.col("ti") * 100 + F.col("lai") * 10 + F.col("loi") + 0.5).alias("d2m"),
        )
    )
    G2.write_grib2_partitioned(grid, grib_dir, ["d2m"])
    paths = sorted(os.path.join(grib_dir, f) for f in os.listdir(grib_dir))
    decoded = H.ingest(
        spark,
        paths,
        schema=_parse_datatype_string(
            "time timestamp, latitude double, longitude double, "
            "d2m double, data_uri string, data_first_step timestamp"
        ),
    ).select("time", "latitude", "longitude", "d2m")

    meta = ZS.ChunkedDatasetMeta(
        uri=store, times=times, lats=lats, lons=lons,
        chunk_time=2, chunk_lat=2, chunk_lon=2, variables=("d2m",),
    )
    Z2.write_zarr_v2(decoded, store, meta)

    OP.open_dataset(spark, store, view="transcoded_full")
    OP.open_dataset(
        spark, store, lat_range=(48.4, 48.9), view="transcoded_bbox"
    )
    full = spark.sql(
        "SELECT CAST(count(*) AS BIGINT) AS n_cells_full,"
        " round(sum(d2m), 3) AS sum_full FROM transcoded_full"
    )
    bbox = spark.sql(
        "SELECT CAST(count(*) AS BIGINT) AS n_cells_bbox,"
        " round(sum(d2m), 3) AS sum_bbox,"
        " round(avg(d2m), 6) AS avg_bbox FROM transcoded_bbox"
    )
    return full.crossJoin(bbox)
