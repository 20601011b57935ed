"""Coverage for the remaining small helpers: pacing generator, stage
timer, longitude wrap, xql full-rewrite composition, catalog defaults."""

from __future__ import annotations

from pyspark.sql import functions as F

from weather_tools_spark.functions.geo import wrap_longitude_0_360
from weather_tools_spark.operators.metrics import stage_timer
from weather_tools_spark.pipeline.ratelimit import TokenBucket, paced
from weather_tools_spark.plans import xql


def test_paced_generator_yields_all_items():
    # pace at a high rate so the test doesn't sleep measurably
    assert list(paced(range(5), rate=10_000)) == [0, 1, 2, 3, 4]


def test_token_bucket_burst_allows_first_token():
    clock = {"t": 100.0}
    slept = []
    b = TokenBucket(rate=1.0, burst=2.0)
    now = lambda: clock["t"]  # noqa: E731

    def sleep(s):
        slept.append(s)
        clock["t"] += s

    b.acquire(now=now, sleep=sleep)
    b.acquire(now=now, sleep=sleep)  # burst covers two immediate tokens
    assert slept == []
    b.acquire(now=now, sleep=sleep)
    assert len(slept) == 1  # third token waits


def test_stage_timer_accumulates():
    timings: dict[str, float] = {}
    with stage_timer(timings, "a"):
        pass
    with stage_timer(timings, "a"):
        pass
    assert timings["a"] >= 0.0
    assert set(timings) == {"a"}


def test_wrap_longitude_0_360(spark):
    df = spark.createDataFrame([(-180.0,), (-0.5,), (0.0,), (359.5,), (720.5,)], "lon double")
    out = [r[0] for r in df.select(wrap_longitude_0_360(F.col("lon"))).collect()]
    assert out == [180.0, 359.5, 0.0, 359.5, 0.5]


def test_xql_full_rewrite_composes():
    sql = (
        "SELECT time_month, AVG('d2m') FROM t "
        "WHERE country = 'india' AND time_month >= '2024' GROUP BY time_month"
    )
    out = xql.rewrite(sql, time_col="time")
    assert "latitude >= 6.55" in out  # country rewrite
    assert "AVG(d2m) AS avg_d2m" in out  # quoted agg naming
    # bucket alias over the typed month key
    assert "date_format(trunc(CAST(CAST(time AS TIMESTAMP) AS DATE), 'MM'), 'yyyy-MM') AS time_month" in out
    assert "country" not in out


def test_sketch_aggregates_within_bounds(spark, sf_dir):
    """Approximate aggregates stay near exact values: HLL distinct
    within 5%, percentile_approx(1000) within 1% of the exact median."""
    from weather_tools_spark.catalog import load_table

    li = load_table(spark, "lineitem", sf_dir)
    row = li.agg(
        F.approx_count_distinct("l_partkey").alias("apx"),
        F.countDistinct("l_partkey").alias("exact"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias("p50_apx"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50_exact"),
    ).first()
    assert abs(row.apx - row.exact) / row.exact < 0.05
    assert abs(row.p50_apx - row.p50_exact) / row.p50_exact < 0.01


def test_check_expectations(spark, sf_dir):
    from weather_tools_spark.catalog import load_table
    from weather_tools_spark.operators.quality import check_expectations, fk_violations

    orders = load_table(spark, "orders", sf_dir)
    report = check_expectations(
        orders,
        {
            "positive_price": F.col("o_totalprice") > 0,
            "key_not_null": F.col("o_orderkey").isNotNull(),
            "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
            "impossible_rule": F.col("o_totalprice") > 1e12,  # must fail on every row
        },
    )
    assert report.n_rows == orders.count()
    assert report.failures["positive_price"] == 0
    assert report.failures["key_not_null"] == 0
    assert report.failures["status_known"] == 0
    assert report.failures["impossible_rule"] == report.n_rows
    assert not report.ok

    cust = load_table(spark, "customer", sf_dir)
    assert fk_violations(orders, "o_custkey", cust.selectExpr("c_custkey AS o_custkey"), "o_custkey") == 0


def test_catalog_default_sf_dir_env(monkeypatch):
    import importlib

    import weather_tools_spark.catalog as C

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    importlib.reload(C)
    assert C.DEFAULT_SF_DIR == "/root/testdata/sf0.001"
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR")
    importlib.reload(C)


def test_query_cli_list_and_oracle(capsys):
    """tools/query_cli.py: list filters the registry, oracle prints the
    DuckDB twin, unknown names error with exit 2 — all without a Spark
    session."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "query_cli", os.path.join(os.path.dirname(__file__), "..", "tools", "query_cli.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    import sys

    old = sys.argv
    try:
        sys.argv = ["query_cli.py", "list", "kmeans"]
        assert mod.main() == 0
        out = capsys.readouterr().out
        assert "ml_kmeans_cluster_summary  [oracle]" in out
        sys.argv = ["query_cli.py", "oracle", "q6_forecast_revenue"]
        assert mod.main() == 0
        assert "FROM lineitem" in capsys.readouterr().out
        sys.argv = ["query_cli.py", "run", "no_such_query"]
        assert mod.main() == 2
    finally:
        sys.argv = old


def test_kcore_rounds_reach_fixpoint(spark):
    """_KC_ROUNDS must be past the peeling fixpoint at every SF: one
    extra round leaves the node set unchanged (otherwise the fixed
    round count in the oracle would under-peel)."""
    from weather_tools_spark.queries.analytics import _KC_K, _KC_ROUNDS, _sp_edges_df

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        edge_rows = _sp_edges_df(spark, sf).collect()
        und = set()
        for r in edge_rows:
            s, d = int(r.src), int(r.dst)
            if s != d:
                und.add((s, d)); und.add((d, s))
        nodes = {u for u, _ in und}
        history = []
        for _ in range(_KC_ROUNDS + 1):
            deg = {}
            for u, v in und:
                if u in nodes and v in nodes:
                    deg[u] = deg.get(u, 0) + 1
            nodes = {u for u, d in deg.items() if d >= _KC_K}
            history.append(frozenset(nodes))
        assert history[_KC_ROUNDS] == history[_KC_ROUNDS - 1], sf


def test_bounded_rows_enforces_bound(spark):
    """operators/bounded.py: the bounded-collect contract is enforced at
    runtime — within-bound frames collect normally (through limit(n+1),
    so the driver never holds more), over-bound frames raise
    BoundExceeded naming the documented reason instead of silently
    ballooning the driver heap."""
    import pytest as _pytest

    from weather_tools_spark.operators.bounded import (
        BoundExceeded,
        bounded_pandas,
        bounded_rows,
    )

    five = spark.range(5)
    assert sorted(r.id for r in bounded_rows(five, 5, "five-row literal")) == [0, 1, 2, 3, 4]
    assert len(bounded_pandas(five, 10, "five-row literal")) == 5
    with _pytest.raises(BoundExceeded, match="stale-bound demo"):
        bounded_rows(spark.range(100), 5, "stale-bound demo")
    with _pytest.raises(BoundExceeded, match="stale-bound demo"):
        bounded_pandas(spark.range(100), 5, "stale-bound demo")
    # the probe is limit-pushed: an over-bound frame still only ships
    # n+1 rows to the driver (observable via the plan's GlobalLimit)
    plan = spark.range(10_000).limit(6)._jdf.queryExecution().executedPlan().toString()
    assert "Limit" in plan
