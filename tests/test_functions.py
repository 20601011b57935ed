"""Scalar function library: geo goldens, xql SQL-surface rewrites,
as-of join operator, multimodal plumbing."""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from weather_tools_spark.functions import geo as G
from weather_tools_spark.operators.asof import asof_join_left
from weather_tools_spark.plans import xql
from weather_tools_spark.sources import multimodal as MM


# ---------------------------------------------------------------- geo


def test_sanitize_longitude(spark):
    df = spark.createDataFrame([(0.0,), (180.0,), (-180.0,), (359.5,), (540.0,), (-190.0,)], "lon double")
    out = [r[0] for r in df.select(G.sanitize_longitude(F.col("lon"))).collect()]
    assert out == [0.0, -180.0, -180.0, -0.5, -180.0, 170.0]


def test_geo_point_structure(spark):
    df = spark.createDataFrame([(49.0, 252.0)], "lat double, lon double")  # 252 → -108
    s = df.select(G.geo_point(F.col("lat"), F.col("lon"))).first()[0]
    obj = json.loads(s)
    assert obj == {"type": "Point", "coordinates": [-108.0, 49.0]}


def test_geo_polygon_ring_and_clamping(spark):
    df = spark.createDataFrame([(90.0, 0.0)], "lat double, lon double")
    s = df.select(G.geo_polygon(F.col("lat"), F.col("lon"), 1.0, 1.0)).first()[0]
    ring = json.loads(s)["coordinates"][0]
    assert len(ring) == 5 and ring[0] == ring[-1]  # closed ring
    assert max(p[1] for p in ring) == 90.0  # clamped at pole


def test_geo_entity_bbox_lookup():
    bbox = G.geo_entity_bbox("city", "New York")
    assert bbox == G.CITY_BBOXES["new york"]
    with pytest.raises(KeyError):
        G.geo_entity_bbox("city", "atlantis")


# ---------------------------------------------------------------- xql rewrites


def test_rewrite_city_predicate():
    out = xql.rewrite_geo_predicates("SELECT * FROM t WHERE city = 'new york' AND x > 1")
    assert "latitude >= 40.47" in out and "longitude <= -73.69" in out
    assert "city" not in out


def test_rewrite_quoted_agg_args():
    out = xql.rewrite_quoted_agg_args("SELECT AVG('temperature'), SUM('d2m') AS s FROM t")
    assert "AVG(temperature) AS avg_temperature" in out
    assert "SUM(d2m) AS s" in out  # explicit alias preserved


def test_rewrite_skips_string_literals():
    # VERDICT r9: the regex pre-pass must not rewrite occurrences
    # INSIDE string literals — a user's note comparison stays verbatim
    q = "SELECT * FROM t WHERE note = \"city='paris'\""
    assert xql.rewrite_geo_predicates(q) == q
    q2 = "SELECT * FROM t WHERE note = 'x city=''paris'' y' AND city='new york'"
    out = xql.rewrite_geo_predicates(q2)
    assert "note = 'x city=''paris'' y'" in out  # literal untouched
    assert "latitude >=" in out  # real predicate still rewritten
    q3 = 'SELECT * FROM t WHERE note = "AVG(\'temperature\')"'
    assert xql.rewrite_quoted_agg_args(q3) == q3
    q4 = "SELECT AVG('t2m') FROM t WHERE note = \"AVG('x')\""
    out4 = xql.rewrite_quoted_agg_args(q4)
    assert "AVG(t2m) AS avg_t2m" in out4 and "\"AVG('x')\"" in out4
    q5 = "SELECT time_date, AVG(v) FROM t WHERE tag = 'time_date' GROUP BY time_date"
    out5 = xql.rewrite_time_buckets(q5)
    assert "tag = 'time_date'" in out5  # literal untouched
    assert "date_format(CAST(CAST(time AS TIMESTAMP) AS DATE), 'yyyy-MM-dd') AS time_date" in out5


def test_rewrite_time_buckets():
    out = xql.rewrite_time_buckets("SELECT time_date, AVG(v) FROM t GROUP BY time_date", time_col="ts")
    assert "date_format(CAST(CAST(ts AS TIMESTAMP) AS DATE), 'yyyy-MM-dd') AS time_date" in out
    # GROUP BY holds the typed DATE key; the label is formatted per group
    assert out.endswith("GROUP BY CAST(CAST(ts AS TIMESTAMP) AS DATE)")


def test_rewrite_time_buckets_groupby_only():
    out = xql.rewrite_time_buckets("SELECT count(*) FROM t GROUP BY time_month", time_col="ts")
    assert out.endswith("GROUP BY trunc(CAST(CAST(ts AS TIMESTAMP) AS DATE), 'MM')")


def test_run_query_end_to_end(spark, sf_dir):
    from weather_tools_spark.catalog import register_views

    register_views(spark, sf_dir, tables=("events",))
    df = xql.run_query(
        spark,
        "SELECT time_date, AVG('value') FROM events GROUP BY time_date ORDER BY time_date",
        time_col="ts",
    )
    rows = df.collect()
    assert df.columns == ["time_date", "avg_value"]
    assert len(rows) >= 28  # ~a month of days


# ---------------------------------------------------------------- as-of join


def test_asof_join_matches_pandas_merge_asof(spark):
    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 20, "e2"), (2, 15, "e3"), (3, 5, "e4")],
        "k int, t int, ev string",
    )
    right = spark.createDataFrame(
        [(1, 10, "r1"), (1, 15, "r2"), (2, 10, "r3"), (2, 16, "r4")],
        "k int, t int, payload string",
    )
    out = asof_join_left(
        left, right, left_on="t", right_on="t", left_by="k", right_by="k",
        right_payload={"payload": "matched"},
    ).toPandas().sort_values("ev").reset_index(drop=True)
    lp = pd.DataFrame({"k": [1, 1, 2, 3], "t": [10, 20, 15, 5], "ev": ["e1", "e2", "e3", "e4"]})
    rp = pd.DataFrame({"k": [1, 1, 2, 2], "t": [10, 15, 10, 16], "payload": ["r1", "r2", "r3", "r4"]})
    want = pd.merge_asof(
        lp.sort_values("t"), rp.sort_values("t"), on="t", by="k", direction="backward"
    ).sort_values("ev").reset_index(drop=True)
    assert list(out["matched"].fillna("-")) == list(want["payload"].fillna("-"))


def test_asof_join_exclusive(spark):
    left = spark.createDataFrame([(1, 10, "e1")], "k int, t int, ev string")
    right = spark.createDataFrame([(1, 10, "r1")], "k int, t int, payload string")
    incl = asof_join_left(left, right, "t", "t", "k", "k", {"payload": "m"}).first()
    excl = asof_join_left(left, right, "t", "t", "k", "k", {"payload": "m"}, inclusive=False).first()
    assert incl.m == "r1" and excl.m is None


# ---------------------------------------------------------------- multimodal


def _media_df(spark):
    rows = [
        (1, "image", "image/png", 640, 480, None, bytearray(b"\x89PNG-fake-1")),
        (2, "image", "image/png", 100, 50, None, bytearray(b"\x89PNG-fake-2")),
        (3, "video", "video/mp4", 1920, 1080, 3500, bytearray(b"mp4-fake")),
    ]
    return spark.createDataFrame(rows, MM.MEDIA_SCHEMA)


def test_extract_features_shape_and_determinism(spark):
    df = _media_df(spark)
    out = MM.extract_features(df).collect()
    assert len(out) == 3
    assert all(len(r.feature) == MM.FEATURE_DIM for r in out)
    again = {r.media_id: r.feature for r in MM.extract_features(df).collect()}
    assert all(again[r.media_id] == r.feature for r in out)  # deterministic


def test_extract_features_strict_raises(spark):
    df = _media_df(spark)
    with pytest.raises(Exception, match="NotImplementedError|media"):
        MM.extract_features(df, strict=True).collect()


def test_frame_sample_plan(spark):
    out = MM.frame_sample_plan(_media_df(spark), every_ms=1000).collect()
    assert [r.frame_ms for r in out] == [0, 1000, 2000, 3000]


def test_resize_spec(spark):
    out = {r.media_id: (r.target_width, r.target_height) for r in MM.resize_spec(_media_df(spark), 256).collect()}
    assert out[1] == (256, 192)
    assert out[2] == (100, 50)  # already smaller: unchanged
    assert out[3] == (256, 144)


def test_webmercator_roundtrip(spark):
    from weather_tools_spark.functions import geo as G

    pts = spark.createDataFrame(
        [(40.7128, -74.006), (-33.9, 151.2), (0.0, 0.0), (84.9, 179.9)],
        "lat double, lon double",
    )
    x, y = G.webmercator_xy(F.col("lat"), F.col("lon"))
    back_lat, back_lon = G.webmercator_inverse(F.col("x"), F.col("y"))
    out = (
        pts.select("lat", "lon", x.alias("x"), y.alias("y"))
        .select("lat", "lon", back_lat.alias("blat"), back_lon.alias("blon"))
        .collect()
    )
    for r in out:
        assert abs(r.lat - r.blat) < 1e-9
        assert abs(r.lon - r.blon) < 1e-9
