"""Time-bucket shorthands group on a typed DATE key and label each group
once (plans/xql.py). The labels must equal the per-row
``date_format(time, fmt)`` form for every time column type the SQL
surface meets, in any session time zone, and every query block must
name its own buckets."""

from __future__ import annotations

import pytest

from weather_tools_spark.plans import xql
from weather_tools_spark.session import default_driver_memory

FORMATS = {"time_date": "yyyy-MM-dd", "time_month": "yyyy-MM", "time_year": "yyyy"}

# rows one second either side of midnight at a year end, a leap-day
# month end and New York's DST changes, plus a NULL time
INSTANTS = [
    "2023-12-31 23:59:59", "2024-01-01 00:00:01",
    "2024-02-29 23:59:59", "2024-03-01 00:00:01",
    "2024-03-09 23:59:59", "2024-03-10 00:00:01",
    "2024-11-02 23:59:59", "2024-11-03 00:00:01",
    None,
]

TIME_TYPES = {
    "timestamp": "TIMESTAMP'{}'",
    "timestamp_ntz": "TIMESTAMP_NTZ'{}'",
    "date": "DATE'{}'",
    # ISO strings, one with a zone offset: it parses to an instant,
    # which each session time zone buckets differently
    "string": "'{}'",
}

SHAPES = {
    "selected_and_grouped": (
        "SELECT {b}, count(*) AS n, sum(v) AS s FROM tv GROUP BY {b}",
        "SELECT {e} AS {b}, count(*) AS n, sum(v) AS s FROM tv GROUP BY {e}",
    ),
    "grouped_only": (
        "SELECT count(*) AS n, sum(v) AS s FROM tv GROUP BY {b}",
        "SELECT count(*) AS n, sum(v) AS s FROM tv GROUP BY {e}",
    ),
    "having_and_order_on_alias": (
        "SELECT {b}, count(*) AS n FROM tv GROUP BY {b} HAVING {b} >= '2023' ORDER BY {b} DESC",
        "SELECT {e} AS {b}, count(*) AS n FROM tv GROUP BY {e} HAVING {e} >= '2023'"
        " ORDER BY {b} DESC",
    ),
    "having_and_order_unselected": (
        "SELECT count(*) AS n, sum(v) AS s FROM tv GROUP BY {b} HAVING {b} >= '2023'"
        " ORDER BY {b}",
        "SELECT n, s FROM (SELECT {e} AS {b}, count(*) AS n, sum(v) AS s FROM tv GROUP BY {e}"
        " HAVING {e} >= '2023') ORDER BY {b}",
    ),
    "bucket_inside_subquery": (
        "SELECT * FROM (SELECT event_type, {b}, count(*) n FROM tv GROUP BY event_type, {b}) s"
        " ORDER BY event_type, {b}",
        "SELECT * FROM (SELECT event_type, {e} AS {b}, count(*) n FROM tv"
        " GROUP BY event_type, {e}) s ORDER BY event_type, {b}",
    ),
}


def _register(spark, kind: str) -> None:
    lit = TIME_TYPES[kind]
    rows = []
    for i, t in enumerate(INSTANTS):
        if t is None:
            time = f"CAST(NULL AS {kind.upper() if kind != 'string' else 'STRING'})"
        elif kind == "date":
            time = lit.format(t[:10])
        elif kind == "string":
            time = lit.format(t.replace(" ", "T") + ("Z" if i == 1 else ""))
        else:
            time = lit.format(t)
        rows.append(f"({time}, '{'ab'[i % 2]}', {i}.5D)")
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW tv AS SELECT * FROM VALUES "
        + ", ".join(rows)
        + " AS tv(time, event_type, v)"
    )


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
@pytest.mark.parametrize("kind", sorted(TIME_TYPES))
def test_typed_buckets_equal_per_row_date_format(spark, kind, tz):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        _register(spark, kind)
        for shape, (query, reference) in SHAPES.items():
            for bucket, fmt in FORMATS.items():
                got = xql.run_query(spark, query.format(b=bucket))
                want = spark.sql(reference.format(b=bucket, e=f"date_format(time, '{fmt}')"))
                assert got.columns == want.columns, (shape, bucket)
                got_rows = [tuple(r) for r in got.collect()]
                want_rows = [tuple(r) for r in want.collect()]
                if "ORDER BY" not in query:
                    got_rows, want_rows = sorted(got_rows, key=repr), sorted(want_rows, key=repr)
                assert got_rows == want_rows and len(got_rows) > 1, (shape, bucket)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_bucket_selected_in_subquery_keeps_its_name(spark):
    """A shorthand selected inside a derived table is aliased there, so
    the outer block orders on the derived table's column."""
    sql = (
        "SELECT * FROM (SELECT event_type, time_month, count(*) n FROM wx_sub "
        "GROUP BY event_type, time_month) s ORDER BY event_type, time_month"
    )
    out = xql.rewrite(sql)
    key = "trunc(CAST(CAST(time AS TIMESTAMP) AS DATE), 'MM')"
    assert out == (
        f"SELECT * FROM (SELECT event_type, date_format({key}, 'yyyy-MM') AS time_month, "
        f"count(*) n FROM wx_sub GROUP BY event_type, {key}) s "
        "ORDER BY event_type, time_month"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW wx_sub AS SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-31 23:59:59', 'a'), (TIMESTAMP'2024-02-01 00:00:01', 'a'), "
        "(TIMESTAMP'2024-02-01 00:00:02', 'b') AS wx_sub(time, event_type)"
    )
    rows = [tuple(r) for r in xql.run_query(spark, sql).collect()]
    assert rows == [("a", "2024-01", 1), ("a", "2024-02", 1), ("b", "2024-02", 1)]


def test_bucket_rewrite_blocks_and_names():
    """Per-block edits: a CTE that selects a bucket exposes it as a
    column, an explicit alias is kept, an output name is never
    rewritten, and ROLLUP items get the key."""
    day = "CAST(CAST(t AS TIMESTAMP) AS DATE)"
    assert xql.rewrite_time_buckets(
        "WITH m AS (SELECT time_date, count(*) n FROM w GROUP BY time_date) "
        "SELECT * FROM m ORDER BY time_date", time_col="t"
    ) == (
        f"WITH m AS (SELECT date_format({day}, 'yyyy-MM-dd') AS time_date, count(*) n "
        f"FROM w GROUP BY {day}) SELECT * FROM m ORDER BY time_date"
    )
    assert xql.rewrite_time_buckets(
        "SELECT time_date AS d FROM w GROUP BY time_date ORDER BY time_date", time_col="t"
    ) == (
        f"SELECT date_format({day}, 'yyyy-MM-dd') AS d FROM w GROUP BY {day} "
        f"ORDER BY date_format({day}, 'yyyy-MM-dd')"
    )
    assert xql.rewrite_time_buckets("SELECT x AS time_year FROM w") == (
        "SELECT x AS time_year FROM w"
    )
    out = xql.rewrite_time_buckets(
        "SELECT time_date, count(*) FROM w GROUP BY ROLLUP(time_date, k)", time_col="t"
    )
    assert out.endswith(f"GROUP BY ROLLUP({day}, k)")
    # ORDER BY a bucket the block neither selects nor can reach through
    # its HAVING filter: the key becomes a FROM column
    assert xql.rewrite_time_buckets(
        "SELECT count(*) AS n FROM w GROUP BY time_date HAVING time_date >= '2024-01-02' "
        "ORDER BY time_date", time_col="t"
    ) == (
        f"SELECT count(*) AS n FROM w, LATERAL (SELECT {day} AS _time_date_key) "
        "GROUP BY _time_date_key HAVING date_format(_time_date_key, 'yyyy-MM-dd') >= "
        "'2024-01-02' ORDER BY date_format(_time_date_key, 'yyyy-MM-dd')"
    )


def test_default_driver_memory_caps_at_two_thirds_of_ram(monkeypatch):
    """16g on a large host, about two thirds of physical memory on a
    smaller one."""
    page = 4096
    for gib, want in ((15, "10240m"), (24, "16384m"), (64, "16384m"), (3, "2048m")):
        pages = gib * 2**30 // page
        monkeypatch.setattr(
            "os.sysconf", lambda name, p=pages: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": p}[name]
        )
        assert default_driver_memory() == want, gib
