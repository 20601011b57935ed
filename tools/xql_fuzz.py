"""Differential grammar fuzzer for the xql SQL surface.

Every registry query is hand-authored; the xql rewrite path
(plans/xql.py — geo-entity bboxes, time-bucket shorthands, quoted agg
args, the string-literal guard) had never faced adversarial input
(VERDICT r10 task 2; the reference ships xql with NO tests at all,
SURVEY §5). This harness generates random-but-seeded queries from a
grammar over the weather view (xql dialect) and the orders table (plain
pass-through SQL), renders each query TWICE:

- the xql form, executed through ``plans.xql.run_query`` (rewrite +
  Catalyst), and
- an independently-expanded ANSI form (bucket shorthands → strftime,
  geo entities → bbox conjunctions, quoted agg args → aliased
  aggregates), executed by DuckDB over the same parquet,

then diffs the result frames cell-by-cell (floats with tolerance —
double partial-aggregation order differs between engines by design;
everything else exact, rows canonically sorted).

Usage:
    python tools/xql_fuzz.py [--n 600] [--seed 11] [--sf /root/testdata/sf0.01]
Exit 1 on any mismatch; failing queries are printed and dumped to
--out (default /tmp/xql_fuzz_failures.json) for triage.
"""

from __future__ import annotations

import argparse
import datetime as _dt
import json
import math
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TIME_BUCKETS = {
    "time_date": "%Y-%m-%d",
    "time_month": "%Y-%m",
    "time_year": "%Y",
}
# string literals that LOOK like rewritable xql syntax — the
# _sub_outside_literals guard must leave them untouched on the engine
# side, and DuckDB never rewrites, so any guard bug shows as a diff
TRAP_LITERALS = [
    "time_date",
    "city='paris'",
    "country='india'",
    "AVG('value')",
    "time_month AND 1=1",
]


def build_views(spark, sf: str, con) -> list[str]:
    """Identical weather view in both engines (flagship derivation:
    synthetic lat/lon from event/user ids) + the orders table."""
    from weather_tools_spark.catalog import load_table

    ev = load_table(spark, "events", sf)
    from pyspark.sql import functions as F

    ev.select(
        F.col("event_id"),
        F.col("ts").alias("time"),
        "value",
        ((F.col("user_id") % 180) - 90.0 + 0.25).alias("latitude"),
        ((F.col("event_id") % 360) - 180.0 + 0.5).alias("longitude"),
        "event_type",
    ).createOrReplaceTempView("weather")
    load_table(spark, "orders", sf).createOrReplaceTempView("orders")

    con.execute(
        f"""
        CREATE OR REPLACE VIEW weather AS
        SELECT event_id, ts AS "time", value,
               CAST((user_id % 180) - 90.0 + 0.25  AS DOUBLE) AS latitude,
               CAST((event_id % 360) - 180.0 + 0.5 AS DOUBLE) AS longitude,
               event_type
        FROM read_parquet('{sf}/events.parquet')
        -- DOUBLE casts: Spark's view computes these with double
        -- literals, while bare 90.0/0.25 are DECIMALs to DuckDB — and
        -- DuckDB's UNION decimal unification can pick the WIDER
        -- branch's SCALE and silently truncate the other branch
        -- (found by the seed-202 union fuzz: min(latitude) -89.75
        -- came back -89.7). Matching column types removes the
        -- harness-side asymmetry.
        """
    )
    con.execute(
        f"CREATE OR REPLACE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')"
    )
    return [r[0] for r in con.execute("SELECT DISTINCT event_type FROM weather ORDER BY 1").fetchall()]


# ---------------------------------------------------------------------------
# grammar
# ---------------------------------------------------------------------------


class Gen:
    def __init__(self, rng: random.Random, event_types: list[str]):
        self.rng = rng
        self.event_types = event_types

    # -- predicates: returns (xql_form, ansi_form) ------------------------
    def predicate(self) -> tuple[str, str]:
        from weather_tools_spark.functions.geo import CITY_BBOXES, COUNTRY_BBOXES

        r = self.rng
        kind = r.choice(
            ["num", "num", "geo", "etype", "time", "between", "in", "trap"]
        )
        if kind == "num":
            col = r.choice(["value", "latitude", "longitude"])
            op = r.choice([">=", "<=", ">", "<", "=", "<>"])
            if col == "value":
                c = round(r.uniform(0, 500), 2)
            elif col == "latitude":
                c = round(r.uniform(-90, 90), 2)
            else:
                c = round(r.uniform(-180, 180), 2)
            p = f"{col} {op} {c}"
            return p, p
        if kind == "geo":
            ent = r.choice(["city", "country"])
            table = CITY_BBOXES if ent == "city" else COUNTRY_BBOXES
            name = r.choice(sorted(table))
            la0, la1, lo0, lo1 = table[name]
            xql = f"{ent} = '{name}'"
            ansi = (
                f"(latitude >= {la0} AND latitude <= {la1} "
                f"AND longitude >= {lo0} AND longitude <= {lo1})"
            )
            return xql, ansi
        if kind == "etype":
            et = r.choice(self.event_types)
            op = r.choice(["=", "<>"])
            p = f"event_type {op} '{et}'"
            return p, p
        if kind == "time":
            day = r.randint(1, 28)
            op = r.choice([">=", "<"])
            p = f"time {op} TIMESTAMP '2024-01-{day:02d} 00:00:00'"
            return p, p
        if kind == "between":
            lo = round(r.uniform(0, 400), 2)
            hi = round(lo + r.uniform(0, 100), 2)
            p = f"value BETWEEN {lo} AND {hi}"
            return p, p
        if kind == "in":
            ets = r.sample(self.event_types, k=min(len(self.event_types), r.randint(1, 3)))
            lst = ", ".join(f"'{e}'" for e in ets)
            p = f"event_type IN ({lst})"
            return p, p
        # trap: a string literal that looks like rewritable syntax — the
        # predicate is always TRUE (<>) so it never filters, it only
        # tempts the rewriter
        lit = r.choice(TRAP_LITERALS).replace("'", "''")
        p = f"event_type <> '{lit}'"
        return p, p

    def where(self) -> tuple[str, str]:
        r = self.rng
        n = r.randint(0, 3)
        if n == 0:
            return "", ""
        xqls, ansis = [], []
        for _ in range(n):
            x, a = self.predicate()
            xqls.append(x)
            ansis.append(a)
        conns = [r.choice(["AND", "OR"]) for _ in range(n - 1)]
        x = xqls[0]
        a = ansis[0]
        for c, (xp, ap) in zip(conns, zip(xqls[1:], ansis[1:])):
            if r.random() < 0.3:
                x = f"({x}) {c} {xp}"
                a = f"({a}) {c} {ap}"
            else:
                x = f"{x} {c} {xp}"
                a = f"{a} {c} {ap}"
        return f" WHERE {x}", f" WHERE {a}"

    # -- aggregates --------------------------------------------------------
    def aggregate(self, used: set) -> tuple[str, str] | None:
        r = self.rng
        func = r.choice(["AVG", "SUM", "MIN", "MAX", "COUNT"])
        col = r.choice(["value", "latitude", "longitude"])
        alias = f"{func.lower()}_{col}"
        if alias in used:
            return None
        used.add(alias)
        if r.random() < 0.5:
            # xql quoted-arg style: default {func}_{col} output naming
            return f"{func}('{col}')", f"{func.lower()}({col}) AS {alias}"
        return (
            f"{func.lower()}({col}) AS {alias}",
            f"{func.lower()}({col}) AS {alias}",
        )

    def weather_query(self) -> tuple[str, str]:
        r = self.rng
        group_keys: list[str] = []
        if r.random() < 0.75:
            group_keys.append(r.choice(sorted(TIME_BUCKETS)))
        if r.random() < 0.4:
            group_keys.append("event_type")
        r.shuffle(group_keys)

        used: set = set()
        aggs = []
        for _ in range(r.randint(1, 3)):
            a = self.aggregate(used)
            if a:
                aggs.append(a)
        if r.random() < 0.5:
            aggs.append(("COUNT(*) AS n", "count(*) AS n"))

        sel_x = group_keys + [x for x, _ in aggs]
        sel_a = [
            f"strftime(\"time\", '{TIME_BUCKETS[k]}') AS {k}" if k in TIME_BUCKETS else k
            for k in group_keys
        ] + [a for _, a in aggs]
        wx, wa = self.where()
        gx = f" GROUP BY {', '.join(group_keys)}" if group_keys else ""
        ga = gx
        having_x = having_a = ""
        if group_keys and r.random() < 0.25:
            # r12 (VERDICT r11 task 5): richer HAVING surface — min/max
            # of stored doubles are EXACT (no partial-agg order
            # sensitivity), so thresholds on them cannot flake
            c = r.randint(1, 20)
            h = r.choice(
                [
                    f"count(*) >= {c}",
                    f"min(value) >= {round(r.uniform(0, 200), 2)}",
                    f"max(value) <= {round(r.uniform(300, 500), 2)}",
                    f"count(*) >= {c} AND max(latitude) <= {round(r.uniform(0, 90), 2)}",
                ]
            )
            having_x = having_a = f" HAVING {h}"
        # order by the group keys, OR by an aggregate with the full
        # group-key tiebreak (deterministic total order either way)
        if group_keys and aggs and r.random() < 0.25:
            agg_alias = aggs[0][1].split(" AS ")[-1]
            order = f" ORDER BY {agg_alias} DESC, {', '.join(group_keys)}"
        elif group_keys:
            order = f" ORDER BY {', '.join(group_keys)}"
        else:
            order = ""
        limit = ""
        if order and r.random() < 0.3:
            limit = f" LIMIT {r.randint(1, 25)}"
        xql = f"SELECT {', '.join(sel_x)} FROM weather{wx}{gx}{having_x}{order}{limit}"
        ansi = f"SELECT {', '.join(sel_a)} FROM weather{wa}{ga}{having_a}{order}{limit}"
        return xql, ansi

    def union_query(self) -> tuple[str, str]:
        """UNION ALL of two single-row whole-table aggregates with a
        branch tag — exercises set-op planning through the rewriter."""
        used: set = set()
        a1 = self.aggregate(used)
        while a1 is None:
            a1 = self.aggregate(used)
        a2 = self.aggregate(used)
        while a2 is None:
            a2 = self.aggregate(used)
        # both branches must project the SAME column name for UNION
        def rename(expr: str) -> str:
            return f"{expr.split(' AS ')[0]} AS agg_val"

        w1x, w1a = self.where()
        w2x, w2a = self.where()
        xql = (
            f"SELECT 'b1' AS branch, {rename(a1[1])} FROM weather{w1x}"
            f" UNION ALL SELECT 'b2' AS branch, {rename(a2[1])} FROM weather{w2x}"
            f" ORDER BY branch"
        )
        ansi = (
            f"SELECT 'b1' AS branch, {rename(a1[1])} FROM weather{w1a}"
            f" UNION ALL SELECT 'b2' AS branch, {rename(a2[1])} FROM weather{w2a}"
            f" ORDER BY branch"
        )
        return xql, ansi

    def subquery_query(self) -> tuple[str, str]:
        """Aggregate over a projected/filtered derived table, or a bucket
        selected inside a derived table and ordered on outside — the
        rewriter must leave inner-query structure intact and let each
        block's SELECT list name its own buckets."""
        r = self.rng
        wx, wa = self.where()
        gx = r.choice(["event_type", "time_month", "time_year", "inner"])
        if gx in TIME_BUCKETS:
            fmt = TIME_BUCKETS[gx]
            sel_x = f"{gx}, avg(value) AS avg_value, COUNT(*) AS n"
            sel_a = f"strftime(\"time\", '{fmt}') AS {gx}, avg(value) AS avg_value, count(*) AS n"
            xql = (
                f"SELECT {sel_x} FROM (SELECT * FROM weather{wx}) t"
                f" GROUP BY {gx} ORDER BY {gx}"
            )
            ansi = (
                f"SELECT {sel_a} FROM (SELECT * FROM weather{wa}) t"
                f" GROUP BY {gx} ORDER BY {gx}"
            )
        elif gx == "inner":
            b = r.choice(sorted(TIME_BUCKETS))
            fmt = TIME_BUCKETS[b]
            xql = (
                f"SELECT * FROM (SELECT event_type, {b}, count(*) AS n FROM weather{wx}"
                f" GROUP BY event_type, {b}) s ORDER BY event_type, {b}"
            )
            ansi = (
                f"SELECT * FROM (SELECT event_type, strftime(\"time\", '{fmt}') AS {b},"
                f" count(*) AS n FROM weather{wa}"
                f" GROUP BY event_type, strftime(\"time\", '{fmt}')) s ORDER BY event_type, {b}"
            )
        else:
            xql = (
                f"SELECT event_type, SUM('value'), COUNT(*) AS n"
                f" FROM (SELECT * FROM weather{wx}) t"
                f" GROUP BY event_type ORDER BY event_type"
            )
            ansi = (
                f"SELECT event_type, sum(value) AS sum_value, count(*) AS n"
                f" FROM (SELECT * FROM weather{wa}) t"
                f" GROUP BY event_type ORDER BY event_type"
            )
        return xql, ansi

    def weather_select_query(self) -> tuple[str, str]:
        """No aggregates: projection + filter + deterministic order/limit
        (exercises the rewriter on non-aggregate statements)."""
        r = self.rng
        cols = r.sample(["value", "latitude", "longitude", "event_type"], k=r.randint(1, 3))
        sel = ["event_id"] + cols
        wx, wa = self.where()
        lim = r.randint(1, 50)
        xql = f"SELECT {', '.join(sel)} FROM weather{wx} ORDER BY event_id LIMIT {lim}"
        ansi = f"SELECT {', '.join(sel)} FROM weather{wa} ORDER BY event_id LIMIT {lim}"
        return xql, ansi

    def join_query(self) -> tuple[str, str]:
        """Two-table join through the rewrite path (r12, VERDICT r11
        task 5): weather x orders on a synthetic modular key, as INNER
        / LEFT / EXISTS / NOT EXISTS, with xql predicates (geo
        entities, traps, buckets) on the weather side — the join
        planner is where Catalyst rewrites are deepest and the prior
        grammar had zero coverage. Aggregate outputs are integer-exact
        (counts, min/sum of integer keys) so only the optional avg
        rides the float tolerance."""
        r = self.rng
        k = r.choice([211, 499, 997])
        wx, wa = self.where()
        opred = []
        if r.random() < 0.7:
            opred.append(f"o_totalprice < {round(r.uniform(50000, 300000), 2)}")
        if r.random() < 0.4:
            opred.append(f"o_orderkey % {r.randint(2, 5)} = 0")
        ow = f" WHERE {' AND '.join(opred)}" if opred else ""
        kind = r.choice(["inner", "inner", "left", "exists", "not_exists"])
        if kind in ("exists", "not_exists"):
            neg = "NOT " if kind == "not_exists" else ""
            sub = (
                f"{neg}EXISTS (SELECT 1 FROM orders o WHERE "
                f"(o.o_orderkey % {k}) = (w.event_id % {k})"
                f"{' AND ' + ' AND '.join(opred) if opred else ''})"
            )
            wjx = f"{wx} AND {sub}" if wx else f" WHERE {sub}"
            wja = f"{wa} AND {sub}" if wa else f" WHERE {sub}"
            xql = (
                f"SELECT event_type, count(*) AS n, min(event_id) AS min_id"
                f" FROM weather w{wjx} GROUP BY event_type ORDER BY event_type"
            )
            ansi = (
                f"SELECT event_type, count(*) AS n, min(event_id) AS min_id"
                f" FROM weather w{wja} GROUP BY event_type ORDER BY event_type"
            )
            return xql, ansi
        jt = "JOIN" if kind == "inner" else "LEFT JOIN"
        gkey = r.choice(["event_type", "time_month"])
        if gkey == "time_month":
            gx, ga_sel = "time_month", "strftime(w.\"time\", '%Y-%m') AS time_month"
            ga_grp = "strftime(w.\"time\", '%Y-%m')"
        else:
            gx, ga_sel, ga_grp = (
                "w.event_type AS event_type",
                "w.event_type AS event_type",
                "w.event_type",
            )
        aggs = ["count(*) AS n", f"count(o.o_orderkey) AS n_matched",
                "min(o.o_orderkey) AS min_key"]
        if r.random() < 0.5:
            aggs.append("sum(o.o_custkey) AS sum_cust")
        if r.random() < 0.3:
            aggs.append("avg(w.value) AS avg_value")
        order = "time_month" if gkey == "time_month" else "event_type"
        xql = (
            f"SELECT {gx}, {', '.join(aggs)}"
            f" FROM (SELECT * FROM weather{wx}) w"
            f" {jt} (SELECT * FROM orders{ow}) o"
            f" ON (w.event_id % {k}) = (o.o_orderkey % {k})"
            f" GROUP BY {gx.split(' AS ')[0] if ' AS ' in gx else gx}"
            f" ORDER BY {order}"
        )
        ansi = (
            f"SELECT {ga_sel}, {', '.join(aggs)}"
            f" FROM (SELECT * FROM weather{wa}) w"
            f" {jt} (SELECT * FROM orders{ow}) o"
            f" ON (w.event_id % {k}) = (o.o_orderkey % {k})"
            f" GROUP BY {ga_grp}"
            f" ORDER BY {order}"
        )
        return xql, ansi

    def window_query(self) -> tuple[str, str]:
        """Window functions over a grouped inner frame (r12, VERDICT
        r11 task 5): rank/dense_rank/row_number + lag/lead + running
        sum, partitioned by event_type and ordered by INTEGER counts
        with the unique bucket as tiebreak — every window value is
        integer-exact, so cross-engine comparison is bit-stable."""
        r = self.rng
        bucket = r.choice(["time_date", "time_month"])
        fmt = TIME_BUCKETS[bucket]
        wx, wa = self.where()
        inner_x = (
            f"SELECT event_type, {bucket} AS b, count(*) AS n,"
            f" min(event_id) AS mn FROM weather{wx}"
            f" GROUP BY event_type, {bucket}"
        )
        inner_a = (
            f"SELECT event_type, strftime(\"time\", '{fmt}') AS b, count(*) AS n,"
            f" min(event_id) AS mn FROM weather{wa}"
            f" GROUP BY event_type, strftime(\"time\", '{fmt}')"
        )
        rankf = r.choice(["rank()", "dense_rank()", "row_number()"])
        wins = [f"{rankf} OVER (PARTITION BY event_type ORDER BY n DESC, b) AS rnk"]
        if r.random() < 0.6:
            off = r.randint(1, 3)
            lf = r.choice(["lag", "lead"])
            wins.append(
                f"{lf}(n, {off}) OVER (PARTITION BY event_type ORDER BY b) AS adj_n"
            )
        if r.random() < 0.5:
            wins.append(
                "sum(n) OVER (PARTITION BY event_type ORDER BY b"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n"
            )
        mid_x = f"SELECT event_type, b, n, mn, {', '.join(wins)} FROM ({inner_x}) t"
        mid_a = f"SELECT event_type, b, n, mn, {', '.join(wins)} FROM ({inner_a}) t"
        outer = ""
        if r.random() < 0.5:
            outer = f" WHERE rnk <= {r.randint(1, 8)}"
        xql = f"SELECT * FROM ({mid_x}) s{outer} ORDER BY event_type, b"
        ansi = f"SELECT * FROM ({mid_a}) s{outer} ORDER BY event_type, b"
        return xql, ansi

    def orders_query(self) -> tuple[str, str]:
        """Plain ANSI pass-through (no xql extensions) — pins that the
        rewriter is a no-op on SQL it doesn't own."""
        r = self.rng
        keys = r.sample(
            ["o_orderstatus", "o_orderpriority", "year(o_orderdate)"], k=r.randint(1, 2)
        )
        names = [k.replace("year(o_orderdate)", "yr") for k in keys]
        sel = [
            f"{k} AS {n}" if k != n else k for k, n in zip(keys, names)
        ]
        aggs = ["count(*) AS n"]
        if r.random() < 0.6:
            aggs.append("min(o_orderkey) AS min_key")
        if r.random() < 0.6:
            aggs.append("max(o_totalprice) AS max_price")
        if r.random() < 0.4:
            aggs.append("sum(o_custkey) AS sum_cust")
        preds = []
        if r.random() < 0.6:
            preds.append(f"o_totalprice < {round(r.uniform(1000, 400000), 2)}")
        if r.random() < 0.4:
            day = r.randint(1, 28)
            yr = r.choice([1993, 1995, 1997])
            preds.append(f"o_orderdate >= TIMESTAMP '{yr}-06-{day:02d} 00:00:00'")
        if r.random() < 0.3:
            preds.append(f"o_orderkey % {r.randint(2, 7)} = 0")
        w = f" WHERE {' AND '.join(preds)}" if preds else ""
        q = (
            f"SELECT {', '.join(sel)}, {', '.join(aggs)} FROM orders{w} "
            f"GROUP BY {', '.join(names)} ORDER BY {', '.join(names)}"
        )
        return q, q

    def query(self) -> tuple[str, str]:
        roll = self.rng.random()
        if roll < 0.38:
            return self.weather_query()
        if roll < 0.52:
            return self.weather_select_query()
        if roll < 0.59:
            return self.union_query()
        if roll < 0.66:
            return self.subquery_query()
        if roll < 0.74:
            return self.orders_query()
        if roll < 0.88:
            return self.join_query()
        return self.window_query()


# ---------------------------------------------------------------------------
# comparison
# ---------------------------------------------------------------------------


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return v
    if isinstance(v, int):
        return int(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    try:  # Decimal
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except Exception:
        pass
    return str(v)


def _frame(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    names = [cols[i].lower() for i in idx]
    data = [tuple(_norm_cell(r[i]) for i in idx) for r in rows]
    data.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return names, data


def _cells_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=1e-8, abs_tol=1e-8)
    return a == b


def compare(spark_df, duck_rows, duck_cols) -> str | None:
    cols_s, rows_s = _frame(spark_df.columns, spark_df.collect())
    cols_d, rows_d = _frame(duck_cols, duck_rows)
    if cols_s != cols_d:
        return f"schema mismatch: spark={cols_s} duckdb={cols_d}"
    if len(rows_s) != len(rows_d):
        return f"row count mismatch: spark={len(rows_s)} duckdb={len(rows_d)}"
    for i, (rs, rd) in enumerate(zip(rows_s, rows_d)):
        for c, (a, b) in enumerate(zip(rs, rd)):
            if not _cells_equal(a, b):
                return f"cell mismatch row {i} col {cols_s[c]}: spark={a!r} duckdb={b!r}"
    return None


def run_fuzz(spark, con, n: int, seed: int, verbose: bool = False):
    event_types = [r[0] for r in con.execute("SELECT DISTINCT event_type FROM weather ORDER BY 1").fetchall()]
    gen = Gen(random.Random(seed), event_types)
    from weather_tools_spark.plans import xql as X

    failures = []
    for i in range(n):
        xq, aq = gen.query()
        try:
            sdf = X.run_query(spark, xq, time_col="time")
            dres = con.execute(aq)
            dcols = [d[0] for d in dres.description]
            drows = dres.fetchall()
            diff = compare(sdf, drows, dcols)
        except Exception as e:  # noqa: BLE001 - triage surface
            diff = f"exception: {type(e).__name__}: {e}"
        if diff:
            failures.append({"i": i, "xql": xq, "ansi": aq, "diff": diff})
            print(f"FAIL [{i}] {diff}\n  xql : {xq}\n  ansi: {aq}", file=sys.stderr)
        elif verbose:
            print(f"ok [{i}] {xq}", file=sys.stderr)
    return failures


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=600)
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/xql_fuzz_failures.json")
    ap.add_argument("--verbose", action="store_true")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    con = duckdb.connect()
    build_views(spark, args.sf, con)
    import time as _time

    t0 = _time.time()
    failures = run_fuzz(spark, con, args.n, args.seed, args.verbose)
    dt = _time.time() - t0
    with open(args.out, "w") as f:
        json.dump(failures, f, indent=1)
    print(
        f"xql fuzz: {args.n} queries seed={args.seed} in {dt:.1f}s — "
        f"{len(failures)} failure(s)"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
