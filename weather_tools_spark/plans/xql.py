"""xql-parity SQL surface: accept SQL text, apply the reference's
query-language extensions as a pre-pass rewrite, execute via spark.sql.

The reference parses SQL with sqlglot and interprets it against xarray
(xql/src/xql/apply.py:245-299). This engine instead *rewrites* the
extension syntax to plain ANSI SQL and hands the result to Catalyst —
the whole optimizer inventory in SURVEY.md §4 comes for free, and OR
semantics are correct (the reference executes only the first DNF term,
where.py:237-238).

Extensions handled (all from the reference's surface):
- ``city = 'new york'`` / ``country = 'india'`` predicates → bbox
  conjunctions over latitude/longitude (where.py:140-171,
  constant.py:16-34);
- ``GROUP BY time_date | time_month | time_year`` time-bucket shorthand
  (apply.py:56-60,132-156) → a typed DATE group key
  (``CAST(CAST(time AS TIMESTAMP) AS DATE)``, ``trunc``'d to the month
  or year), labelled ``date_format(<key>, ...)`` once per group and
  exposed under the shorthand name in the output;
- bare aggregate calls ``AVG('var')`` with single-quoted column args
  (xql's README style) → ``avg(var) AS avg_var`` using the reference's
  ``{func}_{var}`` output naming (apply.py:155).

sqlglot is not available in this container, so the rewriter is a
deliberately small regex/string pass over these three constructs (the
bucket pass also finds query blocks by their parentheses and clause
keywords, so each block's SELECT list names its own buckets); full SQL
(joins, windows, subqueries, set ops...) flows through to Spark's own
parser. If sqlglot is importable it is used to validate the
statement parses before execution.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_tools_spark.functions.geo import geo_entity_bbox

try:  # pragma: no cover - optional dependency
    import sqlglot  # type: ignore
except Exception:  # pragma: no cover
    sqlglot = None

# shorthand → (typed group key over {t}, label format); the key is a
# DATE, so grouping never builds a string per row
_TIME_BUCKETS = {
    "time_date": ("CAST(CAST({t} AS TIMESTAMP) AS DATE)", "yyyy-MM-dd"),
    "time_month": ("trunc(CAST(CAST({t} AS TIMESTAMP) AS DATE), 'MM')", "yyyy-MM"),
    "time_year": ("trunc(CAST(CAST({t} AS TIMESTAMP) AS DATE), 'YEAR')", "yyyy"),
}

_AGG_FUNCS = ("AVG", "SUM", "MIN", "MAX", "COUNT")


def _quoted_spans(sql: str) -> list[tuple[int, int]]:
    """[start, end) spans of string literals — single-quoted with ''
    escaping, plus double-quoted (Spark's default treats "x" as a
    string literal too). An unterminated literal runs to the end."""
    spans: list[tuple[int, int]] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch not in ("'", '"'):
            i += 1
            continue
        j = i + 1
        while j < n:
            if sql[j] == ch:
                if ch == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2  # '' escape: still inside the literal
                    continue
                break
            j += 1
        end = j + 1 if j < n else n
        spans.append((i, end))
        i = end
    return spans


def _sub_outside_literals(pattern: str, repl, sql: str, flags: int = 0) -> str:
    """re.sub that leaves any match starting inside a string literal
    untouched — so a user's ``WHERE note = "city='paris'"`` (or an
    ``AVG('x')`` spelled inside a quoted string) is never rewritten."""
    spans = _quoted_spans(sql)

    def guarded(m: re.Match[str]) -> str:
        if any(s < m.start() < e or m.start() == s for s, e in spans):
            return m.group(0)
        return repl(m) if callable(repl) else m.expand(repl)

    return re.sub(pattern, guarded, sql, flags=flags)


def rewrite_geo_predicates(sql: str) -> str:
    """``city='new york'`` / ``country='x'`` → bbox conjunction."""

    def repl(m: re.Match[str]) -> str:
        kind = m.group(1).lower()
        name = m.group(2)
        lat_min, lat_max, lon_min, lon_max = geo_entity_bbox(kind, name)
        return (
            f"(latitude >= {lat_min} AND latitude <= {lat_max} "
            f"AND longitude >= {lon_min} AND longitude <= {lon_max})"
        )

    return _sub_outside_literals(
        r"\b(city|country)\s*=\s*'([^']+)'", repl, sql, flags=re.IGNORECASE
    )


def rewrite_quoted_agg_args(sql: str) -> str:
    """xql allows ``AVG('temperature')`` — strip the quotes and alias the
    output ``{func}_{var}`` unless the query aliases it explicitly."""

    def repl(m: re.Match[str]) -> str:
        func, var = m.group(1), m.group(2)
        tail = sql[m.end():].lstrip()
        # word-boundary match: a bare prefix test would treat ASC
        # (ORDER BY AVG('x') ASC) as an explicit alias and suppress
        # the {func}_{var} output name
        if re.match(r"AS\b", tail, re.IGNORECASE):
            return f"{func}({var})"
        return f"{func}({var}) AS {func.lower()}_{var}"

    pattern = r"\b(" + "|".join(_AGG_FUNCS) + r")\s*\(\s*'([A-Za-z_][A-Za-z0-9_]*)'\s*\)"
    return _sub_outside_literals(pattern, repl, sql, flags=re.IGNORECASE)


def bucket_exprs(shorthand: str, time_col: str = "time") -> tuple[str, str]:
    """(group key, label) SQL of a time-bucket shorthand over ``time_col``."""
    key, fmt = _TIME_BUCKETS[shorthand]
    key = key.format(t=time_col)
    return key, f"date_format({key}, '{fmt}')"


def bucket_agg(df: DataFrame, shorthand: str, time_col: str, *aggs: Column, by=()) -> DataFrame:
    """DataFrame form of the bucket rewrite: group ``df`` on the typed
    key of ``shorthand`` (then ``by``), aggregate, and label each group
    once with the shorthand's string."""
    key, fmt = _TIME_BUCKETS[shorthand]
    return (
        df.groupBy(F.expr(key.format(t=time_col)).alias(shorthand), *by)
        .agg(*aggs)
        .withColumn(shorthand, F.date_format(shorthand, fmt))
    )


_SHORTHAND = re.compile(r"(?<![\w.])(" + "|".join(_TIME_BUCKETS) + r")\b", re.IGNORECASE)
_CLAUSE = re.compile(
    r"\b(SELECT|FROM|WHERE|GROUP\s+BY|HAVING|(?:ORDER|SORT|CLUSTER|DISTRIBUTE)\s+BY"
    r"|WINDOW|QUALIFY|LIMIT|OFFSET)\b",
    re.IGNORECASE,
)
_SET_OP = re.compile(r"\b(?:UNION|INTERSECT|EXCEPT|MINUS)\b", re.IGNORECASE)
_QUERY_START = re.compile(r"\s*(?:SELECT|WITH)\b", re.IGNORECASE)
# clauses that may name a SELECT-list alias
_ALIAS_CLAUSES = ("HAVING", "ORDER", "SORT", "CLUSTER", "DISTRIBUTE")


class _BucketRewrite:
    """One pass of :func:`rewrite_time_buckets` over a statement: query
    blocks are found by their parentheses and clause keywords (string
    literals blanked), each shorthand occurrence gets the edit its
    block and clause call for, and the edits apply at the end."""

    def __init__(self, sql: str, time_col: str) -> None:
        self.sql = sql
        chars = list(sql)
        for s, e in _quoted_spans(sql):
            chars[s:e] = " " * (e - s)
        self.flat = "".join(chars)
        self.close: dict[int, int] = {}
        stack: list[int] = []
        for i, ch in enumerate(self.flat):
            if ch == "(":
                stack.append(i)
            elif ch == ")" and stack:
                self.close[stack.pop()] = i
        for i in stack:
            self.close[i] = len(sql)
        self.time_col = time_col
        self.edits: list[tuple[int, int, str]] = []

    def apply(self) -> str:
        self.query(0, len(self.sql), {})
        out = self.sql
        for s, e, text in sorted(self.edits, reverse=True):
            out = out[:s] + text + out[e:]
        return out

    def groups(self, lo: int, hi: int) -> list[tuple[int, int]]:
        """Outermost parenthesised groups in [lo, hi) as (open, close)."""
        out, i = [], lo
        while i < hi:
            if self.flat[i] == "(":
                out.append((i, self.close[i]))
                i = self.close[i]
            i += 1
        return out

    def level(self, lo: int, hi: int) -> str:
        """[lo, hi) with the inside of every group blanked."""
        text = list(self.flat[lo:hi])
        for o, c in self.groups(lo, hi):
            text[o - lo + 1 : c - lo] = " " * (c - o - 1)
        return "".join(text)

    def subqueries(self, lo: int, hi: int) -> list[tuple[int, int]]:
        """Groups in [lo, hi) that hold a query, outermost only."""
        out = []
        for o, c in self.groups(lo, hi):
            if _QUERY_START.match(self.flat, o + 1, c):
                out.append((o, c))
            else:
                out.extend(self.subqueries(o + 1, c))
        return out

    def query(self, lo: int, hi: int, ctes: dict) -> set[str]:
        """Rewrite the query in [lo, hi); return the shorthands it
        outputs as columns (a set operation outputs its first branch's
        names). ``ctes`` maps visible CTE names to theirs."""
        ctes = dict(ctes)
        cuts = [lo + m.start() for m in _SET_OP.finditer(self.level(lo, hi))]
        parts = zip([lo, *cuts], [*cuts, hi])
        return [self.block(a, b, ctes) for a, b in parts][0]

    def block(self, lo: int, hi: int, ctes: dict) -> set[str]:
        level = self.level(lo, hi)
        marks = [(lo, "PRE")] + [
            (lo + m.start(), m.group(1).split()[0].upper())
            for m in _CLAUSE.finditer(level)
            if not re.search(r"\bDISTINCT\s*$", level[: m.start()], re.IGNORECASE)
        ]
        bounds = [p for p, _ in marks[1:]] + [hi]
        spans = [(name, p, b) for (p, name), b in zip(marks, bounds)]

        def clause(pos: int) -> tuple[str, int, int]:
            return next(s for s in reversed(spans) if s[1] <= pos)

        subs = self.subqueries(lo, hi)
        sources: set[str] = set()  # shorthands the FROM clause's relations output
        operand: set[str] = set()  # a parenthesised set-operation branch's
        for o, c in subs:
            names = self.query(o + 1, c, ctes)
            where = clause(o)[0]
            if where == "FROM":
                sources |= names
            elif where == "PRE":
                cte = re.search(r"(\w+)\s+AS\s*$", self.flat[lo:o], re.IGNORECASE)
                if cte:
                    ctes[cte.group(1).lower()] = names
                else:
                    operand |= names
        for name, s, e in spans:
            if name == "FROM":
                for word in re.findall(r"\w+", level[s - lo : e - lo]):
                    sources |= ctes.get(word.lower(), set())
        select = next((s for s in spans if s[0] == "SELECT"), None)
        if select is None:
            return operand

        def items(s: int, e: int, skip: str) -> list[tuple[int, int, str]]:
            """Comma-separated items of [s + len(skip word), e)."""
            s += len(re.match(skip, self.flat[s:e], re.IGNORECASE).group(0))
            cuts = [s + i for i, ch in enumerate(level[s - lo : e - lo]) if ch == ","]
            starts = [s, *(c + 1 for c in cuts)]
            return [(a, b, self.flat[a:b].strip()) for a, b in zip(starts, [*cuts, e])]

        select_items = items(select[1], select[2], r"SELECT(\s+(DISTINCT|ALL)\b)?")
        aliased = {
            m.group(2).lower()
            for _, _, text in select_items
            if (m := re.fullmatch(r"(.*\bAS\s+|\w+\.|)(\w+)", text, re.IGNORECASE | re.DOTALL))
            and m.group(2).lower() in _TIME_BUCKETS
        }
        star = any(re.fullmatch(r"(\w+\.)?\*", t) for _, _, t in select_items)
        found = [
            (m, clause(m.start()))
            for m in _SHORTHAND.finditer(self.flat, lo, hi)
            if m.group(1).lower() not in sources  # a column of a relation
            and not any(o < m.start() < c for o, c in subs)  # an inner block's
            and not re.search(r"\bAS\s*$", self.flat[lo : m.start()], re.IGNORECASE)
        ]
        # Spark cannot resolve an ORDER BY key through a HAVING filter
        # unless it is a grouping column: such a block computes the key
        # once as a column of its FROM, which a LATERAL subquery adds
        # without a join
        from_ = next((s for s in spans if s[0] == "FROM"), None)
        lateral = sorted({
            m.group(1).lower() for m, (name, _, _) in found
            if name in _ALIAS_CLAUSES and name != "HAVING" and m.group(1).lower() not in aliased
        }) if from_ and any(s[0] == "HAVING" for s in spans) else []
        if lateral:
            end = from_[1] + len(self.flat[from_[1] : from_[2]].rstrip())
            cols = ", ".join(f"{bucket_exprs(sh, self.time_col)[0]} AS _{sh}_key" for sh in lateral)
            self.edits.append((end, end, f", LATERAL (SELECT {cols})"))
        for m, (name, s, e) in found:
            p, sh = m.start(), m.group(1).lower()
            key, label = bucket_exprs(sh, self.time_col)
            if sh in lateral:
                key, label = f"_{sh}_key", f"date_format(_{sh}_key, '{_TIME_BUCKETS[sh][1]}')"
            if name == "SELECT":
                item = next(t for a, b, t in select_items if a <= p < b)
                new = f"{label} AS {m.group(1)}" if item == m.group(0) else label
            elif name == "GROUP":
                item = next(t for a, b, t in items(s, e, r"GROUP\s+BY") if a <= p < b)
                before = self.flat[:p].rstrip()[-1:]
                after = self.flat[m.end():].lstrip()[:1]
                grouping = re.match(r"(ROLLUP|CUBE|GROUPING\s+SETS)\b", item, re.IGNORECASE)
                bare = item == m.group(0) or (grouping and before in "(," and after in ",)")
                new = key if bare else label
            elif name == "PRE" or (name in _ALIAS_CLAUSES and sh in aliased):
                continue  # a statement prefix, or the SELECT-list alias
            else:
                new = label
            self.edits.append((p, m.end(), new))
        return aliased | (sources if star else set())


def rewrite_time_buckets(sql: str, time_col: str = "time") -> str:
    """``time_date`` / ``time_month`` / ``time_year`` → typed time
    buckets, per query block.

    A GROUP BY item that is a shorthand becomes the typed key (a DATE:
    ``CAST(CAST(time AS TIMESTAMP) AS DATE)``, ``trunc``'d to the month
    or year), so the aggregate hashes 4 bytes a row and formats the
    label once per group. A bare shorthand in the block's SELECT list
    becomes ``date_format(<key>, fmt) AS <shorthand>``; HAVING and ORDER
    BY then name that alias, and every other occurrence (WHERE, inside
    expressions) becomes ``date_format(<key>, fmt)``. The labels equal
    ``date_format(time, fmt)`` for TIMESTAMP, TIMESTAMP_NTZ, DATE and
    ISO-string time columns in any session time zone.

    A block with a HAVING clause whose ORDER BY (or SORT, CLUSTER,
    DISTRIBUTE BY) names a shorthand it does not select adds the key to
    its FROM as ``LATERAL (SELECT <key> AS _<shorthand>_key)`` and uses
    that column throughout, since Spark resolves such an ORDER BY only
    through a grouping column.

    In a block that reads a relation outputting the shorthand as a
    column (a subquery or CTE that selected it), the shorthand is that
    column and stays as written."""
    if not _SHORTHAND.search(sql):
        return sql
    return _BucketRewrite(sql, time_col).apply()


def rewrite(sql: str, time_col: str = "time") -> str:
    """Full pre-pass: geo entities → bboxes, quoted agg args → named
    aggregates, time-bucket shorthands → typed keys and labels."""
    out = rewrite_geo_predicates(sql)
    out = rewrite_quoted_agg_args(out)
    out = rewrite_time_buckets(out, time_col=time_col)
    return out


def run_query(spark: SparkSession, sql: str, time_col: str = "time") -> DataFrame:
    """Rewrite + execute. Views must already be registered
    (catalog.register_views or spark.read...createOrReplaceTempView)."""
    rewritten = rewrite(sql, time_col=time_col)
    if sqlglot is not None:  # validate early with a real parser when present
        sqlglot.parse_one(rewritten)
    return spark.sql(rewritten)
