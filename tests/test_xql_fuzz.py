"""CI smoke for the xql differential fuzzer (tools/xql_fuzz.py).

The full adversarial runs are tool invocations (700+ queries per seed,
committed summary in ROUND11_NOTES.md); this pins a fixed-seed 40-query
slice into the suite so a rewriter regression (literal guard, bucket
expansion, default agg naming, geo bbox constants) fails CI, not just
the next manual fuzz session. Also pins the grammar's determinism so a
failing seed from a tool run reproduces exactly under pytest."""

from __future__ import annotations

import random
import re

import duckdb
import pytest

from tools.xql_fuzz import Gen, build_views, run_fuzz


@pytest.fixture(scope="module")
def duck(spark, sf_dir):
    con = duckdb.connect()
    build_views(spark, sf_dir, con)
    yield con
    con.close()


def test_fuzz_slice_agrees_with_duckdb(spark, duck):
    failures = run_fuzz(spark, duck, n=40, seed=2024)
    assert failures == [], failures[:3]


def test_grammar_is_seed_deterministic(duck):
    ets = [r[0] for r in duck.execute("SELECT DISTINCT event_type FROM weather ORDER BY 1").fetchall()]
    a = [Gen(random.Random(7), ets).query() for _ in range(30)]
    b = [Gen(random.Random(7), ets).query() for _ in range(30)]
    assert a == b


def test_grammar_covers_the_rewrite_surface(duck):
    """The fuzz corpus must actually contain the constructs under test —
    a grammar drift that stops emitting geo entities or quoted agg args
    would silently hollow out the differential coverage."""
    ets = [r[0] for r in duck.execute("SELECT DISTINCT event_type FROM weather ORDER BY 1").fetchall()]
    g = Gen(random.Random(3), ets)
    corpus = " \n".join(x for x, _ in (g.query() for _ in range(300)))
    assert "city = '" in corpus or "country = '" in corpus
    assert "AVG('" in corpus or "SUM('" in corpus or "MIN('" in corpus
    assert "time_date" in corpus and "time_month" in corpus
    assert "GROUP BY time_year" in corpus
    # a bucket selected inside a derived table, ordered on outside
    assert re.search(r"GROUP BY event_type, (time_\w+)\) s ORDER BY event_type, \1", corpus)
    assert "event_type <> '" in corpus  # literal traps present
    assert "GROUP BY" in corpus and "LIMIT" in corpus
