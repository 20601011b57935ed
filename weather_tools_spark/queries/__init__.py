"""Query registry — the correctness surface of the engine.

Every operator the engine claims (SURVEY.md §2 plus the LLM-data-pipeline
extensions) is exposed here as a named query:

- ``SPARK[name]``  : Callable[(SparkSession, sf_dir) -> DataFrame]
- ``ORACLE[name]`` : equivalent ANSI SQL for the DuckDB oracle, or absent
  for genuinely non-SQL-expressible operators (approximate/stateful ones),
  which the driver then checks rows-only.

Column-naming contract: aggregates/computed columns are aliased
identically in the Spark plan and the oracle SQL (the driver hashes
values under sorted column names). Float aggregates are rounded on BOTH
sides (same literal decimals) so partial-aggregation order can't flip a
hash bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

SPARK: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# Queries whose CHECK changed this round (new or upgraded oracle, or a
# rewritten execution path): forced to the very front of the driver
# ordering so the new gate actually runs this round even though an old
# clean verdict exists for the name.
CHECK_CHANGED: list[str] = [
    # Re-add a name here ONLY when its oracle or execution path changes.
    # (Every earlier entry holds a clean verdict in CORRECTNESS_r*.json,
    # so the list is reset and the rotation window isn't starved.)
]
# A name can be re-listed under several change rationales above (e.g. a
# graph query whose oracle CTE changed AND whose execution path was
# rewritten); dedupe at definition so re-verification tooling never
# double-counts or trips on non-unique names (ADVICE r12).
CHECK_CHANGED = list(dict.fromkeys(CHECK_CHANGED))

# Verification-only queries: each recomputes an approximate operator's
# result AND its exact ground truth (md5-keyed signature replay, banded
# recall, ANN recall, sketch error bounds) to cross-certify the
# approximate path. They are correctness instruments, not production
# pipelines: intentionally ~2x the work of the operator they audit, and
# the recall audits are the queries that need the 16 GiB single-JVM
# heap at sf0.1 (ROUND4_NOTES) — a real deployment should schedule them
# as CI/canary jobs, never as data-plane pipelines. Surfaced in
# `tools/query_cli.py list` as [audit-only]; the bench headline set
# keeps only the cheap md5/heavy-hitter representatives
# (tests/test_registry_tags.py pins that intersection).
AUDIT_ONLY: frozenset[str] = frozenset(
    {
        "dedup_minhash_md5_audit",
        "dedup_winnowing_md5_audit",
        "dedup_simhash_md5_audit",
        "dedup_banded_recall_audit",
        "sim_ann_recall_audit",
        "sketch_error_bounds_audit",
        "text_heavy_hitters_audit",
    }
)


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and optionally its oracle SQL) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in SPARK:
            raise ValueError(f"duplicate query registration: {name}")
        SPARK[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    # Import for registration side-effects; keep modules independent.
    from weather_tools_spark.queries import (  # noqa: F401
        analytics,
        audits,
        codec_gates,
        core_sql,
        core_sql2,
        core_sql3,
        core_sql4,
        dedup,
        events,
        llm_pipeline,
        media,
        pipeline_ops,
        round10,
        round11,
        round11b,
        round12,
        round12b,
        selection,
        sketches,
        stats_ext,
        similarity,
        text,
        xql_shaped,
    )


_load_all()
