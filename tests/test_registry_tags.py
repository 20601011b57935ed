"""Registry tagging invariants.

AUDIT_ONLY marks the verification instruments (md5 signature replays,
banded/ANN recall, sketch error bounds) that cross-certify approximate
operators by recomputing exact ground truth alongside them. They must
never silently leak into — or out of — the bench headline set, because
(a) the recall audits need a 16 GiB single-JVM heap at sf0.1 and would
wreck bench comparability, and (b) the cheap md5/heavy-hitter audits
ARE intentionally benched as steady regression canaries.
"""

from __future__ import annotations

import importlib.util
import os

from weather_tools_spark.queries import AUDIT_ONLY, ORACLE, SPARK

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _headline() -> list[str]:
    spec = importlib.util.spec_from_file_location("bench", os.path.join(REPO, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.HEADLINE


def test_audit_only_names_exist_in_registry():
    missing = AUDIT_ONLY - set(SPARK)
    assert not missing, missing


def test_every_audit_named_query_is_tagged():
    # the "_audit" suffix is the naming convention for verification
    # instruments; an untagged one means the tag set went stale
    audits_by_name = {n for n in SPARK if n.endswith("_audit")}
    assert audits_by_name == AUDIT_ONLY, audits_by_name ^ AUDIT_ONLY


def test_headline_audit_intersection_is_the_intended_set():
    # Only the cheap representatives stay in the bench headline; the
    # heavyweight recall/error-bound audits (16 g heap at sf0.1) must
    # stay out so bench numbers track data-plane throughput.
    intended = {
        "dedup_minhash_md5_audit",
        "dedup_winnowing_md5_audit",
        "dedup_simhash_md5_audit",
        "text_heavy_hitters_audit",
    }
    assert set(_headline()) & AUDIT_ONLY == intended


def test_headline_names_resolve():
    head = _headline()
    unknown = [n for n in head if n not in SPARK]
    assert not unknown, unknown
    assert len(head) == len(set(head)), "duplicate headline entries"


def test_audit_only_queries_keep_their_oracles():
    # audit queries exist to be hash-gated; dropping an oracle would
    # quietly downgrade them to rows-only
    assert AUDIT_ONLY <= set(ORACLE)


def test_driver_order_is_a_permutation_of_the_registry(capsys):
    # __spark_entry__.queries() only reorders: every registered query,
    # each once, bound to its registered function
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    got = mod.queries()
    assert sorted(got) == sorted(SPARK) and len(got) == len(SPARK)
    assert all(got[n] is SPARK[n] for n in got)
    assert "[registry-order]" in capsys.readouterr().err
