"""Tier-1 slice of the physical-plan audit (scripts/explain_audit.py):
the rewritten ANN queries must keep every plan marker the audit checks
for them, so a plan regression fails here and not only in BENCH/plans.md."""

from __future__ import annotations

import importlib.util
import os

import pytest
from test_oracle_parity import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str, rel: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def audit():
    return _load("explain_audit", os.path.join("scripts", "explain_audit.py"))


@pytest.fixture(scope="module")
def qmap():
    entry = _load("spark_entry_audit", "__spark_entry__.py")
    return {**entry.queries(), **entry.extra_queries()}


@pytest.mark.parametrize("name", ["ann_pq_topk", "ann_sq8_topk"])
def test_plan_keeps_audit_markers(name, spark, audit, qmap):
    plan = audit.plan_of(qmap[name](spark, SF_DIR))
    broken = [pat for pat, ok in audit.verdicts(plan, audit.CHECKS[name])
              if not ok]
    assert not broken, f"{name}: plan breaks audit markers {broken}"
