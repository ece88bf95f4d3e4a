"""Registry-wide plan-audit gate (tools/plan_audit.py): no query may
regress into a cartesian join, a row-at-a-time Python UDF, or an
unlisted Python stage. The per-query plan tests in
test_plan_properties.py pin specific *good* shapes; this pins the
absence of the *bad* ones across the whole surface at once."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from plan_audit import audit_plan, run_audit  # noqa: E402


def test_registry_has_no_plan_hazards(spark, sf_dir, registry_explains):
    audits = run_audit(spark, sf_dir, explained=registry_explains)
    assert len(audits) >= 45  # every non-streaming registry entry
    bad = {a.name: a.hazards for a in audits if a.hazards}
    assert not bad, f"plan hazards: {bad}"


def test_audit_detects_each_hazard_class():
    cart = audit_plan("q", "CartesianProduct\n")
    assert any("CartesianProduct" in h for h in cart.hazards)
    bnlj = audit_plan("q", "BroadcastNestedLoopJoin BuildRight\n")
    assert any("BroadcastNestedLoopJoin" in h for h in bnlj.hazards)
    # an allowlisted BNLJ is reported as a note, not a hazard
    ok = audit_plan("orders_profile", "BroadcastNestedLoopJoin BuildRight\n")
    assert not ok.hazards and ok.notes
    py = audit_plan("q", "BatchEvalPython [f(x)]\n")
    assert any("row-at-a-time" in h for h in py.hazards)
    pandas = audit_plan("q", "MapInPandas f\n")
    assert any("outside the allowlist" in h for h in pandas.hazards)
    allowed = audit_plan("multimodal_decode_features", "MapInPandas f\n")
    assert not allowed.hazards


def test_audit_extracts_shape_metrics():
    simple = (
        "Exchange hashpartitioning(k, 32)\n"
        "ReusedExchange\n"
        "*(1) BroadcastHashJoin k\n*(2) SortMergeJoin j\n"
        "*(1) ColumnarToRow\n"
        "FileScan parquet x\n"
    )
    formatted = "(1) Scan parquet\nReadSchema: struct<a:int,b:string>\n"
    a = audit_plan("q", simple, formatted)
    assert a.exchanges == 1
    assert a.reused_exchanges == 1
    assert a.joins == {"BroadcastHashJoin": 1, "SortMergeJoin": 1}
    assert a.scans == 1 and a.scan_widths == [2]
    assert a.codegen_spans == 2


def test_plans_md_lists_every_python_stage():
    from plan_audit import PYTHON_OUTSIDE_AUDIT, _render_markdown

    audits = [
        audit_plan("token_heavy_hitters", "MapInPandas f\n"),
        audit_plan("seq_packing_manifest", "FlatMapGroupsInPandas f\n"),
        audit_plan("orders_rollup", "HashAggregate\n"),
    ]
    md = _render_markdown(audits, "sf")
    section = md[md.index("## Executor-side Python stages"):]
    assert "| MapInPandas | token_heavy_hitters |" in section
    assert "| FlatMapGroupsInPandas | seq_packing_manifest |" in section
    assert "orders_rollup" not in section
    for kind, where, why in PYTHON_OUTSIDE_AUDIT:
        assert f"| {kind} | {where} | {why} |" in section
