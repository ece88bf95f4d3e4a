"""Registry-wide physical-plan audit — the mechanical version of
"`.explain` every operator and iterate until it's the plan you'd want".

For every query in the registry this renders the formatted physical
plan and extracts the properties that decide whether the plan survives
a 100 TB / 1000-executor run:

* **hazards** (fail the audit):
  - ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — an all-pairs
    physical join anywhere means some logical join lost its equi-keys;
  - row-at-a-time Python (``BatchEvalPython``) anywhere, or Arrow
    Python stages (``ArrowEvalPython``/``MapInPandas``/
    ``FlatMapGroupsInPandas``) outside the explicit allowlist of
    Python-by-design operators;
  - a parquet scan with an empty pushed-filter list while the plan
    contains a post-scan ``Filter`` over that relation's columns is
    *reported* (not failed — filters on derived exprs can't push).
* **shape metrics** (reported, tracked in PLANS.md): shuffle-exchange
  count, join strategy mix, scan count + read-schema width, and
  whole-stage-codegen span count.

Usage:  python tools/plan_audit.py [sf_dir] [query ...]
Writes PLANS.md at the repo root and exits 1 on any hazard.
"""

from __future__ import annotations

import os
import re
import sys
from dataclasses import dataclass, field

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Python stages that are Python on purpose (Arrow-batched, documented).
PYTHON_BY_DESIGN = {
    "multimodal_decode_features": {"MapInPandas"},
    "multimodal_frame_sample": {"MapInPandas"},
    # Misra-Gries is stateful-imperative by nature; the stage is
    # Arrow-batched (value_counts per batch + O(k log k) shrink), emits
    # <= k rows per task, and exists precisely to DELETE the full-stream
    # shuffle — see operators/heavyhitters.py.
    "token_heavy_hitters": {"MapInPandas"},
    # first-fit-decreasing bin packing is sequential per shard by
    # nature; the grouped Arrow stage sees only (pid, doc_id, n_tokens)
    # longs (token counts fold JVM-side, text never crosses the
    # boundary) and emits doc-bounded pack manifests — see
    # operators/packing.py.
    "seq_packing_manifest": {"FlatMapGroupsInPandas"},
}

# Executor-side Python stages the audited plans cannot show: the
# streaming drains are skipped (SKIP_TAGS below) and two operators sit
# in no registry plan. With the audited Python stages they make up the
# list in README's "Architecture" paragraph.
PYTHON_OUTSIDE_AUDIT = (
    (
        "FlatMapGroupsInPandasWithState",
        "stateful streaming funnel (`streaming/stateful.py`)",
        "streaming drain, skipped by the audit",
    ),
    (
        "MapInPandas",
        "BPE encoder (`operators/bpe.encode_words`)",
        "no registry plan; `bpe_encoded_profile` encodes in Catalyst",
    ),
    (
        "MapInPandas",
        "bulk-index transport (`sources/sinks.py`)",
        "no registry plan",
    ),
)

# BroadcastNestedLoopJoin is a hazard by default (a big-big non-equi
# join is a cluster-killer), but two shapes are the *intended* plan:
BNLJ_BY_DESIGN = {
    # 1-row x 1-row scalar-aggregate attach: both sides are single-row
    # aggregates, the "join" moves one row.
    "orders_profile": "scalar-aggregate 1x1 cross join",
    # two of the same: base-agg row broadcast onto the scan for the
    # rank-counting pass, then the two 1-row aggregates joined 1x1
    "approx_lineitem_stats": "scalar-aggregate 1-row broadcast attach",
    # brute-force ANN IS corpus x broadcast(query set): the corpus is
    # scanned exactly once and every comparison is against a broadcast
    # side bounded by N_QUERIES; the IVF variant in the same plan
    # carries the label equi-key and hash-joins.
    "ann_topk": "broadcast-query brute-force ANN baseline",
    # recall measurement contains the same brute-force baseline by
    # definition (it IS the ground truth being compared against); the
    # ivf/lsh sides carry equi-keys and hash-join.
    "ann_recall": "broadcast-query brute-force ANN ground truth",
    # BM25 corpus stats (N, Σdl, per-term df) are ONE aggregated row
    # broadcast back onto the per-doc scores — the join moves one row.
    "doc_fulltext_search": "scalar-stats 1-row broadcast attach",
    # same one-pass BM25 plan, different analyzer modes (standard /
    # porter) — identical 1-row stats attach shape.
    "doc_fulltext_standard": "scalar-stats 1-row broadcast attach",
    "doc_fulltext_porter": "scalar-stats 1-row broadcast attach",
    # the two audit scalars (leaky_clusters, naive_leaky_clusters) are
    # single aggregated rows broadcast onto the 3-row split summary.
    "leakage_safe_splits": "scalar-stats 1-row broadcast attach",
    # four 1-row aggregates (two KMV top-k maxima, exact distincts,
    # the sorted sample array) cross-joined into the single output row.
    "kmv_sketch_stats": "scalar-stats 1-row broadcast attach",
    # per key column: the merged estimate, the from-scratch estimate
    # and the exact distinct count are each 1-row aggregates joined
    # 1x1x1 into that key's output row.
    "kmv_incremental_merge": "scalar-stats 1-row broadcast attach",
    # normalizing total attached to |sources| rows
    "mixture_alpha_sampling": "scalar-stats 1-row broadcast attach",
    # the global hour-span bounds (1 aggregated row) broadcast onto
    # the distinct-entity table to generate the gap-fill spine
    "events_gap_fill_hourly": "scalar-bounds 1-row broadcast attach",
    # corpus-size normalizer (1 aggregated row) broadcast onto the
    # per-doc typicality scores
    "doc_char_trigram_typicality": "scalar-stats 1-row broadcast attach",
    # two 1-row attaches: the BM25 corpus stats (as in the fulltext
    # entries) and the single query VECTOR broadcast onto the
    # embedding scan
    "doc_hybrid_retrieval": "scalar-stats 1-row broadcast attach",
    # the same parameterized plan restricted to the overlap-proof
    # corpus slice — identical 1-row attach shape
    "doc_hybrid_overlap_slice": "scalar-stats 1-row broadcast attach",
    # the bigram type total (1 aggregated row) broadcast onto the
    # bigram count table for the continuation-probability denominator
    "lm_kn_bigram_probs": "scalar-stats 1-row broadcast attach",
    # same 1-row bigram-type-total attach feeding the unigram level
    "lm_kn_trigram_probs": "scalar-stats 1-row broadcast attach",
    # the exact-L2 ground-truth side is the deliberate ann-family
    # brute force: corpus x broadcast(N_QUERIES query vectors), one
    # corpus scan, O(corpus) not O(corpus^2)
    "ann_pq_recall": "brute-force ground truth vs broadcast query set",
    # same 1-row type-total attach feeding the per-doc scoring join
    "lm_doc_typicality": "scalar-stats 1-row broadcast attach",
    # the deliberate ann-family brute force one more time: corpus x
    # broadcast(N_ANCHORS anchors) with a label-inequality predicate —
    # one corpus scan, the non-equi condition rides the bounded
    # broadcast side
    "hard_negative_mining": "broadcast-anchor contrastive mining",
    # two 1-row instance-total attaches (n_uni, n_bi) onto the
    # vocab-keyed lift computation
    "lm_bigram_lift": "scalar-stats 1-row broadcast attach",
    # each audit check is a 1-row violation aggregate cross-joined to
    # a 1-row table total — seven 1x1 attaches unioned
    "dq_referential_audit": "scalar-aggregate 1x1 cross join per check",
    # two shapes, both bounded: the 1-row (|E|, W_total) edge-threshold
    # attach onto the pair-bounded undirected edge table, and the final
    # assembly of four 1-row scalar aggregates (nodes/edges/wedges/
    # triangles) by 1x1 cross joins; the wedge self-join and the
    # closing semi-join are equi-keyed and never nested-loop
    "events_triangle_census": "scalar-stats 1-row broadcast attach",
    # same 1-row (|E|, W_total) threshold attach onto the edge table
    # (present pre-AQE even when the runtime plan folds it)
    "events_bfs_reach": "scalar-stats 1-row broadcast attach",
    # the (total, groups) 1-row stats aggregate attached onto the
    # group-bounded counts table for fraction/skew_ratio
    "events_user_skew_report": "scalar-stats 1-row broadcast attach",
    # five 1-row invariant aggregates (corpus stats, pack stats,
    # dup/missing/phantom counts) assembled 1x1 into the report row
    "seq_packing_manifest": "scalar-aggregate 1x1 cross join",
    # three 1-row aggregates (build-key count, bits-set count, probe
    # report) assembled 1x1 into the single report row; the K probe
    # joins themselves are word-keyed equi-joins on the broadcast
    # constant-size filter
    "bloom_prejoin_report": "scalar-aggregate 1x1 cross join",
    # the power-iteration iterate flows as a 1-row broadcast array
    # attach per chained step (r12: literal-free steps so the codegen
    # cache compiles one step shape; no driver round-trips) — each
    # "join" moves one row
    "pca_power_iteration": "1-row iterate broadcast attach per step",
    # the isotonic minimax (fit(k) = max_i min_j mean(i..j)) runs as
    # triangular range self-joins over the RELIABILITY-BIN table —
    # bounded by the classifier's fixed-point score domain (B <= ~30
    # rows), never the corpus; B^2 pairs and B^3 triples are constant
    # work on top of the single binning scan
    "classifier_isotonic_calibration": (
        "bin-domain-bounded triangular self-joins (B <= ~30)"
    ),
    # same iterate attaches, plus the finished component's 1-row
    # (varr, q) attach for each deflation projection
    "pca_topk_deflation": "1-row iterate/component broadcast attach",
}

# Queries whose builders execute work (streaming drains) rather than
# returning a lazy plan — auditing them would re-run the stream and the
# resulting plan is just a memory-sink scan, so they are skipped.
SKIP_TAGS = {"streaming", "stateful"}


@dataclass
class PlanAudit:
    name: str
    exchanges: int = 0
    reused_exchanges: int = 0
    joins: dict[str, int] = field(default_factory=dict)
    scans: int = 0
    scan_widths: list[int] = field(default_factory=list)
    codegen_spans: int = 0
    python_stages: list[str] = field(default_factory=list)
    hazards: list[str] = field(default_factory=list)
    notes: list[str] = field(default_factory=list)


_JOIN_KINDS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
_PY_KINDS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
)


def audit_plan(name: str, simple: str, formatted: str | None = None) -> PlanAudit:
    """Extract scale-relevant properties from explain output.

    ``simple`` (EXPLAIN's default mode) carries inline node arguments —
    ``Exchange hashpartitioning(...)``, codegen span ids ``*(n)`` — so
    shuffle/join/codegen shape is parsed from it. ``formatted`` carries
    the per-scan detail blocks (``ReadSchema``/``PushedFilters``) used
    for pruning checks; defaults to ``simple`` when not provided.
    """
    formatted = formatted if formatted is not None else simple
    a = PlanAudit(name=name)
    a.exchanges = len(re.findall(r"\bExchange (hash|range)partitioning", simple))
    a.reused_exchanges = simple.count("ReusedExchange")
    for kind in _JOIN_KINDS:
        n = simple.count(kind)
        if n:
            a.joins[kind] = n
    a.scans = len(re.findall(r"FileScan parquet|Scan parquet", simple))
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted):
        body = m.group(1).strip()
        a.scan_widths.append(0 if not body else body.count(",") + 1)
    a.codegen_spans = len(set(re.findall(r"\*\((\d+)\)", simple)))

    plan = simple
    for kind in _PY_KINDS:
        if kind in plan:
            a.python_stages.append(kind)

    # Hazards -----------------------------------------------------------
    if "CartesianProduct" in plan:
        a.hazards.append("CartesianProduct: all-pairs join in the physical plan")
    if "BroadcastNestedLoopJoin" in plan:
        if name in BNLJ_BY_DESIGN:
            a.notes.append(f"BNLJ by design: {BNLJ_BY_DESIGN[name]}")
        else:
            a.hazards.append(
                "BroadcastNestedLoopJoin: non-equi join fell off the hash path"
            )
    allowed_py = PYTHON_BY_DESIGN.get(name, set())
    for kind in a.python_stages:
        if kind == "BatchEvalPython":
            a.hazards.append("BatchEvalPython: row-at-a-time Python UDF")
        elif kind not in allowed_py:
            a.hazards.append(f"{kind}: Python stage outside the allowlist")

    # Reported-only: scans with no pushed filters while a Filter node
    # exists (derived-expression filters legitimately can't push).
    if "PushedFilters: []" in formatted and "Filter" in formatted:
        a.notes.append("scan with empty PushedFilters under a Filter node")
    return a


def _render_markdown(
    audits: list[PlanAudit], sf_dir: str, skipped: list[str] | None = None
) -> str:
    lines = [
        "# PLANS — physical-plan audit of every registry query",
        "",
        f"Generated by `tools/plan_audit.py` against `{sf_dir}`.",
        "Hazard classes (fail the audit): cartesian/nested-loop joins,",
        "row-at-a-time Python, unlisted Python stages. Shape columns are",
        "the scale levers: shuffles (exchanges), join strategy, scan",
        "count and pruned read-schema width. (Codegen spans are not",
        "visible in a pre-execution AQE explain, so they are pinned by",
        "tests, not listed here.)",
        "",
        "| query | shuffles | joins | scans (cols) | python | hazards |",
        "|---|---|---|---|---|---|",
    ]
    for a in audits:
        joins = (
            ", ".join(f"{k.replace('Join','')}×{v}" for k, v in a.joins.items())
            or "—"
        )
        widths = ",".join(str(w) for w in a.scan_widths) or "—"
        py = ", ".join(a.python_stages) or "—"
        hz = "; ".join(a.hazards) if a.hazards else "none"
        if a.notes:
            hz += " (" + "; ".join(a.notes) + ")"
        reuse = f" (+{a.reused_exchanges} reused)" if a.reused_exchanges else ""
        lines.append(
            f"| {a.name} | {a.exchanges}{reuse} | {joins} | "
            f"{a.scans} ({widths}) | {py} | {hz} |"
        )
    total_hazards = sum(len(a.hazards) for a in audits)
    lines += [
        "",
        f"**{len(audits)} plans audited, {total_hazards} hazards.**",
        "",
    ]
    lines += _render_python_stages(audits)
    if skipped:
        lines += [
            f"Registry reconciliation: {len(audits)} of "
            f"{len(audits) + len(skipped)} registry entries audited. "
            f"Skipped by design ({', '.join(sorted(skipped))}): their "
            "builders execute a streaming drain rather than returning a "
            "lazy plan, so auditing would re-run the stream and the "
            "resulting plan is just a memory-sink scan (see SKIP_TAGS "
            "in tools/plan_audit.py). Their physical behavior is pinned "
            "by the streaming parity tests instead.",
            "",
        ]
    return "\n".join(lines)


def _render_python_stages(audits: list[PlanAudit]) -> list[str]:
    by_kind: dict[str, list[str]] = {}
    for a in audits:
        for kind in a.python_stages:
            by_kind.setdefault(kind, []).append(a.name)
    lines = [
        "## Executor-side Python stages",
        "",
        "Every stage where Python runs on the executors. In the audited",
        "plans (each is on the `PYTHON_BY_DESIGN` allowlist, or it would",
        "be a hazard):",
        "",
        "| stage | queries |",
        "|---|---|",
    ]
    for kind in sorted(by_kind):
        lines.append(f"| {kind} | {', '.join(sorted(by_kind[kind]))} |")
    lines += [
        "",
        "Outside the audited plans (`PYTHON_OUTSIDE_AUDIT`):",
        "",
        "| stage | operator | why the audit cannot see it |",
        "|---|---|---|",
    ]
    for kind, where, why in PYTHON_OUTSIDE_AUDIT:
        lines.append(f"| {kind} | {where} | {why} |")
    lines.append("")
    return lines


@dataclass
class ExplainedPlan:
    """A builder's final plan plus every plan it checkpointed, as
    ``(simple, formatted)`` explain strings."""

    simple: str
    formatted: str
    pre_checkpoint: list[tuple[str, str]]


def _explain_pair(spark, df) -> tuple[str, str]:
    modes = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    qe = df._jdf.queryExecution()
    return (
        qe.explainString(modes.fromString("simple")),
        qe.explainString(modes.fromString("formatted")),
    )


def explain_builder(spark, builder, sf_dir: str) -> ExplainedPlan:
    """Run one builder and explain its plan INCLUDING the DAGs upstream
    of every ``localCheckpoint`` boundary.

    A checkpoint truncates lineage, so the final plan starts at a
    checkpoint-RDD scan and everything upstream — where an allowlisted
    (or smuggled) Python stage may live — is structurally invisible to
    a plain explain (the r10 blind spot: token_heavy_hitters' audited
    row showed no Python stage because its MapInPandas pass sits
    before the checkpoint). While the builder runs, every
    ``localCheckpoint`` call first records its pre-checkpoint plan.
    """
    # patch the CONCRETE class: in Spark 4 pyspark.sql.DataFrame is the
    # abstract base and classic.DataFrame overrides localCheckpoint, so
    # patching the base never intercepts anything
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # older pyspark: one concrete class
        from pyspark.sql import DataFrame

    real = DataFrame.localCheckpoint
    captured: list[tuple[str, str]] = []

    def recording(self, eager: bool = True):
        try:
            captured.append(_explain_pair(spark, self))
        except Exception:
            pass  # never let plan rendering break the build itself
        return real(self, eager)

    DataFrame.localCheckpoint = recording
    try:
        df = builder(spark, sf_dir)
    finally:
        DataFrame.localCheckpoint = real
    return ExplainedPlan(*_explain_pair(spark, df), pre_checkpoint=captured)


def audit_explained(name: str, plan: ExplainedPlan) -> PlanAudit:
    """Audit a final plan with each pre-checkpoint subplan audited under
    the SAME name (so the by-design allowlists apply) and its hazards,
    Python stages and shape metrics folded into the row — a
    BatchEvalPython hidden behind a checkpoint fails the audit
    (tests/test_plan_audit_checkpoint.py pins this)."""
    a = audit_plan(name, plan.simple, plan.formatted)
    for sub_simple, sub_formatted in plan.pre_checkpoint:
        sub = audit_plan(name, sub_simple, sub_formatted)
        a.exchanges += sub.exchanges
        a.reused_exchanges += sub.reused_exchanges
        for k, v in sub.joins.items():
            a.joins[k] = a.joins.get(k, 0) + v
        a.scans += sub.scans
        a.scan_widths += sub.scan_widths
        a.python_stages = sorted(
            set(a.python_stages) | set(sub.python_stages)
        )
        a.hazards += [h for h in sub.hazards if h not in a.hazards]
        a.notes += [n for n in sub.notes if n not in a.notes]
    if plan.pre_checkpoint:
        a.notes.append(
            f"{len(plan.pre_checkpoint)} pre-checkpoint subplan(s) folded in"
        )
    return a


def audit_query(spark, name: str, builder, sf_dir: str) -> PlanAudit:
    return audit_explained(name, explain_builder(spark, builder, sf_dir))


def run_audit(
    spark,
    sf_dir: str,
    only: set[str] | None = None,
    skipped: list[str] | None = None,
    explained: dict[str, ExplainedPlan] | None = None,
) -> list[PlanAudit]:
    """Audit the registry in order. ``explained`` supplies plans already
    built by ``explain_builder`` (by name) so a caller that needs them
    for other checks builds each entry once."""
    from github_data_pipeline_spark.plans import all_plans

    registry = all_plans()
    audits: list[PlanAudit] = []
    for q in registry:
        if only and q.name not in only:
            continue
        if SKIP_TAGS & set(q.tags):
            if skipped is not None:
                skipped.append(q.name)
            continue
        plan = (
            explained[q.name]
            if explained is not None
            else explain_builder(spark, q.builder, sf_dir)
        )
        audits.append(audit_explained(q.name, plan))
    return audits


def main() -> int:
    from github_data_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:]) or None

    spark = get_spark("plan-audit", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    skipped: list[str] = []
    audits = run_audit(spark, sf_dir, only, skipped=skipped)

    md = _render_markdown(audits, sf_dir, skipped=skipped if only is None else None)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    if only is None:
        with open(out, "w", encoding="utf-8") as fh:
            fh.write(md)
        print(f"wrote {out}")
    bad = [a for a in audits if a.hazards]
    for a in bad:
        for h in a.hazards:
            print(f"HAZARD {a.name}: {h}")
    print(f"{len(audits)} plans audited, {sum(len(a.hazards) for a in bad)} hazards")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
