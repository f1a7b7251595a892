"""Incremental SHACL validation over additive deltas — the "Re-" idea applied
to crawl increments.

The reference reduces validation by scoping each run to the shapes/paths the
merge actually touched (/root/reference/ReSHACL/re_shacl.py's reduced-
validation strategy, one static graph).  Here the same reduction is applied
along the TIME axis: after ``pipeline.fuse_delta`` folds a crawl increment
into a closed base KG, only the focus nodes the delta can influence are
re-validated, and their fresh verdicts replace the stale rows of the previous
report.  Everything the delta cannot reach keeps its old verdict unchanged —
for a web-scale KG where a daily crawl touches a fraction of a percent of the
graph, re-validation cost tracks |delta|, not |graph|.

Affected-focus derivation (delta is ADDITIVE — the fuse pipeline only grows
the graph):

* every delta subject — its value set at any forward path may have grown
  (counts, facets, pairs, closed);
* every delta resource object — inverse paths and ``sh:targetObjectsOf``
  make it a focus whose values changed;
* sh:node widening: a focus conforms/violates through the conformance of its
  referenced VALUES, so any node whose referenced value is affected is
  affected too — one reverse hop per shape-reference DAG level, walking the
  referencing paths backwards (ref-DAG-depth rounds of one join each).

Complex ``sh:path`` expressions (sequence/closure), sh:sparql constraints
and SHACL-AF sh:select targets can propagate an edge insertion to foci
arbitrarily far away, so their presence falls back to full re-validation —
honestly gated, not silently wrong.

Scale shape: the affected set is |delta|-proportional; the restricted
``validate(_focus_subset=...)`` call shrinks the target grid, the values join
and every aggregation to that slice, while sh:node conforming sets stay
global (computed by the engine's unrestricted recursion) so restricted
verdicts equal full-run verdicts row for row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from re_shacl_spark.query import Path as PathExpr
from re_shacl_spark.reasoning.tbox import TBoxIndex
from re_shacl_spark.validate.engine import ValidationReport, _all_pcs, _sub_pcs, validate
from re_shacl_spark.validate.shapes import NodeShape


def _affected_foci(
    full: DataFrame, delta: DataFrame, shapes: list[NodeShape]
) -> DataFrame:
    """Nodes whose validation verdict the additive delta can change."""
    base_nodes = (
        delta.select(F.col("s").alias("node"))
        .unionByName(
            delta.filter(~F.col("is_lit")).select(F.col("o").alias("node"))
        )
        .distinct()
    )
    # sh:class widening: a focus verdict depends on the TYPES of its values,
    # so a delta (v, rdf:type, c) row changes foci pointing at v through any
    # class-constrained path (base constraint or any or/and/xone branch or
    # qualifiedValueShape — _sub_pcs covers them all) even though no edge of
    # those foci changed.  One reverse hop over the class paths seeded from
    # the delta's rdf:type SUBJECTS; the sh:node loop below then propagates
    # the widening up the reference DAG.  (Other value-facets — datatype,
    # nodeKind, pattern, range — are value-intrinsic: an additive delta can
    # only change them by adding an edge, which marks the focus directly.)
    _RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    class_paths = [
        (pc.path, pc.inverse)
        for ns in shapes
        for pc in _all_pcs(ns)
        if isinstance(pc.path, str) and any(x.clazz for x in _sub_pcs(pc))
    ]
    if class_paths:
        typed = delta.filter(F.col("p") == _RDF_TYPE).select(
            F.col("s").alias("node")
        ).distinct()
        hops = []
        for path, inverse in class_paths:
            e = full.filter(F.col("p") == path)
            src, dst = ("o", "s") if not inverse else ("s", "o")
            hops.append(
                e.join(
                    typed.withColumnRenamed("node", src), src, "left_semi"
                ).select(F.col(dst).alias("node"))
            )
        widened = hops[0]
        for h in hops[1:]:
            widened = widened.unionByName(h)
        base_nodes = base_nodes.unionByName(widened).distinct()
    # sh:node widening: referencing paths walked backwards, once per ref level
    ref_paths: list[tuple[str, bool]] = []
    depth = 0
    for ns in shapes:
        for pc in _all_pcs(ns):
            if any(x.node_ref for x in _sub_pcs(pc)) and isinstance(pc.path, str):
                ref_paths.append((pc.path, pc.inverse))
                depth = max(depth, 1)
    # nested shape references deepen the walk to the ref-DAG depth
    if ref_paths:
        ref_ids = {
            x.node_ref
            for ns in shapes
            for pc in _all_pcs(ns)
            for x in _sub_pcs(pc)
            if x.node_ref
        }
        by_id = {ns.shape_id for ns in shapes}
        depth = max(depth, len(ref_ids & by_id))
    affected = base_nodes
    for _ in range(depth):
        steps = []
        for path, inverse in ref_paths:
            e = full.filter(F.col("p") == path)
            src, dst = ("o", "s") if not inverse else ("s", "o")
            steps.append(
                e.join(
                    affected.withColumnRenamed("node", src), src, "left_semi"
                ).select(F.col(dst).alias("node"))
            )
        if not steps:
            break
        widened = steps[0]
        for s_ in steps[1:]:
            widened = widened.unionByName(s_)
        new = widened.distinct().join(affected, "node", "left_anti")
        if new.isEmpty():
            break
        affected = affected.unionByName(new).distinct()
    return affected.localCheckpoint(eager=True)


def validate_delta(
    spark: SparkSession,
    base: DataFrame,
    delta: DataFrame,
    shapes: list[NodeShape],
    base_report: ValidationReport,
    tbox: TBoxIndex | None = None,
    with_details: bool = False,
) -> ValidationReport:
    """Validate ``base ∪ delta`` by re-checking only the delta-affected foci
    and splicing their fresh verdicts into ``base_report``.

    ``base_report`` must be the report of ``validate(spark, base, shapes)``
    (same shapes, same detail mode).  The result equals a full
    ``validate(spark, base ∪ delta, shapes)`` row for row.
    """
    full = base.unionByName(delta)
    # sh:sparql constraints and SHACL-AF sh:select targets join arbitrary
    # patterns — a delta edge can flip a solution (or pull a node into the
    # target set) two hops from any focus the reverse-path widening below
    # can see, so they have no local affected set either; validate fully
    sparql = any(
        ns.sparql_constraints or ns.sparql_targets
        or any(pc.sparql_constraints for pc in ns.properties)
        for ns in shapes
    )
    complex_paths = any(
        isinstance(pc.path, PathExpr) for ns in shapes for pc in _all_pcs(ns)
    )
    # a sequence/closure path can carry an edge insertion to arbitrarily
    # distant foci, and a subclass-axiom delta re-scopes targets globally —
    # neither has a local affected set; validate fully (mirrors fuse_delta's
    # TBox fallback)
    tbox_delta = not delta.filter(
        F.col("p") == "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    ).isEmpty()
    if sparql or complex_paths or tbox_delta:
        return validate(spark, full, shapes, tbox, with_details=with_details)
    affected = _affected_foci(full, delta, shapes)
    fresh = validate(
        spark, full, shapes, tbox, with_details=with_details, _focus_subset=affected
    )
    kept = base_report.violations.join(
        affected.withColumnRenamed("node", "focus"), "focus", "left_anti"
    )
    merged = kept.unionByName(fresh.violations).localCheckpoint(eager=True)
    return ValidationReport(merged, merged.isEmpty(), len(shapes))
