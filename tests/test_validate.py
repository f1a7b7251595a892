"""SHACL validation engine against hand-computed oracles (constraint kinds from
the reference's committed shape graphs, SURVEY §2.9)."""

from __future__ import annotations

from re_shacl_spark.model.triples import iri_triple, lit_triple, triples_df, vocab
from re_shacl_spark.validate.engine import validate
from re_shacl_spark.validate.shapes import NodeShape, PropertyConstraint

EX = "http://x.org/"
XSD_INT = vocab.XSD + "integer"
XSD_STR = vocab.XSD + "string"


def _graph(spark):
    rows = [
        iri_triple(EX + "p1", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p2", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p3", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p1", EX + "knows", EX + "p2"),
        iri_triple(EX + "p1", EX + "knows", EX + "p3"),
        lit_triple(EX + "p1", EX + "age", "42", XSD_INT),
        lit_triple(EX + "p2", EX + "age", "young", XSD_STR),
        iri_triple(EX + "p3", EX + "age", EX + "unknown"),  # IRI where literal expected
        lit_triple(EX + "p1", EX + "status", "active", XSD_STR),
        lit_triple(EX + "p2", EX + "status", "retired", XSD_STR),
    ]
    return triples_df(spark, rows)


def _viol(spark, g, shapes):
    rep = validate(spark, g, shapes)
    return {(r.focus, r.constraint, r.value) for r in rep.violations.collect()}, rep


def test_mincount_maxcount(spark):
    g = _graph(spark)
    shapes = [NodeShape("S", target_classes=[EX + "Person"],
                        properties=[PropertyConstraint(path=EX + "knows", min_count=1, max_count=1)])]
    got, rep = _viol(spark, g, shapes)
    assert got == {(EX + "p1", "maxCount", "2"), (EX + "p2", "minCount", "0"), (EX + "p3", "minCount", "0")}
    assert not rep.conforms


def test_datatype_and_nodekind(spark):
    g = _graph(spark)
    shapes = [NodeShape("S", target_classes=[EX + "Person"],
                        properties=[PropertyConstraint(path=EX + "age", datatype=XSD_INT)])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p2", "value", "young"), (EX + "p3", "value", EX + "unknown")}

    shapes = [NodeShape("S", target_classes=[EX + "Person"],
                        properties=[PropertyConstraint(path=EX + "age", node_kind=vocab.SH + "Literal")])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p3", "value", EX + "unknown")}


def test_in_values_and_negation(spark):
    g = _graph(spark)
    shapes = [NodeShape("S", target_classes=[EX + "Person"],
                        properties=[PropertyConstraint(path=EX + "status", in_values=["active"])])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p2", "value", "retired")}

    shapes = [NodeShape("S", target_classes=[EX + "Person"],
                        properties=[PropertyConstraint(path=EX + "status", in_values=["active"], negated=True)])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p1", "value", "active")}


def test_sh_or_branches(spark):
    g = _graph(spark)
    # age must be integer-typed OR an IRI — only p2's plain string fails
    pc = PropertyConstraint(
        path=EX + "age",
        or_branches=[
            PropertyConstraint(datatype=XSD_INT),
            PropertyConstraint(node_kind=vocab.SH + "IRI"),
        ],
    )
    shapes = [NodeShape("S", target_classes=[EX + "Person"], properties=[pc])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p2", "value", "young")}


def test_sh_class_and_node_ref(spark):
    g = _graph(spark)
    # knows-values must conform to a shape requiring integer age
    ref = NodeShape("AgeShape", properties=[PropertyConstraint(path=EX + "age", datatype=XSD_INT, min_count=1)])
    outer = NodeShape(
        "S",
        target_classes=[EX + "Person"],
        properties=[PropertyConstraint(path=EX + "knows", node_ref="AgeShape")],
    )
    got, _ = _viol(spark, g, [outer, ref])
    # p1 knows p2 (string age → ref fails) and p3 (IRI age → ref fails)
    focus_vals = {(f, v) for f, c, v in got if c == "value" and f == EX + "p1"}
    assert focus_vals == {(EX + "p1", EX + "p2"), (EX + "p1", EX + "p3")}


def test_target_node_and_has_value(spark):
    g = _graph(spark)
    shapes = [NodeShape("S", target_nodes=[EX + "p2"],
                        properties=[PropertyConstraint(path=EX + "status", has_value="active")])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p2", "hasValue", "active")}


def test_conforming_graph(spark):
    g = _graph(spark)
    shapes = [NodeShape("S", target_classes=[EX + "Person"],
                        properties=[PropertyConstraint(path=EX + "status", max_count=5)])]
    got, rep = _viol(spark, g, shapes)
    assert got == set() and rep.conforms


def test_fail_fast_stops_at_first_violating_shape(spark):
    from re_shacl_spark.validate.engine import validate_fail_fast

    g = _graph(spark)
    bad = NodeShape("Bad", target_classes=[EX + "Person"],
                    properties=[PropertyConstraint(path=EX + "knows", min_count=5)])
    never = NodeShape("Never", target_classes=[EX + "Person"],
                      properties=[PropertyConstraint(path=EX + "status", min_count=99)])
    rep = validate_fail_fast(spark, g, [bad, never])
    assert not rep.conforms
    assert rep.shapes_evaluated == 1  # 'Never' was never evaluated
    assert {r.shape for r in rep.violations.collect()} == {"Bad"}

    ok = NodeShape("Ok", target_classes=[EX + "Person"],
                   properties=[PropertyConstraint(path=EX + "status", max_count=9)])
    rep2 = validate_fail_fast(spark, g, [ok, ok])
    assert rep2.conforms and rep2.shapes_evaluated == 2

    # two failing shapes landing in the SAME doubling chunk: the report must
    # still name the first one in list order, with its violations only
    bad2 = NodeShape("Bad2", target_classes=[EX + "Person"],
                     properties=[PropertyConstraint(path=EX + "knows", min_count=7)])
    rep3 = validate_fail_fast(spark, g, [ok, bad, bad2])
    assert not rep3.conforms and rep3.shapes_evaluated == 2
    assert {r.shape for r in rep3.violations.collect()} == {"Bad"}


def test_node_ref_value_not_target_typed_conforms(spark):
    """SHACL semantics (ADVICE r2): sh:node asks whether the VALUE conforms to
    the referenced shape's constraints — membership in the shape's target
    class is not required.  a1 satisfies AgeShape without being Person-typed."""
    rows = [
        iri_triple(EX + "p1", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p1", EX + "advisor", EX + "a1"),  # conforms, untyped
        iri_triple(EX + "p1", EX + "advisor", EX + "a2"),  # no age → ref fails
        lit_triple(EX + "a1", EX + "age", "50", XSD_INT),
    ]
    g = triples_df(spark, rows)
    ref = NodeShape(
        "AgeShape",
        target_classes=[EX + "Person"],
        properties=[PropertyConstraint(path=EX + "age", datatype=XSD_INT, min_count=1)],
    )
    outer = NodeShape(
        "S",
        target_classes=[EX + "Person"],
        properties=[PropertyConstraint(path=EX + "advisor", node_ref="AgeShape")],
    )
    got, _ = _viol(spark, g, [outer, ref])
    # AgeShape still REPORTS only on its targets (p1, ageless); a1's
    # conformance is evaluated but never reported; a2 fails the reference
    assert got == {
        (EX + "p1", "minCount", "0"),
        (EX + "p1", "value", EX + "a2"),
    }


# --- round-3 constraint kinds: logical combinators, counts over qualified
# value shapes, range/language facets, property pairs, closed shapes ---------


def test_sh_and_branches(spark):
    g = _graph(spark)
    # age must be a literal AND integer-typed — p2 (string lit) and p3 (IRI) fail
    pc = PropertyConstraint(
        path=EX + "age",
        and_branches=[
            PropertyConstraint(node_kind=vocab.SH + "Literal"),
            PropertyConstraint(datatype=XSD_INT),
        ],
    )
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Person"], properties=[pc])])
    assert got == {(EX + "p2", "value", "young"), (EX + "p3", "value", EX + "unknown")}


def test_sh_xone_branches(spark):
    g = _graph(spark)
    # exactly one of {integer-typed, literal}: p1's "42"^^int matches BOTH
    # branches (xone violation); p2's "young" matches literal only (ok);
    # p3's IRI matches neither (violation)
    pc = PropertyConstraint(
        path=EX + "age",
        xone_branches=[
            PropertyConstraint(datatype=XSD_INT),
            PropertyConstraint(node_kind=vocab.SH + "Literal"),
        ],
    )
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Person"], properties=[pc])])
    assert got == {(EX + "p1", "value", "42"), (EX + "p3", "value", EX + "unknown")}


def test_qualified_min_max_count(spark):
    g = _graph(spark)
    # each Person needs >=1 knows-value that is itself typed Person — all of
    # p1's are; p2/p3 have no knows values at all (q_cnt 0 < 1)
    pc = PropertyConstraint(
        path=EX + "knows",
        qualified=PropertyConstraint(clazz=EX + "Person"),
        q_min_count=1,
    )
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Person"], properties=[pc])])
    assert got == {(EX + "p2", "qualifiedMinCount", "0"), (EX + "p3", "qualifiedMinCount", "0")}

    pc = PropertyConstraint(
        path=EX + "knows",
        qualified=PropertyConstraint(clazz=EX + "Person"),
        q_max_count=1,
    )
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Person"], properties=[pc])])
    assert got == {(EX + "p1", "qualifiedMaxCount", "2")}


def test_numeric_range_facets(spark):
    g = _graph(spark)
    # age in [10, 41]: p1's 42 exceeds maxInclusive; p2's non-numeric "young"
    # and p3's IRI cannot be compared (both violate per SHACL)
    pc = PropertyConstraint(path=EX + "age", min_inclusive="10", max_inclusive="41")
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Person"], properties=[pc])])
    assert got == {
        (EX + "p1", "value", "42"),
        (EX + "p2", "value", "young"),
        (EX + "p3", "value", EX + "unknown"),
    }
    # exclusive bound: 42 > 42 is false
    pc = PropertyConstraint(path=EX + "age", min_exclusive="42")
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "p1"], properties=[pc])],
                   )
    # retarget via targetNode to isolate p1
    shapes = [NodeShape("S", target_nodes=[EX + "p1"], properties=[pc])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p1", "value", "42")}


def test_language_in_and_unique_lang(spark):
    from re_shacl_spark.model.triples import triples_df

    rows = [
        iri_triple(EX + "d1", vocab.TYPE, EX + "Doc"),
        iri_triple(EX + "d2", vocab.TYPE, EX + "Doc"),
        lit_triple(EX + "d1", EX + "label", "hello", lang="en"),
        lit_triple(EX + "d1", EX + "label", "hallo", lang="de"),
        lit_triple(EX + "d2", EX + "label", "bonjour", lang="fr"),  # not allowed
        lit_triple(EX + "d2", EX + "label", "salut", lang="fr"),    # dup tag
    ]
    g = triples_df(spark, rows)
    pc = PropertyConstraint(path=EX + "label", language_in=["en", "de"])
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Doc"], properties=[pc])])
    assert got == {(EX + "d2", "value", "bonjour"), (EX + "d2", "value", "salut")}

    pc = PropertyConstraint(path=EX + "label", unique_lang=True)
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Doc"], properties=[pc])])
    assert got == {(EX + "d2", "uniqueLang", "1")}


def test_property_pair_constraints(spark):
    from re_shacl_spark.model.triples import triples_df

    rows = [
        iri_triple(EX + "e1", vocab.TYPE, EX + "Ev"),
        iri_triple(EX + "e2", vocab.TYPE, EX + "Ev"),
        lit_triple(EX + "e1", EX + "start", "3", XSD_INT),
        lit_triple(EX + "e1", EX + "end", "5", XSD_INT),
        lit_triple(EX + "e2", EX + "start", "9", XSD_INT),
        lit_triple(EX + "e2", EX + "end", "9", XSD_INT),
        lit_triple(EX + "e1", EX + "alias", "A", XSD_STR),
        lit_triple(EX + "e1", EX + "name", "A", XSD_STR),
        lit_triple(EX + "e2", EX + "alias", "B", XSD_STR),
        lit_triple(EX + "e2", EX + "name", "C", XSD_STR),
    ]
    g = triples_df(spark, rows)
    S = lambda pc: [NodeShape("S", target_classes=[EX + "Ev"], properties=[pc])]  # noqa: E731

    got, _ = _viol(spark, g, S(PropertyConstraint(path=EX + "start", less_than=EX + "end")))
    assert got == {(EX + "e2", "lessThan", "9")}

    got, _ = _viol(spark, g, S(PropertyConstraint(path=EX + "start", less_than_or_equals=EX + "end")))
    assert got == set()

    got, _ = _viol(spark, g, S(PropertyConstraint(path=EX + "alias", disjoint=EX + "name")))
    assert got == {(EX + "e1", "disjoint", "A")}

    got, _ = _viol(spark, g, S(PropertyConstraint(path=EX + "alias", equals=EX + "name")))
    assert got == {(EX + "e2", "equals", "B"), (EX + "e2", "equals", "C")}


def test_closed_shape(spark):
    g = _graph(spark)
    # Person closed over {knows, age}: the status edges violate
    ns = NodeShape(
        "S", target_classes=[EX + "Person"],
        properties=[
            PropertyConstraint(path=EX + "knows"),
            PropertyConstraint(path=EX + "age"),
        ],
        closed=True,
    )
    got, _ = _viol(spark, g, [ns])
    assert got == {(EX + "p1", "closed", "active"), (EX + "p2", "closed", "retired")}

    ns.ignored_properties = [EX + "status"]
    got, rep = _viol(spark, g, [ns])
    assert got == set() and rep.conforms


def test_target_subjects_and_objects_of(spark):
    g = _graph(spark)
    # subjects of knows: p1 only; objects of knows: p2, p3
    ns = NodeShape("S", target_subjects_of=[EX + "knows"],
                   properties=[PropertyConstraint(path=EX + "knows", max_count=1)])
    got, _ = _viol(spark, g, [ns])
    assert got == {(EX + "p1", "maxCount", "2")}

    ns = NodeShape("S", target_objects_of=[EX + "knows"],
                   properties=[PropertyConstraint(path=EX + "status", min_count=1)])
    got, _ = _viol(spark, g, [ns])
    # p2 has a status; p3 does not
    assert got == {(EX + "p3", "minCount", "0")}


def test_deactivated_shape_skipped(spark):
    g = _graph(spark)
    ns = NodeShape("S", target_classes=[EX + "Person"], deactivated=True,
                   properties=[PropertyConstraint(path=EX + "knows", min_count=99)])
    got, rep = _viol(spark, g, [ns])
    assert got == set() and rep.conforms and rep.shapes_evaluated == 0


def test_inverse_path(spark):
    g = _graph(spark)
    # inverse of knows: who points AT the focus.  p2/p3 are known-by p1 (ok);
    # p1 is known-by nobody (minCount violation)
    pc = PropertyConstraint(path=EX + "knows", inverse=True, min_count=1,
                            clazz=EX + "Person")
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Person"], properties=[pc])])
    assert got == {(EX + "p1", "minCount", "0")}


def test_severity_and_message_details(spark):
    g = _graph(spark)
    shapes = [NodeShape(
        "S", target_classes=[EX + "Person"],
        severity=vocab.SH + "Warning", message="shape default",
        properties=[
            PropertyConstraint(path=EX + "knows", max_count=1),
            PropertyConstraint(path=EX + "age", datatype=XSD_INT,
                               severity=vocab.SH + "Info", message="age must be int"),
        ],
    )]
    rep = validate(spark, g, shapes, with_details=True)
    got = {(r.focus, r.constraint, r.severity, r.message) for r in rep.violations.collect()}
    assert (EX + "p1", "maxCount", vocab.SH + "Warning", "shape default") in got
    assert (EX + "p2", "value", vocab.SH + "Info", "age must be int") in got
    # default schema (no details) unchanged
    rep2 = validate(spark, g, shapes)
    assert rep2.violations.columns == ["focus", "shape", "path", "constraint", "value"]
    # severity defaults to sh:Violation when neither shape nor pc sets one
    shapes2 = [NodeShape("S", target_classes=[EX + "Person"],
                         properties=[PropertyConstraint(path=EX + "knows", min_count=3)])]
    rep3 = validate(spark, g, shapes2, with_details=True)
    assert {r.severity for r in rep3.violations.collect()} == {vocab.SH + "Violation"}
    # pair + closed passes carry details too
    shapes3 = [NodeShape(
        "S", target_classes=[EX + "Person"], closed=True, severity=vocab.SH + "Warning",
        properties=[PropertyConstraint(path=EX + "knows"), PropertyConstraint(path=EX + "age"),
                    PropertyConstraint(path=EX + "knows", disjoint=EX + "knows",
                                       message="self-overlap")],
    )]
    rep4 = validate(spark, g, shapes3, with_details=True)
    got4 = {(r.constraint, r.severity, r.message) for r in rep4.violations.collect()}
    assert ("closed", vocab.SH + "Warning", None) in got4
    assert ("disjoint", vocab.SH + "Warning", "self-overlap") in got4


def test_shacl_complex_paths(spark):
    from re_shacl_spark.query import Path as PathExpr

    rows = [
        iri_triple(EX + "p1", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p2", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p1", EX + "knows", EX + "p2"),
        iri_triple(EX + "p2", EX + "knows", EX + "p3"),
        lit_triple(EX + "p2", EX + "name", "Bob"),
        lit_triple(EX + "p3", EX + "name", "42", XSD_INT),
    ]
    g = triples_df(spark, rows)
    # sequence path knows/name with sh:datatype xsd:string:
    # p1 -> p2 -> "Bob" (ok); p2 -> p3 -> 42^^int (violation)
    shapes = [NodeShape("S", target_classes=[EX + "Person"], properties=[
        PropertyConstraint(path=PathExpr(f"<{EX}knows>/<{EX}name>"),
                           datatype=XSD_STR),
    ])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p2", "value", "42")}
    # one-or-more closure with minCount: p1 reaches p2,p3 (2 ok); p2 reaches p3 (1 bad)
    shapes2 = [NodeShape("S", target_classes=[EX + "Person"], properties=[
        PropertyConstraint(path=PathExpr(f"<{EX}knows>+"), min_count=2),
    ])]
    got2, _ = _viol(spark, g, shapes2)
    assert got2 == {(EX + "p2", "minCount", "1")}
    # report path column carries the expression string
    rep = validate(spark, g, shapes2)
    assert {r.path for r in rep.violations.collect()} == {f"<{EX}knows>+"}


def test_shacl_path_compile_from_ttl(spark):
    from re_shacl_spark.model.ttl import parse_ttl
    from re_shacl_spark.query import Path as PathExpr
    from re_shacl_spark.validate.shapes import compile_shapes

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://x.org/> .
    ex:S a sh:NodeShape ;
      sh:targetClass ex:Person ;
      sh:property [ sh:path ( ex:knows ex:name ) ; sh:minCount 1 ] ;
      sh:property [ sh:path [ sh:oneOrMorePath ex:knows ] ; sh:maxCount 5 ] ;
      sh:property [ sh:path [ sh:alternativePath ( ex:knows ex:likes ) ] ] ;
      sh:property [ sh:path [ sh:inversePath ex:knows ] ; sh:minCount 0 ] ;
      sh:property [ sh:path [ sh:inversePath [ sh:zeroOrOnePath ex:knows ] ] ] .
    """
    shapes = compile_shapes(parse_ttl(ttl))
    assert len(shapes) == 1
    paths = {str(pc.path) if not isinstance(pc.path, PathExpr) else pc.path.expr
             for pc in shapes[0].properties}
    inv = [pc for pc in shapes[0].properties if pc.inverse]
    assert f"<{EX}knows>/<{EX}name>" in paths
    assert f"<{EX}knows>+" in paths
    assert f"<{EX}knows>|<{EX}likes>" in paths
    # plain single inverse keeps the native fast path (str + inverse flag)
    assert len(inv) == 1 and inv[0].path == EX + "knows"
    # nested inverse-of-zeroOrOne compiles to a Path expression
    assert f"^(<{EX}knows>?)" in paths
    # and the compiled shapes actually validate
    g = triples_df(spark, [
        iri_triple(EX + "p1", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p1", EX + "knows", EX + "p2"),
        lit_triple(EX + "p2", EX + "name", "Bob"),
    ])
    rep = validate(spark, g, shapes)
    assert rep.conforms


def test_validate_delta_matches_full(spark):
    from re_shacl_spark.validate.incremental import validate_delta

    def rows_for(n_orders):
        rows = []
        for i in range(1, 5):
            rows.append(iri_triple(EX + f"c{i}", vocab.TYPE, EX + "Cust"))
        for c, n in n_orders.items():
            for j in range(n):
                rows.append(iri_triple(EX + c, EX + "ordered", EX + f"o{c}{j}"))
        return rows

    # base: c1 has 2 orders (ok), c2 has 1 (minCount viol), c3 has 0 (viol),
    # c4 has 3 (maxCount 2 viol)
    base_rows = rows_for({"c1": 2, "c2": 1, "c3": 0, "c4": 3})
    shapes = [NodeShape("S", target_classes=[EX + "Cust"], properties=[
        PropertyConstraint(path=EX + "ordered", min_count=2, max_count=2),
    ])]
    base = triples_df(spark, base_rows)
    base_rep = validate(spark, base, shapes)
    # delta: fixes c2 (adds 1 order), worsens c1 (adds 1 -> maxCount viol),
    # adds a brand-new target c5 with zero orders (via its type edge only)
    delta = triples_df(spark, [
        iri_triple(EX + "c2", EX + "ordered", EX + "oX"),
        iri_triple(EX + "c1", EX + "ordered", EX + "oY"),
        iri_triple(EX + "c5", vocab.TYPE, EX + "Cust"),
    ])
    inc = validate_delta(spark, base, delta, shapes, base_rep)
    full = validate(spark, base.unionByName(delta), shapes)
    got = {tuple(r) for r in inc.violations.collect()}
    want = {tuple(r) for r in full.violations.collect()}
    assert got == want
    assert (EX + "c2", "S", EX + "ordered", "minCount", "1") not in got  # fixed
    assert (EX + "c1", "S", EX + "ordered", "maxCount", "3") in got      # new
    assert (EX + "c5", "S", EX + "ordered", "minCount", "0") in got      # new target
    assert (EX + "c3", "S", EX + "ordered", "minCount", "0") in got      # kept


def test_validate_delta_node_ref_widening(spark):
    from re_shacl_spark.validate.incremental import validate_delta

    # f -knows-> v ; shape S: values at knows must conform to R (needs name).
    # base: v has no name -> f violates sh:node.  delta adds v's name — f is
    # NOT a delta subject/object, only reachable via the reverse ref path.
    base = triples_df(spark, [
        iri_triple(EX + "f", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "f", EX + "knows", EX + "v"),
        iri_triple(EX + "v", vocab.TYPE, EX + "Person"),
        lit_triple(EX + "v", EX + "age", "1", XSD_INT),
    ])
    shapes = [
        NodeShape("S", target_classes=[EX + "Person"], properties=[
            PropertyConstraint(path=EX + "knows", node_ref="R"),
        ]),
        NodeShape("R", properties=[
            PropertyConstraint(path=EX + "name", min_count=1),
        ]),
    ]
    base_rep = validate(spark, base, shapes)
    assert not base_rep.conforms
    delta = triples_df(spark, [lit_triple(EX + "v", EX + "name", "Vee")])
    inc = validate_delta(spark, base, delta, shapes, base_rep)
    full = validate(spark, base.unionByName(delta), shapes)
    assert {tuple(r) for r in inc.violations.collect()} == \
        {tuple(r) for r in full.violations.collect()}
    assert inc.conforms


def test_validate_delta_class_widening(spark):
    # ADVICE r3 (high): a delta rdf:type triple on a VALUE node must
    # invalidate foci with sh:class constraints on that value even though no
    # edge of the focus changed.
    from re_shacl_spark.validate.incremental import validate_delta

    # f -knows-> v ; S requires values at knows to be of class Person.
    # base: v untyped -> f violates sh:class.  delta adds (v, rdf:type,
    # Person) — f is neither delta subject nor object.
    base = triples_df(spark, [
        iri_triple(EX + "f", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "f", EX + "knows", EX + "v"),
    ])
    shapes = [NodeShape("S", target_classes=[EX + "Person"], properties=[
        PropertyConstraint(path=EX + "knows", clazz=EX + "Person"),
    ])]
    base_rep = validate(spark, base, shapes)
    assert not base_rep.conforms
    delta = triples_df(spark, [iri_triple(EX + "v", vocab.TYPE, EX + "Person")])
    inc = validate_delta(spark, base, delta, shapes, base_rep)
    full = validate(spark, base.unionByName(delta), shapes)
    assert {tuple(r) for r in inc.violations.collect()} == \
        {tuple(r) for r in full.violations.collect()}
    # v itself became a (conforming) focus; f's stale sh:class row is gone
    assert inc.conforms


def test_validate_delta_qualified_class_widening(spark):
    # same, with the class constraint buried in a qualifiedValueShape branch
    from re_shacl_spark.validate.incremental import validate_delta

    base = triples_df(spark, [
        iri_triple(EX + "f", vocab.TYPE, EX + "Team"),
        iri_triple(EX + "f", EX + "member", EX + "v"),
        iri_triple(EX + "v", vocab.TYPE, EX + "Team"),  # keeps v a non-focus of the q-shape
    ])
    shapes = [NodeShape("S", target_classes=[EX + "Team"], properties=[
        PropertyConstraint(
            path=EX + "member",
            qualified=PropertyConstraint(clazz=EX + "Lead"),
            q_min_count=1,
        ),
    ])]
    base_rep = validate(spark, base, shapes)
    delta = triples_df(spark, [iri_triple(EX + "v", vocab.TYPE, EX + "Lead")])
    inc = validate_delta(spark, base, delta, shapes, base_rep)
    full = validate(spark, base.unionByName(delta), shapes)
    assert {tuple(r) for r in inc.violations.collect()} == \
        {tuple(r) for r in full.violations.collect()}


def test_validate_delta_fallbacks(spark):
    from re_shacl_spark.query import Path as PathExpr
    from re_shacl_spark.validate.incremental import validate_delta

    base = triples_df(spark, [
        iri_triple(EX + "a", vocab.TYPE, EX + "T"),
        iri_triple(EX + "a", EX + "n", EX + "b"),
    ])
    delta = triples_df(spark, [iri_triple(EX + "b", EX + "n", EX + "c")])
    # complex path -> full validation, still equal to full run
    shapes = [NodeShape("S", target_classes=[EX + "T"], properties=[
        PropertyConstraint(path=PathExpr(f"<{EX}n>+"), min_count=2),
    ])]
    base_rep = validate(spark, base, shapes)
    inc = validate_delta(spark, base, delta, shapes, base_rep)
    full = validate(spark, base.unionByName(delta), shapes)
    assert {tuple(r) for r in inc.violations.collect()} == \
        {tuple(r) for r in full.violations.collect()}
    assert inc.conforms  # a reaches b,c after the delta


def test_corpus_shapes_validate_job_count(spark):
    """validate() compiles one plan from the shapes: the corpus shapes (only
    minCount, maxCount and nodeKind) need no class, branch or pair joins, so
    the call launches a handful of Spark jobs — the target broadcasts, one
    shuffle, the checkpoint and the emptiness probe — not one per
    constraint kind."""
    from re_shacl_spark import corpus
    from re_shacl_spark.extract.emit import emit_triples
    from re_shacl_spark.extract.html import extract_text
    from re_shacl_spark.extract.mentions import detect_mentions
    from re_shacl_spark.job import CORPUS_TBOX, corpus_shapes
    from re_shacl_spark.pipeline import fuse

    pages = corpus.generate_pages(spark, 60, seed=3)
    s1 = extract_text(pages).drop("html")
    s2 = detect_mentions(s1.select("url", "text", "lang"), corpus.alias_rows(), drop=("text",))
    g = emit_triples(s2, corpus.ENTITY_CLASSES).unionByName(
        triples_df(spark, [iri_triple(*x) for x in CORPUS_TBOX]))
    fused = fuse(spark, g).triples.localCheckpoint(eager=True)

    sc = spark.sparkContext
    group = "test-validate-job-count"
    sc.setJobGroup(group, group)
    try:
        rep = validate(spark, fused, corpus_shapes())
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert not rep.conforms and rep.violations.count() > 0
    assert len(jobs) <= 12, f"validate(corpus_shapes()) launched {len(jobs)} Spark jobs"
