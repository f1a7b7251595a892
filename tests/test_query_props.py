"""Property-based parity for the BGP join machinery: random small graphs
(with deliberate IRI/literal lexical puns and mixed datatypes) and random
connected pattern chains, evaluated by query.bgp (DataFrame join plan) and by
a brutally-naive backtracking matcher over Python term tuples.  Solution
MULTISETS must match — this exercises exactly the machinery the SQL oracles
can't randomize: term-identity companions through joins, repeated variables
inside one pattern, variables in predicate position, and MINUS compatibility.
Example counts are kept low — every example runs Spark join jobs.
"""

from __future__ import annotations

import re
from collections import Counter

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from re_shacl_spark.model.triples import iri_triple, lit_triple, triples_df
from re_shacl_spark.query import bgp

XSD = "http://www.w3.org/2001/XMLSchema#"
NODES = ["n:a", "n:b", "n:c"]
PREDS = ["p:p", "p:q"]
VARS = ["?x", "?y", "?z"]

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# a term is ("I", form) or ("L", form, dtype, lang)
term_st = st.one_of(
    st.sampled_from(NODES).map(lambda n: ("I", n)),
    st.tuples(
        st.sampled_from(NODES),  # lexical form PUNS the IRI pool on purpose
        st.sampled_from([XSD + "string", XSD + "integer"]),
    ).map(lambda t: ("L", t[0], t[1], None)),
)

triple_st = st.tuples(st.sampled_from(NODES), st.sampled_from(PREDS), term_st)
graph_st = st.lists(triple_st, min_size=3, max_size=10, unique=True)


def _rows(graph):
    rows = []
    for s, p, o in graph:
        if o[0] == "I":
            rows.append(iri_triple(s, p, o[1]))
        else:
            rows.append(lit_triple(s, p, o[1], dtype=o[2]))
    return rows


@st.composite
def case_st(draw):
    """A random graph plus a 1-3 pattern CONNECTED chain (each pattern after
    the first shares a variable with the accumulated set)."""
    graph = draw(graph_st)
    n = draw(st.integers(1, 3))
    pats, used = [], set()

    def slot(must_var=False):
        if must_var or draw(st.booleans()):
            return draw(st.sampled_from(VARS))
        return draw(st.sampled_from(NODES))

    for i in range(n):
        s = slot(must_var=(i == 0))
        o = slot()
        p = draw(st.sampled_from(PREDS + VARS[:1]))  # ?x may sit in pred slot
        if i > 0 and not ({s, p, o} & used):
            s = draw(st.sampled_from(sorted(used)))
        pats.append((s, p, o))
        used.update(t for t in (s, p, o) if t.startswith("?"))
    return graph, pats


def _naive_match(graph, pats):
    """Backtracking matcher on full term identity; yields dicts var->term."""
    terms = [
        (("I", s), ("I", p), o if o[0] == "L" else ("I", o[1]))
        for s, p, o in graph
    ]

    def unify(pat_term, term, env):
        if pat_term.startswith("?"):
            bound = env.get(pat_term)
            if bound is None:
                env = dict(env)
                env[pat_term] = term
                return env
            return env if bound == term else None
        # constants are IRIs by the pattern API contract
        return env if term == ("I", pat_term) else None

    envs = [{}]
    for ps, pp, po in pats:
        nxt = []
        for env in envs:
            for ts, tp, to in terms:
                e = unify(ps, ts, env)
                e = e and unify(pp, tp, e)
                e = e and unify(po, to, e)
                if e is not None:
                    nxt.append(e)
        envs = nxt
    return envs


def _key(env, names):
    return tuple(env["?" + v][1] for v in names)


@given(case_st())
@SETTINGS
def test_bgp_matches_naive_backtracker(spark, case):
    graph, pats = case
    df = triples_df(spark, _rows(graph))
    out = bgp(df, pats)
    names = sorted(out.columns)
    got = Counter(tuple(r[v] for v in names) for r in out.collect())
    want = Counter(_key(e, names) for e in _naive_match(graph, pats))
    assert got == want, f"pats={pats}"


@st.composite
def optional_case_st(draw):
    """A required case plus 1-2 OPTIONAL patterns, each sharing a variable
    with the required block (the engine raises otherwise)."""
    graph, pats = draw(case_st())
    req_vars = sorted({t for p in pats for t in p if t.startswith("?")})
    opts = []
    for _ in range(draw(st.integers(1, 2))):
        shared = draw(st.sampled_from(req_vars))
        other = draw(st.sampled_from(VARS + ["?w"]))
        flip = draw(st.booleans())
        s, o = (shared, other) if flip else (other, shared)
        opts.append((s, draw(st.sampled_from(PREDS)), o))
    return graph, pats, opts


def _naive_optional(envs, graph, pat):
    """Sequential left-extension mirroring the engine's per-pattern left
    join: a null (unmatched-earlier) binding never matches (SQL null join
    semantics); unmatched rows keep their env with the pattern's NEW
    variables null."""
    terms = [
        (("I", s), ("I", p), o if o[0] == "L" else ("I", o[1]))
        for s, p, o in graph
    ]

    def unify(pat_term, term, env):
        if pat_term.startswith("?"):
            bound = env.get(pat_term, "unbound")
            if bound == "unbound":
                env = dict(env)
                env[pat_term] = term
                return env
            if bound is None:
                return None
            return env if bound == term else None
        return env if term == ("I", pat_term) else None

    out = []
    for env in envs:
        matched = []
        for ts, tp, to in terms:
            e = unify(pat[0], ts, env)
            e = e and unify(pat[1], tp, e)
            e = e and unify(pat[2], to, e)
            if e is not None:
                matched.append(e)
        if matched:
            out.extend(matched)
        else:
            e = dict(env)
            for t in pat:
                if t.startswith("?") and t not in e:
                    e[t] = None
            out.append(e)
    return out


def _key_opt(env, names):
    return tuple(
        (env["?" + v][1] if env["?" + v] is not None else None) for v in names
    )


@given(optional_case_st())
@SETTINGS
def test_bgp_optional_matches_naive(spark, case):
    graph, pats, opts = case
    df = triples_df(spark, _rows(graph))
    out = bgp(df, pats, optional=opts)
    names = sorted(out.columns)
    got = Counter(tuple(r[v] for v in names) for r in out.collect())
    envs = _naive_match(graph, pats)
    for pat in opts:
        envs = _naive_optional(envs, graph, pat)
    want = Counter(_key_opt(e, names) for e in envs)
    assert got == want, f"pats={pats} optional={opts}"


@given(case_st(), st.sampled_from(PREDS), st.booleans())
@SETTINGS
def test_bgp_filter_exists_matches_naive(spark, case, ep, negate):
    """FILTER (NOT) EXISTS: compatible-solution semi/anti semantics, incl.
    the §8.3 no-shared-variable divergence from MINUS (a matching inner
    pattern sharing nothing still decides for EVERY solution)."""
    graph, pats = case
    shares = any("?x" in p for p in pats)
    inner = [("?x", ep, "?free")] if shares else [("?only", ep, "?free")]
    df = triples_df(spark, _rows(graph))
    kw = {"filter_not_exists": [inner]} if negate else {"filter_exists": [inner]}
    out = bgp(df, pats, **kw)
    names = sorted(out.columns)
    got = Counter(tuple(r[v] for v in names) for r in out.collect())

    inner_envs = _naive_match(graph, inner)
    ivars = {t for p in inner for t in p if t.startswith("?")}

    def hit(env):
        shared = set(env) & ivars
        if shared:
            return any(all(env[v] == r[v] for v in shared) for r in inner_envs)
        return bool(inner_envs)

    want = Counter(
        _key(e, names) for e in _naive_match(graph, pats) if hit(e) != negate
    )
    assert got == want, f"pats={pats} inner={inner} negate={negate}"


@st.composite
def values_case_st(draw):
    """A required case plus a VALUES table over a subset of its variables
    (string forms from the node pool, None = UNDEF, duplicate rows allowed
    for the multiset check)."""
    graph, pats = draw(case_st())
    pvars = sorted({t[1:] for p in pats for t in p if t.startswith("?")})
    k = draw(st.integers(1, min(2, len(pvars))))
    names = draw(
        st.lists(st.sampled_from(pvars), min_size=k, max_size=k, unique=True)
    )
    rows = draw(
        st.lists(
            st.tuples(*[st.sampled_from(NODES + [None]) for _ in names]),
            min_size=1,
            max_size=4,
        )
    )
    return graph, pats, (names, rows)


@given(values_case_st())
@SETTINGS
def test_bgp_values_matches_naive(spark, case):
    """VALUES joins by string form with UNDEF wildcards, multiplying
    multiset cardinality per compatible inline row (§10.2)."""
    graph, pats, values = case
    names, rows = values
    df = triples_df(spark, _rows(graph))
    out = bgp(df, pats, values=values)
    cols = sorted(out.columns)
    got = Counter(tuple(r[v] for v in cols) for r in out.collect())

    want = Counter()
    for env in _naive_match(graph, pats):
        mult = sum(
            1
            for row in rows
            if all(v is None or env["?" + n][1] == v for n, v in zip(names, row))
        )
        for _ in range(mult):
            want[_key(env, cols)] += 1
    assert got == want, f"pats={pats} values={values}"


@st.composite
def update_case_st(draw):
    """A WHERE case plus delete/insert template lists over its variables and
    pool constants (IRI or Lit)."""
    graph, pats = draw(case_st())
    pvars = sorted({t for p in pats for t in p if t.startswith("?")})

    def tmpl():
        def term(allow_lit):
            c = draw(st.integers(0, 3 if allow_lit else 2))
            if c == 0:
                return draw(st.sampled_from(pvars))
            if c == 1 or c == 2:
                return draw(st.sampled_from(NODES))
            from re_shacl_spark.query import Lit

            return Lit(draw(st.sampled_from(NODES)))

        return (term(False), draw(st.sampled_from(PREDS)), term(True))

    delete = [tmpl() for _ in range(draw(st.integers(0, 2)))]
    insert = [tmpl() for _ in range(draw(st.integers(0, 2)))]
    if not delete and not insert:
        insert = [tmpl()]
    return graph, pats, delete, insert


@given(update_case_st())
@SETTINGS
def test_update_matches_naive_set_algebra(spark, case):
    """DELETE/INSERT WHERE == (G \\ D) ∪ I on full term identity, both
    templates instantiated against the PRE-update state."""
    from re_shacl_spark.model.triples import vocab
    from re_shacl_spark.query import Lit, update

    graph, pats, delete, insert = case
    df = triples_df(spark, _rows(graph))
    out = update(df, pats, delete=delete or None, insert=insert or None)

    def term_of(r):
        if r["is_lit"]:
            return ("L", r["o"], r["o_lit"]["dtype"], r["o_lit"]["lang"])
        return ("I", r["o"])

    got = {(r["s"], r["p"], term_of(r)) for r in out.collect()}

    def inst(env, t):
        if isinstance(t, Lit):
            return ("L", t.lex, vocab.XSD + "string", None)
        if t.startswith("?"):
            return env[t]
        return ("I", t)

    envs = _naive_match(graph, pats)
    d = {
        (inst(e, s)[1], inst(e, p)[1], inst(e, o))
        for e in envs
        for s, p, o in delete
    }
    ins = {
        (inst(e, s)[1], inst(e, p)[1], inst(e, o))
        for e in envs
        for s, p, o in insert
    }
    g0 = {
        (s, p, o if o[0] == "L" else ("I", o[1]))
        for s, p, o in graph
    }
    want = (g0 - d) | ins
    assert got == want, f"pats={pats} delete={delete} insert={insert}"


@st.composite
def union_case_st(draw):
    graph = draw(graph_st)
    branches = []
    for _ in range(draw(st.integers(2, 3))):
        _, pats = draw(case_st())
        branches.append(pats)
    return graph, branches


@given(union_case_st())
@SETTINGS
def test_union_matches_naive(spark, case):
    """UNION is the multiset union of branch solutions; variables absent from
    a branch are unbound (null) in its rows."""
    from re_shacl_spark.query import union

    graph, branches = case
    df = triples_df(spark, _rows(graph))
    out = union(df, branches)
    names = sorted(out.columns)
    got = Counter(tuple(r[v] for v in names) for r in out.collect())

    want = Counter()
    for b in branches:
        for env in _naive_match(graph, b):
            want[
                tuple(
                    env["?" + v][1] if ("?" + v) in env else None for v in names
                )
            ] += 1
    assert got == want, f"branches={branches}"


@given(case_st(), case_st())
@SETTINGS
def test_join_solutions_matches_naive(spark, case_l, case_r):
    """§18.5 Join of two solution multisets: string-form equi-join on shared
    variables once the hidden tags are gone (both frames are plain bgp
    outputs), cartesian guarded."""
    from re_shacl_spark.query import join_solutions

    graph, pats_l = case_l
    _, pats_r = case_r
    df = triples_df(spark, _rows(graph))
    left, right = bgp(df, pats_l), bgp(df, pats_r)
    shared = sorted(set(left.columns) & set(right.columns))
    if not shared:
        with pytest.raises(ValueError, match="cartesian"):
            join_solutions(left, right)
        return
    out = join_solutions(left, right)
    names = sorted(out.columns)
    envs_l = _naive_match(graph, pats_l)
    envs_r = _naive_match(graph, pats_r)
    want = Counter()
    for el in envs_l:
        for er in envs_r:
            if all(el["?" + v][1] == er["?" + v][1] for v in shared):
                merged = {**{k: v[1] for k, v in er.items()}, **{k: v[1] for k, v in el.items()}}
                want[tuple(merged["?" + v] for v in names)] += 1
    got = Counter(tuple(r[v] for v in names) for r in out.collect())
    assert got == want, f"l={pats_l} r={pats_r}"


@st.composite
def agg_case_st(draw):
    """A random solution frame (x mandatory, y nullable, numeric-ish forms
    mixed in) plus a GROUP BY choice."""
    rows = draw(
        st.lists(
            st.tuples(
                st.sampled_from(["n:a", "n:b", "1", "2.5"]),
                st.sampled_from(["n:a", "3", "x", None]),
            ),
            min_size=1,
            max_size=8,
        )
    )
    group = draw(st.sampled_from([[], ["x"]]))
    return rows, group


@given(agg_case_st())
@SETTINGS
def test_aggregate_matches_naive(spark, case):
    """GROUP BY aggregates: COUNT(*) vs COUNT(?v) null-skipping,
    COUNT(DISTINCT), lexicographic MIN/MAX, deterministic SAMPLE (min),
    sorted GROUP_CONCAT, SUM/AVG over try_cast doubles."""
    import math

    from re_shacl_spark.query import aggregate

    rows, group = case
    df = spark.createDataFrame(rows, "x string, y string")
    out = aggregate(
        df,
        group,
        {
            "n": ("count", "*"),
            "ny": ("count", "y"),
            "dy": ("count_distinct", "y"),
            "mn": ("min", "y"),
            "smp": ("sample", "y"),
            "gc": ("group_concat", "y", ","),
            "sm": ("sum", "y"),
            "av": ("avg", "y"),
        },
    )
    got = {
        (tuple(r[g] for g in group)): (
            r["n"], r["ny"], r["dy"], r["mn"], r["smp"], r["gc"],
            r["sm"], r["av"],
        )
        for r in out.collect()
    }

    def to_num(v):
        try:
            return float(v)
        except (TypeError, ValueError):
            return None

    groups: dict[tuple, list] = {}
    for x, y in rows:
        groups.setdefault((x,) if group else (), []).append(y)
    want = {}
    for k, ys in groups.items():
        bound = [y for y in ys if y is not None]
        nums = [to_num(y) for y in bound]
        nums = [n for n in nums if n is not None]
        want[k] = (
            len(ys),
            len(bound),
            len(set(bound)),
            min(bound) if bound else None,
            min(bound) if bound else None,
            ",".join(sorted(bound)),
            sum(nums) if nums else None,
            (sum(nums) / len(nums)) if nums else None,
        )
    assert set(got) == set(want)
    for k in want:
        ga, wa = got[k], want[k]
        assert ga[:6] == wa[:6], f"group {k}: {ga} != {wa}"
        for gv, wv in zip(ga[6:], wa[6:]):
            assert (gv is None) == (wv is None) and (
                gv is None or math.isclose(gv, wv)
            ), f"group {k}: {ga} != {wa}"


# ---------------------------------------------------------------------------
# SHACL validation: random data + 1-3 random property shapes (so one call
# mixes constraint families) vs a naive validator (counts over distinct value
# TERMS, per-term value conformance)
# ---------------------------------------------------------------------------

XSD_STRING = XSD + "string"
XSD_INT = XSD + "integer"
SH_NS = "http://www.w3.org/ns/shacl#"
TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _opt(strategy):
    return st.one_of(st.none(), strategy)


facets_st = st.fixed_dictionaries({
    "path": st.sampled_from(PREDS),
    "inverse": st.booleans(),
    "min_count": _opt(st.integers(0, 2)),
    "max_count": _opt(st.integers(0, 2)),
    "datatype": _opt(st.sampled_from([XSD_STRING, XSD_INT])),
    "node_kind": _opt(st.sampled_from([SH_NS + "IRI", SH_NS + "Literal"])),
    "min_length": _opt(st.integers(1, 5)),
    "max_length": _opt(st.integers(1, 5)),
    "has_value": _opt(st.sampled_from(NODES)),
    "in_values": _opt(st.lists(st.sampled_from(NODES), min_size=1, max_size=2, unique=True)),
    "pattern": _opt(st.sampled_from(["a$", "^n:[bc]"])),
})


@st.composite
def shacl_case_st(draw):
    graph = draw(graph_st)
    typed = draw(st.lists(st.sampled_from(NODES), max_size=3, unique=True))
    shapes = draw(st.lists(facets_st, min_size=1, max_size=3))
    return graph, typed, shapes


def _naive_shacl(graph, typed, shapes):
    """Violations as a Counter of (shape, focus, constraint).  sh:in and
    sh:hasValue compare a value's string form (the engine's documented
    pragmatic); so does the focus of an inverse path — foci carry no term
    tag, so an inverse path's values are the subjects of edges whose object
    has the focus's string form, a punning literal included."""
    want = Counter()
    for i, f in enumerate(shapes):
        sid = f"s:S{i}"
        for x in typed:
            if f["inverse"]:
                vals = {("I", s) for s, p, o in graph if p == f["path"] and o[1] == x}
            else:
                vals = {o for s, p, o in graph if s == x and p == f["path"]}
            if f["min_count"] is not None and len(vals) < f["min_count"]:
                want[(sid, x, "minCount")] += 1
            if f["max_count"] is not None and len(vals) > f["max_count"]:
                want[(sid, x, "maxCount")] += 1
            if f["has_value"] is not None and all(v[1] != f["has_value"] for v in vals):
                want[(sid, x, "hasValue")] += 1
            for v in vals:
                is_lit = v[0] == "L"
                eff_dtype = (v[2] or (XSD + "langString" if v[3] else XSD_STRING)) if is_lit else None
                ok = True
                if f["datatype"] is not None:
                    ok = ok and is_lit and eff_dtype == f["datatype"]
                if f["node_kind"] == SH_NS + "IRI":
                    ok = ok and not is_lit
                elif f["node_kind"] == SH_NS + "Literal":
                    ok = ok and is_lit
                if f["min_length"] is not None:
                    ok = ok and len(v[1]) >= f["min_length"]
                if f["max_length"] is not None:
                    ok = ok and len(v[1]) <= f["max_length"]
                if f["in_values"] is not None:
                    ok = ok and v[1] in f["in_values"]
                if f["pattern"] is not None:
                    ok = ok and re.search(f["pattern"], v[1]) is not None
                if not ok:
                    want[(sid, x, "value")] += 1
    return want


@given(shacl_case_st())
@SETTINGS
def test_validate_matches_naive_shacl(spark, case):
    from re_shacl_spark.validate.engine import validate
    from re_shacl_spark.validate.shapes import NodeShape, PropertyConstraint

    graph, typed, shapes = case
    rows = _rows(graph) + [iri_triple(s, TYPE, "c:C") for s in typed]
    df = triples_df(spark, rows)
    node_shapes = [
        NodeShape(shape_id=f"s:S{i}", target_classes=["c:C"],
                  properties=[PropertyConstraint(**f)])
        for i, f in enumerate(shapes)
    ]
    rep = validate(spark, df, node_shapes)
    got = Counter((r["shape"], r["focus"], r["constraint"]) for r in rep.violations.collect())
    want = _naive_shacl(graph, typed, shapes)
    assert got == want, f"typed={typed} shapes={shapes}"
    assert rep.conforms == (not want)


# incremental ≡ full: validate_delta over an additive delta equals a full
# validate(base ∪ delta), for random shapes whose targets include a two-hop
# SHACL-AF sh:select (which no local affected-focus walk can see)
TWO_HOP_TARGET = "SELECT ?this WHERE { ?this <p:p> ?x . ?x <p:q> ?y }"


@st.composite
def delta_case_st(draw):
    base = draw(graph_st)
    delta = draw(st.lists(triple_st, min_size=1, max_size=4, unique=True))
    typed = draw(st.lists(st.sampled_from(NODES), max_size=3, unique=True))
    n_base_typed = draw(st.integers(0, len(typed)))
    targets = st.sampled_from(["class", "node", "subjects", "sparql"])
    shapes = draw(st.lists(st.tuples(targets, facets_st), min_size=1, max_size=2))
    return base, delta, typed[:n_base_typed], typed[n_base_typed:], shapes


_NO_FACETS = {k: None for k in (
    "min_count", "max_count", "datatype", "node_kind", "min_length", "max_length",
    "has_value", "in_values", "pattern",
)}


@given(delta_case_st())
# the delta edge n:b p:q n:c pulls n:a into the two-hop target set; n:a is
# neither a delta subject nor a delta object
@example((
    [("n:a", "p:p", ("I", "n:b"))], [("n:b", "p:q", ("I", "n:c"))], [], [],
    [("sparql", {"path": "p:p", "inverse": False, **_NO_FACETS, "max_count": 0})],
))
@SETTINGS
def test_validate_delta_matches_full(spark, case):
    from re_shacl_spark.validate.engine import validate
    from re_shacl_spark.validate.incremental import validate_delta
    from re_shacl_spark.validate.shapes import NodeShape, PropertyConstraint
    from re_shacl_spark.validate.sparql import SparqlConstraint

    base_g, delta_g, base_typed, delta_typed, shapes = case
    base = triples_df(spark, _rows(base_g) + [iri_triple(s, TYPE, "c:C") for s in base_typed])
    delta = triples_df(spark, _rows(delta_g) + [iri_triple(s, TYPE, "c:C") for s in delta_typed])
    target = {
        "class": {"target_classes": ["c:C"]},
        "node": {"target_nodes": ["n:a"]},
        "subjects": {"target_subjects_of": ["p:q"]},
        "sparql": {"sparql_targets": [SparqlConstraint(select=TWO_HOP_TARGET)]},
    }
    node_shapes = [
        NodeShape(shape_id=f"s:S{i}", properties=[PropertyConstraint(**f)], **target[kind])
        for i, (kind, f) in enumerate(shapes)
    ]
    base_rep = validate(spark, base, node_shapes)
    inc = validate_delta(spark, base, delta, node_shapes, base_rep)
    full = validate(spark, base.unionByName(delta), node_shapes)
    assert Counter(tuple(r) for r in inc.violations.collect()) == \
        Counter(tuple(r) for r in full.violations.collect()), f"shapes={shapes}"
    assert inc.conforms == full.conforms


# ---------------------------------------------------------------------------
# property paths: random path ASTs vs a naive set-algebra evaluator
# ---------------------------------------------------------------------------

path_ast_st = st.recursive(
    st.sampled_from(PREDS).map(lambda p: ("iri", p)),
    lambda ch: st.one_of(
        ch.map(lambda e: ("inv", e)),
        st.tuples(ch, ch).map(lambda t: ("seq", *t)),
        st.tuples(ch, ch).map(lambda t: ("alt", *t)),
        ch.map(lambda e: ("plus", e)),
        ch.map(lambda e: ("star", e)),
        ch.map(lambda e: ("opt", e)),
    ),
    max_leaves=4,
)


def _render(ast) -> str:
    k = ast[0]
    if k == "iri":
        return ast[1]
    if k == "inv":
        return f"^({_render(ast[1])})"
    if k == "seq":
        return f"({_render(ast[1])}/{_render(ast[2])})"
    if k == "alt":
        return f"({_render(ast[1])}|{_render(ast[2])})"
    return f"({_render(ast[1])})" + {"plus": "+", "star": "*", "opt": "?"}[k]


def _naive_path(graph, ast):
    """Pair-set semantics mirroring eval_path: composition on full term
    identity; closures are distinct sets; zero-length paths pair every graph
    term (subjects as IRIs, objects with their literal identity) with
    itself."""
    oterm = lambda o: o if o[0] == "L" else ("I", o[1])
    zero = {(("I", s), ("I", s)) for s, _, _ in graph} | {
        (oterm(o), oterm(o)) for _, _, o in graph
    }

    def closure(pairs):
        pairs = set(pairs)
        while True:
            new = {(a, d) for a, b in pairs for c, d in pairs if b == c} - pairs
            if not new:
                return pairs
            pairs |= new

    def ev(e):
        k = e[0]
        if k == "iri":
            return {(("I", s), oterm(o)) for s, p, o in graph if p == e[1]}
        if k == "inv":
            return {(b, a) for a, b in ev(e[1])}
        if k == "seq":
            l, r = ev(e[1]), ev(e[2])
            return {(a, d) for a, b in l for c, d in r if b == c}
        if k == "alt":
            return ev(e[1]) | ev(e[2])
        if k == "plus":
            return closure(ev(e[1]))
        if k == "star":
            return closure(ev(e[1])) | zero
        if k == "opt":
            return ev(e[1]) | zero
        raise AssertionError(k)

    return ev(ast)


@given(graph_st, path_ast_st)
@SETTINGS
def test_eval_path_matches_naive(spark, graph, ast):
    from re_shacl_spark.query import eval_path

    df = triples_df(spark, _rows(graph))
    rows = eval_path(df, _render(ast), keep_meta="ab").collect()

    def term(form, is_lit, lit):
        if is_lit:
            return ("L", form, lit["dtype"], lit["lang"])
        return ("I", form)

    got = {
        (term(r["a"], r["a_is"], r["a_lit"]), term(r["b"], r["b_is"], r["b_lit"]))
        for r in rows
    }
    want = _naive_path(graph, ast)
    assert got == want, f"path={_render(ast)}"


@given(case_st(), st.sampled_from(PREDS))
@SETTINGS
def test_bgp_minus_matches_naive(spark, case, mp):
    """MINUS removes a binding iff some remover binding shares >=1 variable
    and agrees on all shared variables (term identity); disjoint domains are
    a no-op (SPARQL 1.1 §8.3) — checked against the naive matcher."""
    graph, pats = case
    shares = any("?x" in p or "?y" in p for p in pats)
    minus = [("?x", mp, "?y")] if shares else [("?w", mp, "?v")]
    df = triples_df(spark, _rows(graph))
    out = bgp(df, pats, minus=minus)
    names = sorted(out.columns)
    got = Counter(tuple(r[v] for v in names) for r in out.collect())

    removers = _naive_match(graph, minus)

    def keep(env):
        for r in removers:
            shared = set(env) & set(r)
            if shared and all(env[v] == r[v] for v in shared):
                return False
        return True

    want = Counter(
        _key(e, names) for e in _naive_match(graph, pats) if keep(e)
    )
    assert got == want, f"pats={pats} minus={minus}"
