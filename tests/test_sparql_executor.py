"""SPARQL executor tests: each query's result is checked against the
hand-computed answer on a small in-memory graph (the reference cannot
cross-check these — it has no evaluator; SURVEY.md §2.B is the spec)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mentor_rdf_parsers_spark.sparql.executor import execute

PREFIX = "PREFIX : <http://ex/>\n"


@pytest.fixture(scope="module")
def graph(spark):
    """People graph: alice(30) knows bob(25); bob knows carol(35);
    dave unlinked with no age; names with lang tags; one named graph."""
    X = "http://www.w3.org/2001/XMLSchema#"
    rows = []

    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

    def t(s, p, o, okind="iri", lang=None, dt=None, g=None):
        pred = RDF_TYPE if p == "type" else f"http://ex/{p}"
        rows.append(("doc", "iri", f"http://ex/{s}", "iri", pred,
                     okind, o, lang, dt, "iri" if g else None,
                     f"http://ex/{g}" if g else None, None, None, None))

    for person, age in [("alice", "30"), ("bob", "25"), ("carol", "35")]:
        t(person, "type", "http://ex/Person")
        t(person, "age", age, "literal", dt=X + "integer")
    t("dave", "type", "http://ex/Person")
    t("alice", "knows", "http://ex/bob")
    t("bob", "knows", "http://ex/carol")
    t("alice", "name", "Alice", "literal", lang="en")
    t("bob", "name", "Bob", "literal")
    t("alice", "note", "secret", "literal", g="g1")
    cols = ("doc_id string, s_kind string, s string, p_kind string, p string, "
            "o_kind string, o string, o_lang string, o_dt string, g_kind string, "
            "g string, s_off int, p_off int, o_off int")
    df = spark.createDataFrame(rows, cols).persist()
    df.count()
    yield df
    df.unpersist()


def rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_bgp_join_and_filter(graph):
    out = execute(PREFIX + """
        SELECT ?p ?age WHERE {
            ?p a :Person ; :age ?age .
            FILTER(?age > 26)
        }""", graph)
    assert rows(out, "p", "age") == [
        ("http://ex/alice", "30"), ("http://ex/carol", "35")]


def test_optional_left_join(graph):
    out = execute(PREFIX + """
        SELECT ?p ?name WHERE {
            ?p a :Person .
            OPTIONAL { ?p :name ?name }
        }""", graph)
    got = dict(rows(out, "p", "name"))
    assert got["http://ex/alice"] == "Alice"
    assert got["http://ex/dave"] is None


def test_union(graph):
    out = execute(PREFIX + """
        SELECT ?x WHERE {
            { ?x :age "30"^^<http://www.w3.org/2001/XMLSchema#integer> }
            UNION { ?x :name "Bob" }
        }""", graph)
    assert rows(out, "x") == [("http://ex/alice",), ("http://ex/bob",)]


def test_minus_and_not_exists(graph):
    q_minus = PREFIX + """
        SELECT ?p WHERE { ?p a :Person MINUS { ?p :age ?a } }"""
    q_ne = PREFIX + """
        SELECT ?p WHERE { ?p a :Person FILTER NOT EXISTS { ?p :age ?a } }"""
    for q in (q_minus, q_ne):
        assert rows(execute(q, graph), "p") == [("http://ex/dave",)]


def test_exists_semi_join(graph):
    out = execute(PREFIX + """
        SELECT ?p WHERE { ?p a :Person FILTER EXISTS { ?p :knows ?q } }""", graph)
    assert rows(out, "p") == [("http://ex/alice",), ("http://ex/bob",)]


def test_bind_and_expressions(graph):
    out = execute(PREFIX + """
        SELECT ?p ?months WHERE {
            ?p :age ?age . BIND(?age * 12 AS ?months)
            FILTER(?p = :bob)
        }""", graph)
    assert rows(out, "months") == [("300.0",)]


def test_values_inline_join(graph):
    out = execute(PREFIX + """
        SELECT ?p ?age WHERE {
            VALUES ?p { :alice :bob }
            ?p :age ?age .
        }""", graph)
    assert rows(out, "p", "age") == [
        ("http://ex/alice", "30"), ("http://ex/bob", "25")]


def test_graph_pattern(graph):
    out = execute(PREFIX + """
        SELECT ?g ?o WHERE { GRAPH ?g { :alice :note ?o } }""", graph)
    assert rows(out, "g", "o") == [("http://ex/g1", "secret")]
    # default graph excludes named-graph rows
    out2 = execute(PREFIX + "SELECT ?o WHERE { :alice :note ?o }", graph)
    assert out2.count() == 0


def test_group_by_aggregates(graph):
    out = execute(PREFIX + """
        SELECT ?t (COUNT(*) AS ?n) (AVG(?age) AS ?avg) WHERE {
            ?p a ?t . OPTIONAL { ?p :age ?age }
        } GROUP BY ?t""", graph)
    r = out.collect()[0]
    assert r["n"] == "4" and float(r["avg"]) == 30.0


def test_order_limit_offset(graph):
    q = PREFIX + """
        SELECT ?p ?age WHERE { ?p :age ?age } ORDER BY DESC(?age) LIMIT 2"""
    out = [r["p"] for r in execute(q, graph).collect()]
    assert out == ["http://ex/carol", "http://ex/alice"]


def test_property_path_sequence_and_plus(graph):
    out = execute(PREFIX + """
        SELECT ?x WHERE { :alice :knows/:knows ?x }""", graph)
    assert rows(out, "x") == [("http://ex/carol",)]
    out2 = execute(PREFIX + """
        SELECT ?x WHERE { :alice :knows+ ?x }""", graph)
    assert rows(out2, "x") == [("http://ex/bob",), ("http://ex/carol",)]


def test_property_path_inverse_alt(graph):
    out = execute(PREFIX + "SELECT ?x WHERE { :bob ^:knows ?x }", graph)
    assert rows(out, "x") == [("http://ex/alice",)]
    out2 = execute(PREFIX + "SELECT ?x WHERE { :bob (:knows|^:knows) ?x }", graph)
    assert rows(out2, "x") == [("http://ex/alice",), ("http://ex/carol",)]


def test_builtins_str_lang_regex(graph):
    out = execute(PREFIX + """
        SELECT ?p ?l WHERE {
            ?p :name ?n . FILTER(REGEX(STR(?n), "^Ali"))
            BIND(LANG(?n) AS ?l)
        }""", graph)
    assert rows(out, "p", "l") == [("http://ex/alice", "en")]


def test_distinct_and_ask(spark, graph):
    out = execute(PREFIX + "SELECT DISTINCT ?t WHERE { ?s a ?t }", graph)
    assert out.count() == 1
    ask_yes = execute(PREFIX + "ASK { :alice :knows :bob }", graph)
    assert ask_yes.collect()[0]["ask"] is True
    ask_no = execute(PREFIX + "ASK { :bob :knows :alice }", graph)
    assert ask_no.collect()[0]["ask"] is False


def test_construct(graph):
    out = execute(PREFIX + """
        CONSTRUCT { ?x :linked ?y } WHERE { ?x :knows ?y }""", graph)
    got = sorted((r["s"], r["p"], r["o"]) for r in out.collect())
    assert got == [
        ("http://ex/alice", "http://ex/linked", "http://ex/bob"),
        ("http://ex/bob", "http://ex/linked", "http://ex/carol"),
    ]


def test_subselect(graph):
    out = execute(PREFIX + """
        SELECT ?p WHERE {
            ?p :knows ?q .
            { SELECT ?q WHERE { ?q :age ?a . FILTER(?a > 30) } }
        }""", graph)
    assert rows(out, "p") == [("http://ex/bob",)]


def test_group_concat(graph):
    out = execute(PREFIX + """
        SELECT (GROUP_CONCAT(?n; SEPARATOR=",") AS ?names) WHERE {
            ?p :name ?n
        }""", graph)
    assert out.collect()[0]["names"] == "Alice,Bob"


def test_select_star_plan_is_join_of_scans(graph):
    df = execute(PREFIX + "SELECT * WHERE { ?s :knows ?o . ?o :age ?a }", graph,
                 simplify=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # constant-predicate filters must be pushed into the scans (no
    # full-table join of unfiltered triples)
    assert "knows" in plan


def test_optional_empty_disjoint_keeps_left(graph):
    """OPTIONAL with no shared vars and no matches must keep left rows
    with the optional vars unbound (a crossJoin would drop them)."""
    out = execute(PREFIX + """
        SELECT ?p ?z WHERE {
            ?p a :Person .
            OPTIONAL { :nonexistent :nothing ?z }
        }""", graph)
    got = rows(out, "p", "z")
    assert len(got) == 4 and all(z is None for _p, z in got)


def test_values_undef_is_unconstrained(graph):
    out = execute(PREFIX + """
        SELECT ?p ?age WHERE {
            ?p :age ?age .
            VALUES (?p ?age) { (:alice UNDEF) (UNDEF "25"^^<http://www.w3.org/2001/XMLSchema#integer>) }
        }""", graph)
    assert rows(out, "p", "age") == [
        ("http://ex/alice", "30"), ("http://ex/bob", "25")]


def test_min_max_on_strings(graph):
    out = execute(PREFIX + """
        SELECT (MIN(?n) AS ?lo) (MAX(?n) AS ?hi) WHERE { ?p :name ?n }""", graph)
    r = out.collect()[0]
    assert (r["lo"], r["hi"]) == ("Alice", "Bob")


def test_describe_iri(graph):
    out = execute(PREFIX + "DESCRIBE :alice", graph)
    # every triple mentioning alice (as s or o), across graphs
    assert out.count() == 5
    subjects = {r["s"] for r in out.collect()}
    assert "http://ex/alice" in subjects


def test_construct_where_shorthand(graph):
    out = execute(PREFIX + "CONSTRUCT WHERE { ?x :knows ?y }", graph)
    got = sorted((r["s"], r["o"]) for r in out.collect())
    assert got == [("http://ex/alice", "http://ex/bob"),
                   ("http://ex/bob", "http://ex/carol")]


def test_compatibility_join_unbound_union_var(graph):
    """SPARQL compatible-join: a shared var left unbound by one UNION
    branch joins with ANY binding and the merged solution takes the
    bound value (a null-unsafe equi-join would drop the branch)."""
    out = execute(PREFIX + """
        SELECT DISTINCT ?x ?y WHERE {
            { ?x :knows ?y } UNION { ?x a :Person }
            ?x :name ?y .
        }""", graph)
    # branch 1 binds ?y to IRIs — never equal to a name literal;
    # branch 2 leaves ?y unbound, so it must merge with the name pattern
    assert rows(out, "x", "y") == [
        ("http://ex/alice", "Alice"), ("http://ex/bob", "Bob")]


def test_minus_compatible_with_unbound_var(graph):
    """MINUS removes a solution when some right solution is compatible
    (unbound shared vars are compatible with anything) and shares at
    least one bound var — dave's unbound ?n must not shield it."""
    out = execute(PREFIX + """
        SELECT ?p ?n WHERE {
            ?p a :Person .
            OPTIONAL { ?p :age ?n }
            MINUS { ?p a :Person . ?q :age ?n }
        }""", graph)
    # right side has (p, n) for every person × every age value, so every
    # left row (including dave with ?n unbound) is compatible + overlapping
    assert out.count() == 0


def test_minus_unshared_bound_var_still_removes_exact(graph):
    out = execute(PREFIX + """
        SELECT ?p WHERE {
            ?p a :Person .
            MINUS { ?p :age ?a }
        }""", graph)
    assert rows(out, "p") == [("http://ex/dave",)]


# --- GRAPH ?var scope and EXISTS correlation: pinned regressions ---------

_PIN_COLS = ("doc_id string, s_kind string, s string, p_kind string, "
             "p string, o_kind string, o string, o_lang string, o_dt string, "
             "g_kind string, g string, s_off int, p_off int, o_off int")

# (s, p, o, g) over local names; g=None is the default graph
_PIN_QUADS = {
    "mixed": [("x", "p", "x", "g0"), ("y", "p", "z", "g1"),
              ("y", "p", "w", "g1"), ("a", "q", "b", None),
              ("c", "q", "d", None)],
    "chain": [("x", "p", "y", "g0"), ("y", "p", "z", "g1")],
}


@pytest.mark.parametrize("quads, query, cols, expected", [
    pytest.param(
        "mixed", "SELECT ?a { GRAPH ?a { FILTER EXISTS { ?a ?b ?a } } }",
        ("a",), [("g0",)], id="graph_var_filter_exists"),
    pytest.param(
        "mixed", "SELECT ?s { ?s :q ?o FILTER EXISTS "
                 "{ { ?s :q :none } UNION { ?u :q ?v } } }",
        ("s",), [("a",), ("c",)], id="exists_union_arm_unbound"),
    pytest.param(
        "mixed", "SELECT ?s { ?s :q ?o FILTER NOT EXISTS "
                 "{ { ?s :q :none } UNION { ?u :q ?v } } }",
        ("s",), [], id="not_exists_union_arm_unbound"),
    pytest.param(
        "mixed", "SELECT ?g ?s { GRAPH ?g { SELECT ?s { ?s ?p ?o } LIMIT 1 } }",
        ("g", "s"), [("g0", "x"), ("g1", "y")], id="subselect_limit_per_graph"),
    pytest.param(
        "chain", "SELECT ?g ?a ?b { GRAPH ?g { ?a :p/:p ?b } }",
        ("g", "a", "b"), [], id="path_seq_per_graph"),
    pytest.param(
        "chain", "SELECT ?g ?a ?b { GRAPH ?g { ?a ^:p ?b } }",
        ("g", "a", "b"), [("g0", "y", "x"), ("g1", "z", "y")],
        id="path_inverse_per_graph"),
    pytest.param(
        "chain", "SELECT ?g ?a ?b { GRAPH ?g { ?a :p+ ?b } }",
        ("g", "a", "b"), [("g0", "x", "y"), ("g1", "y", "z")],
        id="path_plus_per_graph"),
])
def test_graph_scope_and_exists_regressions(spark, quads, query, cols, expected):
    """Each case once returned a wrong answer: GRAPH ?v must evaluate
    its group once per named graph (EXISTS, subselect slices and
    property paths included), and EXISTS must treat a variable left
    unbound by the inner pattern as compatible with any binding."""
    ex = "http://ex/"
    df = spark.createDataFrame(
        [("doc", "iri", ex + s, "iri", ex + p, "iri", ex + o, None, None,
          "iri" if g else None, ex + g if g else None, None, None, None)
         for s, p, o, g in _PIN_QUADS[quads]], _PIN_COLS)
    got = [tuple(v[len(ex):] for v in r) for r in rows(execute(PREFIX + query, df), *cols)]
    assert got == expected


def test_describe_var_stays_distributed(graph, monkeypatch):
    """DESCRIBE with variable targets must build the IRI set as a
    semi-join, never collecting bindings to the driver (a driver-side
    materialization caps out long before 100 TB)."""
    import pyspark.sql as psql

    def boom(self):
        raise AssertionError("driver-side collect inside DESCRIBE compile")

    monkeypatch.setattr(psql.DataFrame, "collect", boom)
    out = execute(PREFIX + "DESCRIBE ?x WHERE { ?x :knows :bob }", graph)
    monkeypatch.undo()
    # ?x = alice → every triple mentioning alice as s or o
    assert out.count() == 5
    assert {r["s"] for r in out.collect()} >= {"http://ex/alice"}


def test_describe_star(graph, monkeypatch):
    import pyspark.sql as psql

    def boom(self):
        raise AssertionError("driver-side collect inside DESCRIBE compile")

    monkeypatch.setattr(psql.DataFrame, "collect", boom)
    out = execute(PREFIX + "DESCRIBE * WHERE { ?x :knows ?y }", graph)
    monkeypatch.undo()
    subjects = {r["s"] for r in out.collect()}
    assert {"http://ex/alice", "http://ex/bob", "http://ex/carol"} <= subjects


def test_public_api_quickstart(spark):
    """The README quick-start path end-to-end through the TOP-LEVEL
    package exports: raw docs -> extract_triples -> execute(SPARQL) ->
    DataFrame. Guards the public surface, not just the internals."""
    from mentor_rdf_parsers_spark import (
        execute as top_execute,
        execute_update as top_update,
        extract_triples as top_extract,
        split_extract as top_split,
    )

    docs = spark.createDataFrame(
        [
            (
                "doc0",
                [("text", "<http://ex/a> <http://ex/p> <http://ex/b> .", None, 0)],
                "ntriples",
                None,
            ),
            (
                "doc1",
                [("text", '<http://ex/b> <http://ex/name> "Bee" .', None, 0)],
                "ntriples",
                None,
            ),
        ],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int>>, syntax string, expect string",
    )
    triples, errors = top_split(top_extract(docs))
    assert errors.count() == 0
    out = top_execute(
        "SELECT ?s ?o WHERE { ?s <http://ex/p> ?o }", triples
    ).collect()
    assert [(r["s"], r["o"]) for r in out] == [("http://ex/a", "http://ex/b")]

    after = top_update(
        'DELETE WHERE { ?s <http://ex/name> "Bee" }', triples
    )
    assert after.count() == triples.count() - 1


class TestTripleTermBuiltins:
    """SPARQL 1.2 triple-term builtins over the canonical encoding (r4 —
    previously an explicit reject): SUBJECT/PREDICATE/OBJECT decompose
    the stored NT string fully JVM-side (r5 — regexp + length-arithmetic
    substring, no Python crossing); TRIPLE() serializes JVM-side
    byte-identically to parsing.terms.serialize_term so constructed
    terms join against table-sourced ones."""

    @staticmethod
    def _triples(spark):
        from mentor_rdf_parsers_spark.operators.extract import (
            extract_triples,
            split_extract,
        )
        from mentor_rdf_parsers_spark.schemas import DOCUMENTS

        ttl = """@prefix : <http://ex/> .
:a :says <<( :b :likes "ca\\"ke\\n"@en )>> .
:c :says <<( :d :likes <<( :e :knows :f )>> )>> .
:g :plain :h .
"""
        docs = spark.createDataFrame(
            [("d.ttl", [("text", ttl, None, 0)], "turtle", None)], DOCUMENTS)
        triples, errors = split_extract(extract_triples(docs, skolemize=False))
        assert errors.count() == 0
        return triples

    def test_accessors(self, spark):
        from mentor_rdf_parsers_spark.sparql.executor import execute

        out = execute(
            """SELECT ?s ?p ?o WHERE { <http://ex/a> <http://ex/says> ?t .
               BIND(SUBJECT(?t) AS ?s) BIND(PREDICATE(?t) AS ?p)
               BIND(OBJECT(?t) AS ?o) }""",
            self._triples(spark)).collect()
        assert len(out) == 1
        r = out[0]
        assert r["s"] == "http://ex/b" and r["p"] == "http://ex/likes"
        assert r["o"] == 'ca"ke\n'  # literal value round-trips the escaping

    def test_nested_object_is_tripleterm(self, spark):
        from mentor_rdf_parsers_spark.sparql.executor import execute

        out = execute(
            """SELECT ?o WHERE { <http://ex/c> <http://ex/says> ?t .
               BIND(OBJECT(?t) AS ?o) FILTER(isTRIPLE(?o)) }""",
            self._triples(spark)).collect()
        assert len(out) == 1
        assert out[0]["o"] == "<<( <http://ex/e> <http://ex/knows> <http://ex/f> )>>"

    def test_triple_constructor_joins_against_data(self, spark):
        from mentor_rdf_parsers_spark.sparql.executor import execute

        out = execute(
            """SELECT ?x WHERE { ?x <http://ex/says> ?t .
               FILTER(?t = TRIPLE(<http://ex/b>, <http://ex/likes>, "ca\\"ke\\n"@en)) }""",
            self._triples(spark)).collect()
        assert [r["x"] for r in out] == ["http://ex/a"]

    def test_accessor_of_non_tripleterm_is_unbound(self, spark):
        from mentor_rdf_parsers_spark.sparql.executor import execute

        out = execute(
            """SELECT ?s WHERE { <http://ex/g> <http://ex/plain> ?v .
               BIND(SUBJECT(?v) AS ?s) }""",
            self._triples(spark)).collect()
        assert len(out) == 1 and out[0]["s"] is None

    def test_values_tripleterm_matches_table_rows(self, spark):
        from mentor_rdf_parsers_spark.sparql.executor import execute

        out = execute(
            """SELECT ?x WHERE { ?x <http://ex/says> ?t .
               VALUES ?t { <<( <http://ex/b> <http://ex/likes> "ca\\"ke\\n"@en )>> } }""",
            self._triples(spark)).collect()
        assert [r["x"] for r in out] == ["http://ex/a"]

    def test_triple_constructor_unbound_arg_is_unbound(self, spark):
        """TRIPLE() with an unbound argument is an expression error per
        SPARQL 1.2 → the BIND target stays UNBOUND (whole-struct NULL),
        so BOUND(?t) is false and the projected cell is empty — not a
        half-bound kind='tripleterm' shell (r5 fix)."""
        from mentor_rdf_parsers_spark.sparql.executor import execute

        out = execute(
            """SELECT ?x ?t WHERE { ?x <http://ex/plain> ?o .
               OPTIONAL { ?x <http://ex/nope> ?missing }
               BIND(TRIPLE(?x, <http://ex/p>, ?missing) AS ?t)
               FILTER(!BOUND(?t)) }""",
            self._triples(spark)).collect()
        assert len(out) == 1
        assert out[0]["t"] is None

    def test_accessor_chain_on_nested_term(self, spark):
        """SUBJECT(OBJECT(?t)) recurses at the expression level — the
        nested term passes through as its canonical encoding and is
        decomposed again, all JVM-side."""
        from mentor_rdf_parsers_spark.sparql.executor import execute

        out = execute(
            """SELECT ?s WHERE { <http://ex/c> <http://ex/says> ?t .
               BIND(SUBJECT(OBJECT(?t)) AS ?s) }""",
            self._triples(spark)).collect()
        assert [r["s"] for r in out] == ["http://ex/e"]

    def test_accessor_unescape_is_order_safe(self, spark):
        """A literal object whose VALUE is backslash+n (two chars, not a
        newline) serializes as \\\\n — the accessor must round-trip it to
        backslash+n, the case naive sequential replaces corrupt."""
        from mentor_rdf_parsers_spark.operators.extract import (
            extract_triples,
            split_extract,
        )
        from mentor_rdf_parsers_spark.schemas import DOCUMENTS
        from mentor_rdf_parsers_spark.sparql.executor import execute

        # Turtle source: "\\n" = backslash+n; "\n" = newline
        ttl = ('@prefix : <http://ex/> .\n'
               ':a :says <<( :b :p "back\\\\nslash" )>> .\n'
               ':c :says <<( :d :p "new\\nline" )>> .\n')
        docs = spark.createDataFrame(
            [("d.ttl", [("text", ttl, None, 0)], "turtle", None)], DOCUMENTS)
        triples, errors = split_extract(extract_triples(docs, skolemize=False))
        assert errors.count() == 0
        out = execute(
            """SELECT ?x ?o WHERE { ?x <http://ex/says> ?t .
               BIND(OBJECT(?t) AS ?o) }""",
            triples).collect()
        vals = {r["x"]: r["o"] for r in out}
        assert vals["http://ex/a"] == "back\\nslash"
        assert vals["http://ex/c"] == "new\nline"

    def test_service_local_federation(self, spark):
        """r5 federation-lite: SERVICE <iri> resolves against a locally
        registered dataset map (no network) and joins its solutions back;
        SERVICE SILENT over an unregistered endpoint is the identity;
        a non-silent unregistered endpoint raises."""
        from mentor_rdf_parsers_spark.operators.extract import (
            extract_triples,
            split_extract,
        )
        from mentor_rdf_parsers_spark.schemas import DOCUMENTS
        from mentor_rdf_parsers_spark.sparql.executor import (
            SparqlExecutionError,
            execute,
        )

        def triples_of(ttl):
            docs = spark.createDataFrame(
                [("d.ttl", [("text", ttl, None, 0)], "turtle", None)],
                DOCUMENTS)
            t, errors = split_extract(extract_triples(docs, skolemize=False))
            assert errors.count() == 0
            return t

        local = triples_of(
            "@prefix : <http://ex/> .\n:a :knows :b .\n:b :knows :c .\n")
        remote = triples_of(
            '@prefix : <http://ex/> .\n:b :name "Bee" .\n:c :name "Cee" .\n')
        services = {"http://remote.example/sparql": remote}

        out = execute(
            """SELECT ?x ?n WHERE { <http://ex/a> <http://ex/knows> ?x .
               SERVICE <http://remote.example/sparql> {
                   ?x <http://ex/name> ?n } }""",
            local, services=services).collect()
        assert [(r["x"], r["n"]) for r in out] == [("http://ex/b", "Bee")]

        silent = execute(
            """SELECT ?x WHERE { <http://ex/a> <http://ex/knows> ?x .
               SERVICE SILENT <http://nowhere.example/> {
                   ?x <http://ex/name> ?n } }""",
            local, services=services).collect()
        assert [r["x"] for r in silent] == ["http://ex/b"]

        import pytest as _pytest

        with _pytest.raises(SparqlExecutionError, match="not a registered"):
            execute(
                """SELECT ?x WHERE { SERVICE <http://nowhere.example/> {
                       ?x ?p ?o } }""",
                local, services=services).collect()

    def test_accessor_plan_has_no_python_stage(self, spark):
        """VERDICT r4 ask #3 done-criterion: the physical plan for a
        SUBJECT/OBJECT query contains no Python evaluation node — the
        accessors stay inside whole-stage codegen."""
        from mentor_rdf_parsers_spark.sparql.executor import execute

        df = execute(
            """SELECT ?s ?o WHERE { <http://ex/a> <http://ex/says> ?t .
               BIND(SUBJECT(?t) AS ?s) BIND(OBJECT(?t) AS ?o) }""",
            self._triples(spark))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
