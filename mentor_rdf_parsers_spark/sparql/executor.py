"""SPARQL → Spark DataFrame executor.

The layer the reference does NOT have (its SPARQL module is parse-only,
/root/reference/src/index.ts:12): compiles the parser's AST into
DataFrame plans over the engine's `triples` table, following the mapping
table in SURVEY.md §2.B:

    BGP                → self-joins of `triples` on shared variables
    OPTIONAL           → left outer join
    UNION              → unionByName(allowMissingColumns)
    MINUS              → left anti join on shared vars
    FILTER (NOT) EXISTS→ left semi / left anti join (lazy, also with no
                         shared vars)
    FILTER expr        → where()
    BIND               → withColumn
    VALUES             → createDataFrame + join (broadcast)
    GRAPH <iri>        → filter on the `g` column
    GRAPH ?v           → every row tagged with its graph (`__active_g`),
                         ?v bound where the graph node exits
    GROUP BY + aggs    → groupBy().agg()
    ORDER/LIMIT/OFFSET → orderBy / limit / row_number window
    property paths     → join chains; +/* via operators.paths closure

Solution bindings are carried as one struct column per variable:
``struct<kind string, v string, lang string, dt string>`` with ''
sentinels for absent lang/dt (struct equality with embedded NULLs would
poison join keys). Catalyst prunes and reorders the joins; every join
here is an equi-join on struct columns.

Scale notes: triple-pattern scans push constant s/p/o filters down to
the storage scan (predicate pushdown visible in `.explain`); selective
patterns (all-constant or VALUES-bound) stay broadcastable so BGP chains
plan as broadcast joins; `+`/`*` paths reuse the checkpoint-per-round
transitive closure from operators.paths.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..operators.paths import transitive_closure
from ..parsing.terms import serialize_term
from .parser import RDF_TYPE, XSD, parse_sparql

TERM = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("v", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("dt", StringType(), False),
    ]
)

_NUMERIC_DTS = {
    XSD + "integer", XSD + "decimal", XSD + "double", XSD + "float",
    XSD + "int", XSD + "long", XSD + "short", XSD + "byte",
    XSD + "nonNegativeInteger", XSD + "positiveInteger",
}


# Inside GRAPH ?v { P } every frame carries the graph it was evaluated in
# as this TERM column, so joins, MINUS, EXISTS and subselect slices all
# correlate per graph; ?v itself is bound only where the graph node exits.
AG = "__active_g"


class SparqlExecutionError(Exception):
    pass


def _scope(graph) -> list:
    """The internal columns a frame carries in this graph context."""
    return [AG] if graph is not None and graph[0] == "var" else []


def _s_term() -> Column:
    return _term_struct(F.col("s_kind"), F.col("s"), F.lit(None), F.lit(None))


def _o_term() -> Column:
    return _term_struct(F.col("o_kind"), F.col("o"), F.col("o_lang"), F.col("o_dt"))


def _compat(a: Column, b: Column) -> Column:
    """SPARQL compatibility of one variable: an unbound (NULL) side
    matches anything."""
    return a.isNull() | b.isNull() | (a == b)


def _node_id(*cols: str) -> Column:
    return F.xxhash64(*[F.to_json(c) for c in cols])


def _term_struct(kind: Column, v: Column, lang: Column, dt: Column) -> Column:
    return F.struct(
        kind.alias("kind"), v.alias("v"),
        F.coalesce(lang, F.lit("")).alias("lang"),
        F.coalesce(dt, F.lit("")).alias("dt"),
    )


def _const_term(term) -> Column:
    """AST constant term → TERM struct literal column."""
    if term[0] == "iri":
        return _term_struct(F.lit("iri"), F.lit(term[1]), F.lit(""), F.lit(""))
    if term[0] == "literal":
        _, v, lang, dt = term
        return _term_struct(
            F.lit("literal"), F.lit(v), F.lit(lang or ""), F.lit(dt or "")
        )
    if term[0] == "bnode":
        # bnode in a query pattern acts as a non-projectable variable;
        # callers handle that — a *constant* bnode only appears via VALUES
        return _term_struct(F.lit("bnode"), F.lit(term[1]), F.lit(""), F.lit(""))
    if term[0] == "tripleterm":
        return _term_struct(
            F.lit("tripleterm"), F.lit(serialize_term(term)), F.lit(""), F.lit("")
        )
    raise SparqlExecutionError(f"cannot make constant from {term!r}")


def _nt_escape_sql(v: Column) -> Column:
    """JVM-side NT literal escaping, byte-identical to
    parsing.terms._escape_literal (backslash replaced FIRST = the same
    result as its single-pass regex)."""
    out = F.replace(v, F.lit("\\"), F.lit("\\\\"))
    for ch, esc in (('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"),
                    ("\t", "\\t"), ("\x08", "\\b"), ("\x0c", "\\f")):
        out = F.replace(out, F.lit(ch), F.lit(esc))
    return out


def _nt_of(t: Column) -> Column:
    """TERM struct → canonical NT 1.2 serialization (JVM-side mirror of
    parsing.terms.serialize_term). Unbound terms yield NULL, which
    null-propagates through the enclosing concat — TRIPLE() of an
    unbound argument is an expression error (unbound), per spec."""
    lit = F.concat(F.lit('"'), _nt_escape_sql(t["v"]), F.lit('"'))
    lit = (
        F.when(t["lang"] != "", F.concat(lit, F.lit("@"), t["lang"]))
        .when((t["dt"] != "") & (t["dt"] != XSD + "string"),
              F.concat(lit, F.lit("^^<"), t["dt"], F.lit(">")))
        .otherwise(lit)
    )
    return (
        F.when(t["kind"] == "iri", F.concat(F.lit("<"), t["v"], F.lit(">")))
        .when(t["kind"] == "bnode", F.concat(F.lit("_:"), t["v"]))
        .when(t["kind"] == "tripleterm", t["v"])
        .when(t["kind"] == "literal", lit)
    )


def _nt_unescape_sql(body: Column) -> Column:
    """Order-safe JVM-side reverse of parsing.terms._escape_literal:
    split on escaped-backslash pairs FIRST (each segment then contains
    no ``\\\\``, so the single-char escapes are unambiguous), unescape
    each segment, rejoin with one backslash. Sequential global replaces
    alone cannot undo escaping (``\\\\n`` = backslash+n, not newline)."""
    segs = F.split(body, r"\\\\", -1)

    def _unesc(x: Column) -> Column:
        for esc, ch in (('\\"', '"'), ("\\n", "\n"), ("\\r", "\r"),
                        ("\\t", "\t"), ("\\b", "\b"), ("\\f", "\f")):
            x = F.replace(x, F.lit(esc), F.lit(ch))
        return x

    return F.array_join(F.transform(segs, _unesc), "\\")


# literal body under NT escaping: runs of (non-quote-non-backslash | escape)
_NT_LIT_BODY = r'(?:[^"\\]|\\.)*'


def _nt_token_struct(tok: Column) -> Column:
    """One NT-serialized term token → TERM struct, fully JVM-side.
    Nested triple terms pass through verbatim (their v IS the canonical
    encoding), so accessor chains like SUBJECT(OBJECT(?t)) recurse at
    the expression level with no Python crossing."""
    body = F.regexp_extract(tok, f'^"({_NT_LIT_BODY})"', 1)
    lang = F.regexp_extract(tok, f'^"{_NT_LIT_BODY}"@(\\S+)$', 1)
    dt = F.regexp_extract(tok, f'^"{_NT_LIT_BODY}"\\^\\^<([^>]*)>$', 1)
    return (
        F.when(tok.startswith("<<("),
               _term_struct(F.lit("tripleterm"), tok, F.lit(""), F.lit("")))
        .when(tok.startswith("<"),
              _term_struct(F.lit("iri"),
                           tok.substr(F.lit(2), F.length(tok) - F.lit(2)),
                           F.lit(""), F.lit("")))
        .when(tok.startswith("_:"),
              _term_struct(F.lit("bnode"),
                           tok.substr(F.lit(3), F.length(tok)),
                           F.lit(""), F.lit("")))
        .when(tok.startswith('"'),
              _term_struct(F.lit("literal"), _nt_unescape_sql(body),
                           lang, dt))
    )


def _tripleterm_component(t: Column, pos: int) -> Column:
    """SUBJECT/PREDICATE/OBJECT over the canonical triple-term encoding
    (`<<( S P O )>>`, produced by parsing.terms.serialize_term) — fully
    JVM-side since r5 (r4 used an Arrow-batched UDF that re-parsed every
    row in Python; VERDICT r4 ask #3). The encoding is regular enough
    for whole-stage codegen: S and P are space-free tokens (RDF 1.2
    limits triple-term subjects to iri/bnode and predicates to iri), so
    O is a pure length-arithmetic substring — correct even when O is a
    literal with spaces or a nested `<<( … )>>` term. Non-triple-term
    inputs yield NULL (unbound, per spec); a claimed triple term whose
    encoding does not decode raises (serialize_term always re-parses,
    so that is data corruption, not user input — surfacing it beats
    silently returning unbound)."""
    v = F.when(t["kind"] == "tripleterm", t["v"])
    head = r"^<<\( (\S+) (\S+) "
    s_tok = F.regexp_extract(v, head, 1)
    p_tok = F.regexp_extract(v, head, 2)
    if pos == 0:
        tok = s_tok
    elif pos == 1:
        tok = p_tok
    else:
        # O spans [len('<<( S P ')+1, len(v)-len(' )>>')] (1-indexed)
        o_start = F.length(s_tok) + F.length(p_tok) + F.lit(7)
        o_len = F.length(v) - F.length(s_tok) - F.length(p_tok) - F.lit(10)
        tok = v.substr(o_start, o_len)
    decoded = (s_tok != "") & (p_tok != "")
    return F.when(v.isNull(), F.lit(None).cast(TERM)).when(
        decoded, _nt_token_struct(tok)
    ).otherwise(
        F.raise_error(F.concat(
            F.lit("corrupt canonical triple-term encoding: "), v
        )).cast(TERM)
    )


class Executor:
    """Compiles one parsed query against a triples DataFrame.

    `triples` must have the engine schema (s_kind, s, p, o_kind, o,
    o_lang, o_dt, g_kind, g). The default graph is rows with g IS NULL;
    named graphs are addressed via GRAPH.
    """

    def __init__(
        self,
        triples: DataFrame,
        spark: Optional[SparkSession] = None,
        services: "Optional[dict[str, DataFrame]]" = None,
    ):
        self.triples = triples
        self.spark = spark or triples.sparkSession
        self.services = services or {}
        self._bn = 0

    # ------------------------------------------------------------------ terms
    def _fresh(self) -> str:
        self._bn += 1
        return f"__v{self._bn}"

    def _scan(self, graph: Optional[object]) -> DataFrame:
        """Base scan with graph context applied.

        graph=None → default graph (g IS NULL); ('iri', v) → that named
        graph; ('var', name) → every named graph, each row tagged with
        its graph term as `__active_g`."""
        t = self.triples
        if graph is None:
            return t.where(F.col("g").isNull())
        if graph[0] == "iri":
            return t.where(F.col("g") == graph[1])
        return t.where(F.col("g").isNotNull()).withColumn(AG, _term_struct(
            F.coalesce(F.col("g_kind"), F.lit("iri")), F.col("g"),
            F.lit(None), F.lit(None),
        ))

    def _unit(self, graph) -> DataFrame:
        """The one empty solution μ0 — once per named graph inside
        GRAPH ?v."""
        if _scope(graph):
            return self._scan(graph).select(AG).distinct()
        return self.spark.range(1).select(F.lit(1).alias("__exists"))

    def _everywhere(self, df: DataFrame, graph) -> DataFrame:
        """A graph-independent frame (VALUES, SERVICE, a nested GRAPH)
        holds in every named graph of a GRAPH ?v scope."""
        return self._join_bindings(df, self._unit(graph)) if _scope(graph) else df

    def _pattern_df(self, s, p, o, graph) -> DataFrame:
        """One triple pattern → DataFrame of variable bindings."""
        t = self._scan(graph)
        cond = []
        proj: dict[str, Column] = {}

        def bind(term, kind_col, v_col, lang_col, dt_col):
            if term[0] in ("var", "bnode"):
                # bnode in pattern = fresh variable scoped to the query
                name = term[1] if term[0] == "var" else "?" + term[1]
                struct = _term_struct(kind_col, v_col, lang_col, dt_col)
                if name in proj:
                    # repeated variable WITHIN one pattern (?a ?a ?a):
                    # every occurrence must bind the same term (found by
                    # the round-5 differential fuzz vs the naive
                    # evaluator — the overwrite silently dropped the
                    # constraint)
                    cond.append(struct.eqNullSafe(proj[name]))
                else:
                    proj[name] = struct
            elif term[0] == "iri":
                cond.append((kind_col == "iri") & (v_col == term[1]))
            elif term[0] == "literal":
                _, v, lang, dt = term
                c = (kind_col == "literal") & (v_col == v)
                c = c & (lang_col.eqNullSafe(F.lit(lang)) if lang else lang_col.isNull())
                if dt in (XSD + "string", None):
                    c = c & (dt_col.isNull() | (dt_col == XSD + "string"))
                else:
                    c = c & (dt_col == dt)
                cond.append(c)
            else:
                raise SparqlExecutionError(f"unsupported pattern term {term!r}")

        bind(s, F.col("s_kind"), F.col("s"), F.lit(None).cast("string"), F.lit(None).cast("string"))
        bind(p, F.col("p_kind"), F.col("p"), F.lit(None).cast("string"), F.lit(None).cast("string"))
        bind(o, F.col("o_kind"), F.col("o"), F.col("o_lang"), F.col("o_dt"))
        for c in cond:
            t = t.where(c)
        if not proj:
            # all-constant pattern: keep existence as a single marker row
            # (per graph inside GRAPH ?v)
            if _scope(graph):
                return t.select(AG).distinct()
            return t.select(F.lit(1).alias("__exists")).limit(1)
        return t.select([c.alias(n) for n, c in proj.items()] + _scope(graph))

    def _path_df(self, s, path, o, graph) -> DataFrame:
        """Property-path pattern → (start, end) bindings joined to s/o."""
        pairs = self._path_pairs(path, graph)
        out_cols = {}
        df = pairs
        if s[0] == "var":
            out_cols[s[1]] = F.col("__src")
        if o[0] == "var":
            if o[1] in out_cols:
                # `?a <path> ?a`: both endpoints are the same variable —
                # constrain, don't overwrite (same bug class the round-5
                # differential fuzz caught in _pattern_df)
                df = df.where(F.col("__src").eqNullSafe(F.col("__dst")))
            else:
                out_cols[o[1]] = F.col("__dst")
        if s[0] != "var":
            df = df.where(F.col("__src") == _const_term(s))
        if o[0] != "var":
            df = df.where(F.col("__dst") == _const_term(o))
        if not out_cols and not _scope(graph):
            # both endpoints constant: μ0 multiplicity = number of path
            # matches (e.g. `<s> <p>/<q> <o>` with two intermediates is
            # μ0 × 2 per the spec's fresh-middle-variable translation) —
            # no limit(1) here, _join_bindings multiplies rows through
            return df.select(F.lit(1).alias("__exists"))
        return df.select([c.alias(n) for n, c in out_cols.items()] + _scope(graph))

    def _edges(self, t: DataFrame, graph, inverse: bool = False) -> DataFrame:
        src, dst = (_o_term(), _s_term()) if inverse else (_s_term(), _o_term())
        return t.select(src.alias("__src"), dst.alias("__dst"), *_scope(graph))

    def _path_pairs(self, path, graph) -> DataFrame:
        """(__src, __dst) pairs of a path, plus `__active_g` inside
        GRAPH ?v: every step stays within one graph."""
        sc = _scope(graph)
        if isinstance(path, tuple):  # plain iri predicate
            return self._edges(self._scan(graph).where(
                (F.col("p_kind") == "iri") & (F.col("p") == path[1])), graph)
        op = path["path"]
        if op == "inv":
            inner = self._path_pairs(path["inner"], graph)
            return inner.select(
                F.col("__dst").alias("__src"), F.col("__src").alias("__dst"), *sc
            )
        if op == "seq":
            # spec §18.4 translates X (P/Q) Y to a join over a fresh
            # middle variable — MULTISET semantics: two distinct
            # intermediate nodes yield two copies of (src, dst). Only
            # the closure modifiers (? * +) are defined set-wise.
            # (round-5 differential fuzz vs the naive evaluator)
            left = self._path_pairs(path["left"], graph).alias("l")
            right = self._path_pairs(path["right"], graph).alias("r")
            on = [F.col("l.__dst") == F.col("r.__src")]
            on += [F.col(f"l.{c}") == F.col(f"r.{c}") for c in sc]
            return left.join(right, on).select(
                F.col("l.__src").alias("__src"), F.col("r.__dst").alias("__dst"),
                *[F.col(f"l.{c}").alias(c) for c in sc],
            )
        if op == "alt":
            # bag union per spec (UNION of the two translations)
            return (
                self._path_pairs(path["left"], graph)
                .union(self._path_pairs(path["right"], graph))
            )
        if op == "neg":
            t = self._scan(graph).where(F.col("p_kind") == "iri")
            fwd_excl = [e["iri"][1] for e in path["set"] if not e["inv"]]
            inv_excl = [e["iri"][1] for e in path["set"] if e["inv"]]
            parts = []
            if fwd_excl or not inv_excl:
                fwd = t.where(~F.col("p").isin(fwd_excl) if fwd_excl else F.lit(True))
                parts.append(self._edges(fwd, graph))
            if inv_excl:
                parts.append(self._edges(t.where(~F.col("p").isin(inv_excl)),
                                         graph, inverse=True))
            # one solution per matching TRIPLE (multiset): two different
            # non-excluded predicates linking the same (s, o) are two rows
            return reduce(DataFrame.union, parts)
        if op == "mod":
            inner = self._path_pairs(path["inner"], graph)
            if path["mod"] == "?":
                return inner.union(self._loops(graph)).distinct()
            # closure over (node, graph) ids: a path never leaves its graph
            closure = transitive_closure(inner.select(
                _node_id("__src", *sc).alias("src"),
                _node_id("__dst", *sc).alias("dst")))
            # map hashed ids back to terms
            nodes = (
                inner.select(F.col("__src").alias("__n"), *sc)
                .union(inner.select("__dst", *sc))
                .distinct()
                .withColumn("__id", _node_id("__n", *sc))
            )
            pairs = (
                closure.join(nodes.select(F.col("__id").alias("src"),
                                          F.col("__n").alias("__src"), *sc), "src")
                .join(nodes.select(F.col("__id").alias("dst"),
                                   F.col("__n").alias("__dst")), "dst")
                .select("__src", "__dst", *sc)
            )
            if path["mod"] == "*":
                pairs = pairs.union(self._loops(graph)).distinct()
            return pairs
        raise SparqlExecutionError(f"unsupported path {path!r}")

    def _loops(self, graph) -> DataFrame:
        """Zero-length path pairs (n, n) over every node of the graph."""
        t = self._scan(graph)
        sc = _scope(graph)
        nodes = (
            t.select(_s_term().alias("__n"), *sc)
            .union(t.select(_o_term().alias("__n"), *sc))
            .distinct()
        )
        return nodes.select(F.col("__n").alias("__src"), F.col("__n").alias("__dst"), *sc)

    # ------------------------------------------------------------- patterns
    def _join_bindings(self, left: DataFrame, right: DataFrame, how: str = "inner") -> DataFrame:
        """The SPARQL compatible join of two binding frames, for every
        operator that correlates solutions: `inner` (Join), `left`
        (OPTIONAL), `left_semi` / `left_anti` (FILTER [NOT] EXISTS) and
        `minus` (MINUS, §18.5).

        Keys are the shared variables, plus `__active_g` when both sides
        carry it. An unbound (NULL) key on EITHER side is compatible with
        any value, and the merged solution takes the bound side; for
        EXISTS this is §18.6 substitution (a variable unbound in the
        outer row stays free, and one an inner UNION arm never binds
        constrains nothing). Keys can only be unbound when they came
        through OPTIONAL or a UNION arm that lacks them, exactly where
        Spark marks the column nullable, so with no nullable key the
        join stays a hashable equi-join and only nullable keys pay the
        condition join."""
        keys = [c for c in left.columns
                if c in right.columns and (c == AG or not c.startswith("__"))]
        variables = [c for c in keys if c != AG]
        filtering = how in ("left_semi", "left_anti", "minus")
        if filtering:
            if how == "minus" and not variables:
                # disjoint domains: Minus removes nothing
                return left
            # only whether a compatible right row exists matters: one row
            # per distinct key, or any one row when nothing is shared
            lx, rx = left, (right.select(keys).distinct() if keys
                            else right.select(F.lit(1).alias("__r")).limit(1))
        else:
            # A bindings-free frame is a MULTISET OF EMPTY SOLUTIONS — k
            # rows = μ0 with multiplicity k (an all-constant pattern is a
            # 0-or-1 row existence gate; a UNION of two matching gates is
            # μ0 × 2). Joining multiplies multiplicities, so zero rows
            # annihilate an inner join (never act as identity) and m rows
            # replicate the other side m times; a left join keeps left
            # rows when the right is empty. A join on TRUE has exactly
            # these semantics for both `inner` and `left`. (The round-5
            # differential fuzz caught both the old `return other side`
            # shortcut — `<s> <p> <o> .` matching nothing was a no-op —
            # and a limit(1) here that collapsed union multiplicities.)
            lx = left.drop("__exists") if "__exists" in left.columns else left
            rx = right.drop("__exists") if "__exists" in right.columns else right
            lx = lx if lx.columns else left.select(F.lit(1).alias("__l"))
            rx = rx if rx.columns else right.select(F.lit(1).alias("__r"))
        if not keys:
            # a left join on TRUE keeps left rows when the right is empty
            # (OPTIONAL with no shared vars); a crossJoin would drop them
            out = lx.crossJoin(rx) if how == "inner" else lx.join(rx, F.lit(True), how)
            rest = [c for c in out.columns if c not in ("__l", "__r")]
            return out.select(rest) if rest else out.select(F.lit(1).alias("__exists"))
        nullable = {c for c in keys if lx.schema[c].nullable or rx.schema[c].nullable}
        join_how = "left_anti" if how == "minus" else how
        if not nullable:
            return lx.join(rx, on=keys, how=join_how)

        def side(alias, c):
            return F.col(f"{alias}.`{c}`")

        cond = reduce(Column.__and__, [
            _compat(side("__L", c), side("__R", c)) if c in nullable
            else side("__L", c) == side("__R", c)
            for c in keys
        ])
        if how == "minus":
            # ... and only when the two solutions share a bound variable
            cond = cond & reduce(Column.__or__, [
                side("__L", c).isNotNull() & side("__R", c).isNotNull()
                for c in variables
            ])
        out = lx.alias("__L").join(rx.alias("__R"), cond, join_how)
        if filtering:
            return out
        return out.select(
            *[(F.coalesce(side("__L", c), side("__R", c)) if c in keys
               else side("__L", c)).alias(c) for c in lx.columns],
            *[side("__R", c).alias(c) for c in rx.columns if c not in keys],
        )

    def _compile_pattern(self, node, graph) -> DataFrame:
        t = node["type"]
        if t == "bgp":
            # join-order heuristic: most-constant patterns first (smallest
            # scans lead the join chain and stay broadcastable); stable
            # sort keeps shared-variable chains intact otherwise
            def selectivity(tp):
                s_, p_, o_ = tp
                consts = sum(
                    1 for term in (s_, p_, o_)
                    if isinstance(term, tuple) and term[0] in ("iri", "literal")
                )
                return -consts

            ordered = sorted(node["triples"], key=selectivity)
            df: Optional[DataFrame] = None
            for (s, p, o) in ordered:
                if isinstance(p, dict):
                    pat = self._path_df(s, p, o, graph)
                else:
                    pat = self._pattern_df(s, p, o, graph)
                df = pat if df is None else self._join_bindings(df, pat)
            return self._unit(graph) if df is None else df
        if t == "group":
            df = None
            filters = []
            for sub in node["patterns"]:
                if sub["type"] == "filter":
                    filters.append(sub["expr"])
                    continue
                if sub["type"] == "optional":
                    inner = self._compile_pattern(sub["pattern"], graph)
                    base = df if df is not None else self._unit(graph)
                    df = self._join_bindings(base, inner, "left")
                    continue
                if sub["type"] == "minus":
                    # Minus({μ0}, Ω) = {μ0}: the empty solution's domain
                    # never overlaps any μ2, so a MINUS that opens a group
                    # removes nothing (spec §18.5) — don't even evaluate
                    # the right side
                    if df is not None:
                        df = self._join_bindings(
                            df, self._compile_pattern(sub["pattern"], graph), "minus")
                    continue
                if sub["type"] == "bind":
                    if df is None:
                        df = self._unit(graph)
                    df = df.withColumn(sub["var"], self._expr_term(sub["expr"], df))
                    if "__exists" in df.columns:
                        df = df.drop("__exists")
                    continue
                if sub["type"] == "values" and df is not None:
                    df = self._apply_values(df, sub)
                    continue
                inner = self._compile_pattern(sub, graph)
                df = inner if df is None else self._join_bindings(df, inner)
            if df is None:
                df = self._unit(graph)
            for fexpr in filters:
                df = self._apply_filter(df, fexpr, graph)
            return df
        if t == "optional":
            # a bare OPTIONAL (the parser collapses one-element groups, so
            # `{ OPTIONAL { P } }` arrives without its group wrapper) is
            # LeftJoin(unit, P): when P matches nothing the result is ONE
            # solution with every variable unbound, not zero solutions
            # (round-5 differential fuzz vs the naive evaluator)
            inner = self._compile_pattern(node["pattern"], graph)
            return self._join_bindings(self._unit(graph), inner, "left")
        if t == "union":
            left = self._compile_pattern(node["left"], graph)
            right = self._compile_pattern(node["right"], graph)
            return left.unionByName(right, allowMissingColumns=True)
        if t == "filter":
            return self._apply_filter(self._unit(graph), node["expr"], graph)
        if t == "graph":
            name = node["name"]
            inner = self._compile_pattern(node["pattern"], name)
            if _scope(name):
                # Graph(?v, P) = ⋃ over named graphs g of
                # Join(eval(D[g], P), {?v→g}): P ran once per graph, every
                # row tagged with it, so ?v is bound here and only here —
                # as a compat join, so `GRAPH ?a { ?a … }` constrains ?a
                v, g = name[1], F.col(AG)
                if v in inner.columns:
                    inner = inner.where(_compat(F.col(v), g))
                    g = F.coalesce(F.col(v), g)
                inner = inner.withColumn(v, g).drop(AG)
            return self._everywhere(inner, graph)
        if t == "values":
            return self._everywhere(self._values_df(node), graph)
        if t == "subselect":
            # a subquery inherits the active graph (§13.3.1: GRAPH sets
            # the context for everything inside, subselects included)
            return self._run_select(node["query"], graph)
        if t == "minus":
            # parser collapses one-element groups, so `{ MINUS { P } }`
            # can arrive bare: Minus({μ0}, Ω) = {μ0} (see group handling)
            return self._unit(graph)
        if t == "service":
            # Federation-lite (r5): a SERVICE IRI resolves against the
            # locally registered dataset map (Executor(services={iri:
            # triples_df})) — no network, matching the engine's
            # file-local LOAD posture. The group is evaluated against
            # that dataset's DEFAULT graph (per spec, the remote
            # endpoint's own dataset applies inside SERVICE) and the
            # solutions join back like any group member. The reference
            # is parse-only here too (src/sparql/parser.ts:1251-1259).
            name = node["name"]
            if name[0] == "iri" and name[1] in self.services:
                sub = Executor(
                    self.services[name[1]], self.spark, self.services
                )
                return self._everywhere(sub._compile_pattern(node["pattern"], None), graph)
            if node.get("silent"):
                # SERVICE SILENT over an unreachable endpoint yields the
                # single empty solution (identity for the join)
                return self._unit(graph)
            if name[0] != "iri":
                raise SparqlExecutionError(
                    "SERVICE with a variable endpoint is not supported"
                )
            raise SparqlExecutionError(
                f"SERVICE endpoint <{name[1]}> is not a registered local "
                f"dataset (pass services={{iri: triples_df}}); remote "
                f"federation is out of scope"
            )
        if t == "bind":
            # parser collapses one-element groups, so `{ BIND(e AS ?v) }`
            # can arrive bare: Extend({μ0}, v, e) — one solution, with v
            # unbound when the expression errors (same collapse class as
            # bare OPTIONAL/MINUS; round-5 differential fuzz)
            unit = self._unit(graph)
            return unit.withColumn(
                node["var"], self._expr_term(node["expr"], unit)
            ).drop("__exists")
        raise SparqlExecutionError(f"unsupported pattern {t}")

    def _values_df(self, node) -> DataFrame:
        rows = []
        for row in node["rows"]:
            vals = []
            for term in row:
                if term is None:
                    vals.append(None)
                else:
                    kind = term[0]
                    if kind == "literal":
                        vals.append(("literal", term[1], term[2] or "", term[3] or ""))
                    elif kind == "iri":
                        vals.append(("iri", term[1], "", ""))
                    elif kind == "bnode":
                        vals.append(("bnode", term[1], "", ""))
                    elif kind == "tripleterm":
                        # canonical NT 1.2 encoding — the SAME string the
                        # triples table stores, so VALUES-bound triple
                        # terms join/compare against data rows (repr()
                        # here would silently never match)
                        vals.append(("tripleterm", serialize_term(term), "", ""))
                    else:
                        raise SparqlExecutionError(f"bad VALUES term {term!r}")
            rows.append(tuple(vals))
        schema = StructType(
            [StructField(v, TERM, True) for v in node["vars"]]
        )
        return self.spark.createDataFrame(rows, schema)

    def _apply_values(self, df: DataFrame, node) -> DataFrame:
        """Join VALUES rows honoring UNDEF semantics: an UNDEF cell
        constrains nothing, so rows are grouped by their defined-variable
        mask and each group joins only on its defined vars."""
        from collections import defaultdict

        groups: dict[tuple, list] = defaultdict(list)
        for row in node["rows"]:
            mask = tuple(v for v, cell in zip(node["vars"], row) if cell is not None)
            groups[mask].append([c for c in row if c is not None])
        outs = []
        for mask, rows in groups.items():
            if not mask:
                # each all-UNDEF row is one empty solution: Join(Ω, {μ0})
                # = Ω once PER ROW (two UNDEF rows double the multiset)
                outs.extend(df for _ in rows)
                continue
            vdf = self._values_df({"vars": list(mask), "rows": rows})
            outs.append(self._join_bindings(df, vdf))
        if not outs:
            return df.limit(0)
        res = outs[0]
        for x in outs[1:]:
            res = res.unionByName(x, allowMissingColumns=True)
        return res

    def _apply_filter(self, df: DataFrame, expr, graph) -> DataFrame:
        if isinstance(expr, dict) and expr.get("op") == "exists":
            inner = self._compile_pattern(expr["pattern"], graph)
            return self._join_bindings(
                df, inner, "left_anti" if expr["neg"] else "left_semi")
        return df.where(self._expr_bool(expr, df))

    # ---------------------------------------------------------- expressions
    def _col(self, df: DataFrame, name: str) -> Column:
        if name in df.columns:
            return F.col(name)
        return F.lit(None).cast(TERM)

    def _expr_term(self, e, df: DataFrame) -> Column:
        """Expression → TERM struct column."""
        if isinstance(e, tuple):
            if e[0] == "var":
                return self._col(df, e[1])
            return _const_term(e)
        op = e["op"]
        if op == "call":
            return self._call_term(e, df)
        if op in ("+", "-", "*", "/", "neg"):
            n = self._expr_num(e, df)
            return _term_struct(
                F.lit("literal"), F.format_string("%s", n.cast("string")),
                F.lit(""), F.lit(XSD + "double"),
            )
        if op in ("=", "!=", "<", ">", "<=", ">=", "&&", "||", "!", "in",
                  "not in", "exists"):
            # three-valued: a type ERROR (NULL boolean) must surface as
            # an ERROR term (NULL struct) so BIND leaves the target
            # UNBOUND — `otherwise("false")` silently converted errors
            # to false (round-5 differential fuzz)
            b = self._expr_bool(e, df)
            v = F.when(b, F.lit("true")).when(~b, F.lit("false"))
            return F.when(
                v.isNotNull(),
                _term_struct(F.lit("literal"), v, F.lit(""),
                             F.lit(XSD + "boolean")),
            )
        raise SparqlExecutionError(f"unsupported expression {op}")

    def _v(self, e, df) -> Column:
        return self._expr_term(e, df)["v"]

    def _expr_num(self, e, df: DataFrame) -> Column:
        if isinstance(e, tuple):
            if e[0] == "var":
                return self._col(df, e[1])["v"].cast("double")
            if e[0] == "literal":
                return F.lit(float(e[1]))
            raise SparqlExecutionError(f"non-numeric term {e!r}")
        op = e["op"]
        if op == "+":
            return self._expr_num(e["args"][0], df) + self._expr_num(e["args"][1], df)
        if op == "-":
            return self._expr_num(e["args"][0], df) - self._expr_num(e["args"][1], df)
        if op == "*":
            return self._expr_num(e["args"][0], df) * self._expr_num(e["args"][1], df)
        if op == "/":
            return self._expr_num(e["args"][0], df) / self._expr_num(e["args"][1], df)
        if op == "neg":
            return -self._expr_num(e["args"][0], df)
        if op == "call":
            name = e["name"]
            if name in ("ABS", "CEIL", "FLOOR", "ROUND"):
                inner = self._expr_num(e["args"][0], df)
                return {"ABS": F.abs, "CEIL": F.ceil, "FLOOR": F.floor,
                        "ROUND": F.round}[name](inner).cast("double")
            if name == "STRLEN":
                return F.length(self._v(e["args"][0], df)).cast("double")
        return self._expr_term(e, df)["v"].cast("double")

    def _numericish(self, e, df) -> tuple[Column, Column]:
        """(is_numeric, numeric_value) for comparison dispatch."""
        t = self._expr_term(e, df)
        isnum = t["dt"].isin(*_NUMERIC_DTS)
        return isnum, t["v"].cast("double")

    def _expr_bool(self, e, df: DataFrame) -> Column:
        if isinstance(e, tuple):
            if e[0] == "var":
                c = self._col(df, e[1])
                return (c["dt"] == XSD + "boolean") & (c["v"] == "true")
            if e[0] == "literal":
                return F.lit(e[1] == "true")
            raise SparqlExecutionError(f"non-boolean term {e!r}")
        op = e["op"]
        if op == "&&":
            return self._expr_bool(e["args"][0], df) & self._expr_bool(e["args"][1], df)
        if op == "||":
            return self._expr_bool(e["args"][0], df) | self._expr_bool(e["args"][1], df)
        if op == "!":
            return ~self._expr_bool(e["args"][0], df)
        if op in ("=", "!=", "<", ">", "<=", ">="):
            # THREE-VALUED (§17.2/§17.3): a type error is a NULL Column —
            # Spark's AND/OR/NOT over NULL is exactly SPARQL's Kleene
            # tables, `where()` drops NULL like it drops false, and an
            # un-defaulted `F.when` chain yields NULL for the error arm.
            # The old two-valued fallbacks ("a"@en = "a" → false instead
            # of error, string-ordering any mixed pair) survived plain
            # FILTERs but inverted under `!` — caught by the round-5
            # differential fuzz.
            l, r = e["args"]
            lt, rt = self._expr_term(l, df), self._expr_term(r, df)
            lnum, lval = self._numericish(l, df)
            rnum, rval = self._numericish(r, df)
            both_num = lnum & rnum
            _simple = lambda t: (  # noqa: E731 — plain/xsd:string literal
                (t["kind"] == "literal") & t["dt"].isin("", XSD + "string")
                & (t["lang"] == "")
            )
            both_simple = _simple(lt) & _simple(rt)
            same_term = (
                (lt["kind"] == rt["kind"]) & (lt["v"] == rt["v"])
                & (lt["lang"] == rt["lang"]) & (lt["dt"] == rt["dt"])
            )
            if op in ("=", "!="):
                both_lit = (lt["kind"] == "literal") & (rt["kind"] == "literal")
                eq = (
                    # unbound operand FIRST: the final `otherwise` must
                    # never see it (unbound = unbound is an ERROR, not
                    # false — stress fuzz on BIND((?a = ?a) AS ?e))
                    F.when(lt.isNull() | rt.isNull(),
                           F.lit(None).cast("boolean"))
                    .when(both_num, lval == rval)    # value compare; bad lexical → NULL
                    .when(same_term, F.lit(True))    # RDFterm-equal
                    .when(both_simple, F.lit(False))  # same (string) type, ≠ values
                    .when(both_lit, F.lit(None).cast("boolean"))  # incomparable literals
                    .otherwise(F.lit(False))         # distinct non-literal terms
                )
                return ~eq if op == "!=" else eq
            cmpmap = {
                "<": lambda a, b: a < b, ">": lambda a, b: a > b,
                "<=": lambda a, b: a <= b, ">=": lambda a, b: a >= b,
            }
            # ordering is defined for numeric×numeric and string×string
            # (fn:compare = codepoint order = Spark UTF8 binary order);
            # every other pairing is a type error → NULL (no otherwise)
            return (
                F.when(both_num, cmpmap[op](lval, rval))
                .when(both_simple, cmpmap[op](lt["v"], rt["v"]))
            )
        if op in ("in", "not in"):
            # IN ≡ (x = t1 || x = t2 || …): fold with Kleene OR so a
            # type-erroring comparison poisons a non-match but not a hit
            cond = F.lit(False)
            for opt in e["args"][1:]:
                cond = cond | self._expr_bool(
                    {"op": "=", "args": [e["args"][0], opt]}, df)
            return ~cond if op == "not in" else cond
        if op == "call":
            return self._call_bool(e, df)
        if op == "exists":
            raise SparqlExecutionError("EXISTS must be a top-level filter")
        raise SparqlExecutionError(f"unsupported boolean expr {op}")

    def _call_bool(self, e, df: DataFrame) -> Column:
        name = e["name"]
        args = e["args"]
        if name == "BOUND":
            return self._col(df, args[0][1]).isNotNull()
        if name in ("ISIRI", "ISURI"):
            return self._expr_term(args[0], df)["kind"] == "iri"
        if name == "ISBLANK":
            return self._expr_term(args[0], df)["kind"] == "bnode"
        if name == "ISLITERAL":
            return self._expr_term(args[0], df)["kind"] == "literal"
        if name == "ISNUMERIC":
            t = self._expr_term(args[0], df)
            return (t["kind"] == "literal") & t["dt"].isin(*_NUMERIC_DTS)
        if name == "ISTRIPLE":
            return self._expr_term(args[0], df)["kind"] == "tripleterm"
        if name == "REGEX":
            target = self._v(args[0], df)
            pat = self._v(args[1], df)
            if len(args) > 2:
                flags = self._v(args[2], df)
                pat = F.concat(F.lit("(?"), flags, F.lit(")"), pat)
            return F.regexp_like(target, pat)
        if name == "CONTAINS":
            return F.contains(self._v(args[0], df), self._v(args[1], df))
        if name == "STRSTARTS":
            return F.startswith(self._v(args[0], df), self._v(args[1], df))
        if name == "STRENDS":
            return F.endswith(self._v(args[0], df), self._v(args[1], df))
        if name == "SAMETERM":
            a = self._expr_term(args[0], df)
            b = self._expr_term(args[1], df)
            return (a["kind"] == b["kind"]) & (a["v"] == b["v"]) & \
                (a["lang"] == b["lang"]) & (a["dt"] == b["dt"])
        if name == "LANGMATCHES":
            tag = self._v(args[0], df)
            rng = self._v(args[1], df)
            return F.when(rng == "*", tag != "").otherwise(
                F.lower(tag) == F.lower(rng)
            )
        if name in ("HASLANG",):
            return self._expr_term(args[0], df)["lang"] != ""
        if name in ("HASLANGDIR",):
            return self._expr_term(args[0], df)["lang"].contains("--")
        # boolean-valued fallthrough: treat term as boolean literal
        t = self._call_term(e, df)
        return (t["dt"] == XSD + "boolean") & (t["v"] == "true")

    _BOOLEAN_CALLS = frozenset({
        "BOUND", "ISIRI", "ISURI", "ISBLANK", "ISLITERAL", "ISNUMERIC",
        "ISTRIPLE", "REGEX", "CONTAINS", "STRSTARTS", "STRENDS",
        "SAMETERM", "LANGMATCHES", "HASLANG", "HASLANGDIR",
    })

    def _call_term(self, e, df: DataFrame) -> Column:
        name = e["name"]
        args = e["args"]

        if name in self._BOOLEAN_CALLS:
            # boolean builtin in a TERM context (e.g. BIND(BOUND(?a) AS
            # ?e)) → xsd:boolean literal; NULL (type error) propagates
            # to a NULL struct so the BIND target stays unbound
            b = self._call_bool(e, df)
            v = F.when(b, F.lit("true")).when(~b, F.lit("false"))
            return F.when(
                v.isNotNull(),
                _term_struct(F.lit("literal"), v, F.lit(""),
                             F.lit(XSD + "boolean")),
            )

        def lit_str(c: Column) -> Column:
            return _term_struct(F.lit("literal"), c, F.lit(""), F.lit(""))

        if name == "STR":
            return lit_str(self._expr_term(args[0], df)["v"])
        if name == "LANG":
            return lit_str(self._expr_term(args[0], df)["lang"])
        if name == "LANGDIR":
            lang = self._expr_term(args[0], df)["lang"]
            return lit_str(
                F.when(lang.contains("--"), F.substring_index(lang, "--", -1))
                .otherwise(F.lit(""))
            )
        if name == "DATATYPE":
            t = self._expr_term(args[0], df)
            v = F.when(t["lang"] != "", F.lit(RDF_TYPE[1].rsplit("#", 1)[0] + "#langString")) \
                .when(t["dt"] != "", t["dt"]).otherwise(F.lit(XSD + "string"))
            return _term_struct(F.lit("iri"), v, F.lit(""), F.lit(""))
        if name in ("IRI", "URI"):
            return _term_struct(F.lit("iri"), self._v(args[0], df), F.lit(""), F.lit(""))
        if name == "UCASE":
            return lit_str(F.upper(self._v(args[0], df)))
        if name == "LCASE":
            return lit_str(F.lower(self._v(args[0], df)))
        if name == "CONCAT":
            return lit_str(F.concat(*[self._v(a, df) for a in args]))
        if name == "SUBSTR":
            src = self._v(args[0], df)
            start = self._expr_num(args[1], df).cast("int")
            if len(args) > 2:
                length = self._expr_num(args[2], df).cast("int")
                return lit_str(src.substr(start, length))
            return lit_str(src.substr(start, F.lit(1 << 30)))
        if name == "STRBEFORE":
            a, b = self._v(args[0], df), self._v(args[1], df)
            pos = F.instr(a, b)
            return lit_str(F.when(pos > 0, a.substr(F.lit(1), pos - 1)).otherwise(F.lit("")))
        if name == "STRAFTER":
            a, b = self._v(args[0], df), self._v(args[1], df)
            pos = F.instr(a, b)
            return lit_str(
                F.when(pos > 0, a.substr(pos + F.length(b), F.lit(1 << 30))).otherwise(F.lit(""))
            )
        if name == "REPLACE":
            return lit_str(F.regexp_replace(
                self._v(args[0], df), self._v(args[1], df), self._v(args[2], df)
            ))
        if name == "ENCODE_FOR_URI":
            return lit_str(F.url_encode(self._v(args[0], df)))
        if name in ("MD5", "SHA1", "SHA256", "SHA384", "SHA512"):
            v = self._v(args[0], df)
            col = {"MD5": F.md5(v), "SHA1": F.sha1(v),
                   "SHA256": F.sha2(v, 256), "SHA384": F.sha2(v, 384),
                   "SHA512": F.sha2(v, 512)}[name]
            return lit_str(col)
        if name == "COALESCE":
            return F.coalesce(*[self._expr_term(a, df) for a in args])
        if name == "IF":
            return F.when(
                self._expr_bool(args[0], df), self._expr_term(args[1], df)
            ).otherwise(self._expr_term(args[2], df))
        if name == "STRLEN":
            n = F.length(self._v(args[0], df))
            return _term_struct(F.lit("literal"), n.cast("string"), F.lit(""),
                                F.lit(XSD + "integer"))
        if name in ("ABS", "CEIL", "FLOOR", "ROUND"):
            n = self._expr_num(e, df)
            return _term_struct(F.lit("literal"), n.cast("string"), F.lit(""),
                                F.lit(XSD + "double"))
        if name == "STRDT":
            return _term_struct(F.lit("literal"), self._v(args[0], df), F.lit(""),
                                self._expr_term(args[1], df)["v"])
        if name == "STRLANG":
            return _term_struct(F.lit("literal"), self._v(args[0], df),
                                self._v(args[1], df), F.lit(""))
        if name == "BNODE":
            if not args:
                return _term_struct(F.lit("bnode"),
                                    F.concat(F.lit("gen"), F.monotonically_increasing_id().cast("string")),
                                    F.lit(""), F.lit(""))
            return _term_struct(F.lit("bnode"), self._v(args[0], df), F.lit(""), F.lit(""))
        if name == "UUID":
            return _term_struct(F.lit("iri"), F.concat(F.lit("urn:uuid:"), F.expr("uuid()")),
                                F.lit(""), F.lit(""))
        if name == "STRUUID":
            return lit_str(F.expr("uuid()"))
        if name == "NOW":
            return _term_struct(
                F.lit("literal"),
                F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss"),
                F.lit(""), F.lit(XSD + "dateTime"),
            )
        if name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
            ts = F.to_timestamp(self._v(args[0], df))
            col = {"YEAR": F.year, "MONTH": F.month, "DAY": F.dayofmonth,
                   "HOURS": F.hour, "MINUTES": F.minute, "SECONDS": F.second}[name](ts)
            return _term_struct(F.lit("literal"), col.cast("string"), F.lit(""),
                                F.lit(XSD + "integer"))
        if name in ("SUBJECT", "PREDICATE", "OBJECT"):
            pos = {"SUBJECT": 0, "PREDICATE": 1, "OBJECT": 2}[name]
            return _tripleterm_component(self._expr_term(args[0], df), pos)
        if name == "TRIPLE":
            # constructor: canonical NT 1.2 encoding built JVM-side, byte-
            # identical to parsing.terms.serialize_term so constructed
            # terms join/compare against table-sourced triple terms
            s, p, o = (self._expr_term(a, df) for a in args[:3])
            v = F.concat(F.lit("<<( "), _nt_of(s), F.lit(" "), _nt_of(p),
                         F.lit(" "), _nt_of(o), F.lit(" )>>"))
            # an unbound argument null-propagates through the concat; per
            # SPARQL 1.2 the constructor then errors → the BIND target is
            # UNBOUND, so the WHOLE struct must be NULL (a half-bound
            # kind='tripleterm' shell would make BOUND() true and emit a
            # malformed term row)
            return F.when(
                v.isNotNull(),
                _term_struct(F.lit("tripleterm"), v, F.lit(""), F.lit("")),
            )
        raise SparqlExecutionError(f"unsupported builtin {name}")

    # ---------------------------------------------------------- aggregates
    def _agg_col(self, agg, df: DataFrame) -> Column:
        name = agg["name"]
        if name == "COUNT" and agg["arg"] == "*":
            return F.count("*").cast("string")
        target = self._expr_term(agg["arg"], df)
        v = target["v"]
        if agg["distinct"]:
            if name == "COUNT":
                return F.count_distinct(target).cast("string")
            v_num = v.cast("double")
            if name == "SUM":
                return F.sum_distinct(v_num).cast("string")
        num = v.cast("double")
        if name == "COUNT":
            return F.count(target).cast("string")
        if name == "SUM":
            return F.sum(num).cast("string")
        if name == "AVG":
            return F.avg(num).cast("string")
        if name == "MIN":
            # numeric min when any value parses as a number, else lexical
            # (SPARQL leaves mixed-type aggregation to the engine)
            return F.coalesce(F.min(v.try_cast("double")).cast("string"), F.min(v))
        if name == "MAX":
            return F.coalesce(F.max(v.try_cast("double")).cast("string"), F.max(v))
        if name == "SAMPLE":
            return F.first(v, ignorenulls=True)
        if name == "GROUP_CONCAT":
            sep = agg["separator"] if agg["separator"] is not None else " "
            col = F.array_sort(
                F.collect_set(v) if agg["distinct"] else F.collect_list(v)
            )
            return F.array_join(col, sep)
        raise SparqlExecutionError(f"unsupported aggregate {name}")

    # ------------------------------------------------------------- queries
    def _run_select(self, q, graph=None) -> DataFrame:
        df = self._compile_pattern(q["where"], graph)
        if q.get("values"):
            vdf = self._values_df(q["values"])
            df = self._join_bindings(df, vdf)
        mods = q.get("modifiers", {})
        proj = q["projection"]
        # a subselect under GRAPH ?v runs once per named graph (§13.3):
        # `__active_g` rides through grouping, projection and DISTINCT,
        # and the slice below is cut per graph
        sc = _scope(graph)

        group_by = mods.get("group_by")
        has_agg = any(p[0] == "expr" and _has_agg(p[1]) for p in proj if proj != "*")
        if group_by or has_agg:
            keys = []
            for g in group_by or []:
                if g[0] == "var":
                    keys.append(g[1])
                else:
                    alias = g[2] or self._fresh()
                    df = df.withColumn(alias, self._expr_term(g[1], df))
                    keys.append(alias)
            aggs = []
            out_names = []
            for p in proj:
                if p[0] == "var":
                    if p[1] not in keys:
                        raise SparqlExecutionError(
                            f"?{p[1]} must appear in GROUP BY"
                        )
                    out_names.append(p[1])
                else:
                    expr, alias = p[1], p[2]
                    aggs.append(self._agg_expr_struct(expr, df).alias(alias))
                    out_names.append(alias)
            keys += sc
            gdf = df.groupBy(*[F.col(k) for k in keys]) if keys else df.groupBy()
            df = gdf.agg(*aggs) if aggs else gdf.agg(F.count("*").alias("__n")).drop("__n")
            for h in mods.get("having", []):
                df = df.where(self._expr_bool(h, df))
            df = df.select(*[F.col(n) for n in out_names + sc])
        else:
            if proj == "*":
                cols = [c for c in df.columns if not c.startswith("__") and not c.startswith("?")]
                cols += sc
                df = df.select(*cols) if cols else df
            else:
                sel = []
                for p in proj:
                    if p[0] == "var":
                        sel.append(self._col(df, p[1]).alias(p[1]))
                    else:
                        sel.append(self._expr_term(p[1], df).alias(p[2]))
                df = df.select(*sel, *sc)

        if q.get("distinct") or q.get("reduced"):
            df = df.dropDuplicates()
        order = []
        for direction, expr in mods.get("order_by") or []:
            if isinstance(expr, tuple) and expr[0] == "var" and expr[1] in df.columns:
                c = F.when(
                    F.col(expr[1])["dt"].isin(*_NUMERIC_DTS),
                    F.col(expr[1])["v"].cast("double"),
                ).otherwise(F.lit(None))
                c2 = F.col(expr[1])["v"]
                for base in (c, c2):
                    order.append(base.desc() if direction == "desc" else base.asc())
            else:
                c = self._expr_term(expr, df)["v"]
                order.append(c.desc() if direction == "desc" else c.asc())
        offset = mods.get("offset") or 0
        limit = mods.get("limit")
        if sc and (offset or limit is not None):
            # per-graph slice: number each graph's rows in ORDER BY order
            # (any order without one — §18.5 makes that slice arbitrary)
            rn = F.row_number().over(
                Window.partitionBy(AG).orderBy(*(order or [F.lit(0)])))
            df = df.withColumn("__rn", rn).where(F.col("__rn") > offset)
            if limit is not None:
                df = df.where(F.col("__rn") <= offset + limit)
            return df.drop("__rn")
        if order:
            df = df.orderBy(*order)
        if offset:
            # Native Offset node (Spark >= 3.4). With ORDER BY + LIMIT the
            # planner fuses sort/offset/limit into TakeOrderedAndProject
            # (no global single-partition window — the previous
            # Window.orderBy(monotonically_increasing_id()) collapsed the
            # whole result set into one task to number rows). Without
            # ORDER BY, SPARQL 1.2 §18.5 makes OFFSET an arbitrary slice,
            # so whatever slice Offset picks is conformant.
            df = df.offset(offset)
        if limit is not None:
            df = df.limit(limit)
        return df

    def _agg_expr_struct(self, expr, df) -> Column:
        """Aggregate (possibly wrapped) expression → TERM struct aggregate."""
        if isinstance(expr, dict) and expr.get("op") == "agg":
            v = self._agg_col(expr, df)
            dt = F.lit("") if expr["name"] in ("SAMPLE", "GROUP_CONCAT") else F.lit(XSD + "double")
            if expr["name"] == "COUNT":
                dt = F.lit(XSD + "integer")
            return F.struct(
                F.lit("literal").alias("kind"), v.cast("string").alias("v"),
                F.lit("").alias("lang"), dt.alias("dt"),
            )
        raise SparqlExecutionError("projection expression must be an aggregate here")

    # public API ------------------------------------------------------------
    def run(self, q) -> DataFrame:
        form = q["form"]
        if form == "select":
            return self._run_select(q)
        if form == "ask":
            # a lazy one-row frame: true iff the pattern has a solution
            hit = self._compile_pattern(q["where"], None).select(
                F.lit(1).alias("__hit")).limit(1)
            return self._unit(None).join(hit, F.lit(True), "left").select(
                F.col("__hit").isNotNull().alias("ask"))
        if form == "construct":
            df = self._compile_pattern(q["where"], None)
            outs = []
            for (s, p, o) in q["template"]:
                if isinstance(p, dict):
                    raise SparqlExecutionError("paths not allowed in CONSTRUCT template")
                st = self._expr_term(s, df) if s[0] == "var" else _const_term(s)
                pt = self._expr_term(p, df) if p[0] == "var" else _const_term(p)
                ot = self._expr_term(o, df) if o[0] == "var" else _const_term(o)
                # §16.2: a solution that leaves a template variable
                # unbound, or instantiates an invalid RDF triple
                # (literal subject, non-IRI predicate), contributes
                # nothing — drop, don't emit NULL/malformed rows
                # (round-5 differential fuzz)
                keep = (
                    st.isNotNull() & pt.isNotNull() & ot.isNotNull()
                    & (st["kind"] != "literal") & (pt["kind"] == "iri")
                )
                outs.append(df.where(keep).select(
                    st["kind"].alias("s_kind"), st["v"].alias("s"),
                    pt["v"].alias("p"),
                    ot["kind"].alias("o_kind"), ot["v"].alias("o"),
                    F.when(ot["lang"] == "", None).otherwise(ot["lang"]).alias("o_lang"),
                    F.when(ot["dt"] == "", None).otherwise(ot["dt"]).alias("o_dt"),
                ))
            out = outs[0]
            for x in outs[1:]:
                out = out.unionByName(x)
            return out.dropDuplicates()
        if form == "describe":
            # the described-IRI set stays a DataFrame end to end (never
            # collected to the driver — at scale the binding set can be
            # arbitrarily large); the store is then LEFT SEMI joined on
            # s and on o. Constant targets come from the query text, so
            # a driver-side literal frame for them is bounded and fine.
            const_iris = [
                t[1] for t in (q["targets"] if q["targets"] != "*" else [])
                if t[0] == "iri"
            ]
            parts = []
            if const_iris:
                parts.append(self.spark.createDataFrame(
                    [(i,) for i in const_iris], "__iri string"))
            if q["where"] is not None:
                df = self._compile_pattern(q["where"], None)
                if q["targets"] == "*":
                    var_targets = [c for c in df.columns if not c.startswith("__")]
                else:
                    var_targets = [t[1] for t in q["targets"] if t[0] == "var"]
                for c in var_targets:
                    parts.append(
                        df.where(F.col(c).isNotNull() & (F.col(c)["kind"] == "iri"))
                        .select(F.col(c)["v"].alias("__iri"))
                    )
            if not parts:
                return self.triples.limit(0)
            iris = parts[0]
            for p in parts[1:]:
                iris = iris.union(p)
            iris = iris.distinct()
            on_s = self.triples.join(
                iris, self.triples["s"] == iris["__iri"], "left_semi")
            on_o = self.triples.join(
                iris, self.triples["o"] == iris["__iri"], "left_semi")
            return on_s.union(on_o).dropDuplicates()
        raise SparqlExecutionError(f"unsupported form {form}")


def _has_agg(expr) -> bool:
    if isinstance(expr, dict):
        if expr.get("op") == "agg":
            return True
        return any(_has_agg(v) for v in expr.values() if isinstance(v, (dict, list)))
    return False


def execute(
    query: str, triples: DataFrame, simplify: bool = True,
    services: "Optional[dict[str, DataFrame]]" = None,
) -> DataFrame:
    """Parse + execute a SPARQL query over the engine triples table.

    With simplify=True (default), SELECT results expose one plain string
    column per variable (the term's lexical value, NULL when unbound) —
    the driver/oracle-friendly shape. simplify=False keeps the full
    term structs (kind, v, lang, dt).

    ``services`` maps SERVICE endpoint IRIs to locally registered
    triples DataFrames (federation-lite — no network); an unregistered
    endpoint raises unless SERVICE SILENT."""
    q = parse_sparql(query)
    if q.get("type") == "update":
        raise SparqlExecutionError(
            "updates are executed by the pipeline materializer, not execute()"
        )
    df = Executor(triples, services=services).run(q)
    if simplify and q["form"] == "select":
        cols = []
        for name in df.columns:
            field = dict(zip(df.columns, df.schema.fields))[name]
            if isinstance(field.dataType, StructType):
                cols.append(F.col(name)["v"].alias(name))
            else:
                cols.append(F.col(name))
        df = df.select(*cols)
    return df
