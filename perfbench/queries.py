"""SPARQL query templates for ``sparql_serve`` and their DuckDB oracles.

Each template pairs a SPARQL query over the materialized triples stage
with an SQL query over the oracle's own ``kg`` table, which ``oracle.py``
builds from the generator's rows (never from program output). Both sides
are normalized to a multiset of string tuples, columns in name order.
"""

from __future__ import annotations

from string import Template

from gen import DOC_NS, PROP_NS

# the SPARQL default graph is the rows with g IS NULL; only the N-Quads
# documents carry a graph label. The SQL side names the integer value of
# n_chars ``n`` and qualifies it, since select aliases shadow columns in
# DuckDB's ORDER BY.
_NAMES = {
    "P": PROP_NS, "D": DOC_NS,
    "LANG": f"<{PROP_NS}lang>", "SRC": f"<{PROP_NS}source>", "NCH": f"<{PROP_NS}n_chars>",
}

TEMPLATES: dict[str, tuple[str, str]] = {
    # BGP star join over three predicates, range FILTER, ORDER BY / LIMIT
    "star_order": (
        'SELECT ?d ?src ?n WHERE { ?d $LANG "$lang" ; $SRC ?src ; $NCH ?n '
        'FILTER(?n >= $lo) } ORDER BY DESC(?n) ?d LIMIT 10',
        """SELECT a.s AS d, c.o AS n, b.o AS src FROM kg a
            JOIN kg b ON b.s = a.s AND b.p = '${P}source' AND b.g IS NULL
            JOIN kg c ON c.s = a.s AND c.p = '${P}n_chars' AND c.g IS NULL AND c.n >= $lo
            WHERE a.g IS NULL AND a.p = '${P}lang' AND a.o = '$lang'
            ORDER BY c.n DESC, a.s LIMIT 10""",
    ),
    # sequence + inverse path from one bound document, then GROUP BY
    "path_group": (
        'SELECT ?l (COUNT(?x) AS ?c) WHERE { <${D}$doc> $SRC/^$SRC ?x . ?x $LANG ?l } GROUP BY ?l',
        """SELECT CAST(count(*) AS VARCHAR) AS c, l.o AS l FROM kg a
            JOIN kg b ON b.o = a.o AND b.g IS NULL AND b.p = '${P}source'
            JOIN kg l ON l.s = b.s AND l.g IS NULL AND l.p = '${P}lang'
            WHERE a.g IS NULL AND a.p = '${P}source' AND a.s = '${D}$doc' GROUP BY l.o""",
    ),
    "optional_minus": (
        'SELECT ?d ?l WHERE { ?d $SRC "$src" OPTIONAL { ?d $LANG ?l FILTER(?l = "$lang") } '
        'MINUS { ?d $NCH ?n FILTER(?n < $lo) } }',
        """SELECT a.s AS d, b.o AS l FROM kg a
            LEFT JOIN kg b ON b.s = a.s AND b.g IS NULL AND b.p = '${P}lang' AND b.o = '$lang'
            WHERE a.g IS NULL AND a.p = '${P}source' AND a.o = '$src'
            AND NOT EXISTS (SELECT 1 FROM kg c WHERE c.s = a.s AND c.g IS NULL
                            AND c.p = '${P}n_chars' AND c.n < $lo)""",
    ),
    "exists": (
        'SELECT ?d WHERE { ?d $LANG "$lang" FILTER EXISTS { ?d $NCH ?n FILTER(?n >= $hi) } '
        'FILTER NOT EXISTS { ?d $SRC "$src" } }',
        """SELECT a.s AS d FROM kg a WHERE a.g IS NULL AND a.p = '${P}lang' AND a.o = '$lang'
            AND EXISTS (SELECT 1 FROM kg b WHERE b.s = a.s AND b.g IS NULL
                        AND b.p = '${P}n_chars' AND b.n >= $hi)
            AND NOT EXISTS (SELECT 1 FROM kg c WHERE c.s = a.s AND c.g IS NULL
                            AND c.p = '${P}source' AND c.o = '$src')""",
    ),
    "graph": (
        'SELECT ?g (COUNT(?d) AS ?c) WHERE { GRAPH ?g { ?d $LANG "$lang" } } GROUP BY ?g',
        """SELECT CAST(count(*) AS VARCHAR) AS c, g FROM kg
            WHERE g IS NOT NULL AND p = '${P}lang' AND o = '$lang' GROUP BY g""",
    ),
    "ask": (
        'ASK { ?d $LANG "$lang" ; $SRC "$src" ; $NCH ?n FILTER(?n >= $hi) }',
        """SELECT CASE WHEN count(*) > 0 THEN 'true' ELSE 'false' END AS ask FROM kg a
            JOIN kg b ON b.s = a.s AND b.g IS NULL AND b.p = '${P}source' AND b.o = '$src'
            JOIN kg c ON c.s = a.s AND c.g IS NULL AND c.p = '${P}n_chars' AND c.n >= $hi
            WHERE a.g IS NULL AND a.p = '${P}lang' AND a.o = '$lang'""",
    ),
    "construct": (
        'CONSTRUCT { ?d <${P}origin> ?src } WHERE { ?d $SRC ?src ; $LANG "$lang" }',
        """SELECT DISTINCT a.s AS s, 'iri' AS s_kind, '${P}origin' AS p,
                   a.o AS o, 'literal' AS o_kind, NULL AS o_lang, NULL AS o_dt
            FROM kg a JOIN kg b ON b.s = a.s AND b.g IS NULL AND b.p = '${P}lang' AND b.o = '$lang'
            WHERE a.g IS NULL AND a.p = '${P}source'""",
    ),
}


def render(template: str, params: dict) -> tuple[str, str]:
    values = {**_NAMES, **params}
    return tuple(Template(t).substitute(values) for t in TEMPLATES[template])
