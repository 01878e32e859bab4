"""Independent oracles: expected outputs computed from the generator's own
rows with DuckDB and plain Python, compared by row count and an
order-independent digest.

Nothing here reads program output to decide what is expected. Observed
kg_build stages are read back from their parquet files with DuckDB, not
Spark; a query result is collected by running the query once more.
"""

from __future__ import annotations

import hashlib
import json
import os
import duckdb
import pyarrow as pa

from gen import DOC_NS, OWL_SAMEAS, PROP_NS, XSD_INTEGER, row_triples

TRIPLE_KEY = ["s", "p", "o", "o_lang", "o_dt", "g"]


def digest(rows) -> tuple[int, str]:
    """(row count, order-independent digest) of an iterable of tuples."""
    lines = sorted(json.dumps([None if v is None else str(v) for v in r], ensure_ascii=False)
                   for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def read_stage(path: str, cols: list[str], skip_doc: str | None = None) -> list[tuple]:
    """Rows of a parquet stage directory (hive partitions included),
    optionally without one source document's rows."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        raise FileNotFoundError(f"stage not complete: {path}")
    sel = ", ".join(f'"{c}"' for c in cols)
    where = f"WHERE doc_id IS DISTINCT FROM '{skip_doc}'" if skip_doc else ""
    with duckdb.connect() as con:
        return con.execute(
            f"SELECT {sel} FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true) {where}"
        ).fetchall()


def stage_rows(base_dir: str, stage: str) -> int:
    """Row count of a stage from the lineage metrics written beside it."""
    with duckdb.connect() as con:
        return con.execute(
            f"SELECT coalesce(sum(triple_count), 0) FROM "
            f"read_parquet('{base_dir}/{stage}_metrics/*.parquet')").fetchone()[0]


def _table(con, name: str, cols: list[str], rows: list[tuple]) -> None:
    arrays = [pa.array([r[i] for r in rows], pa.string()) for i in range(len(cols))]
    con.register(name + "_arrow", pa.Table.from_arrays(arrays, names=cols))
    con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_arrow")


def _components(edges) -> dict[str, str]:
    """Union-find over undirected edges: node -> minimum term of its
    component."""
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def pipeline_triples(rows, link_edges) -> list[tuple]:
    """Every triple the pipeline documents state, as (s, p, o, o_lang,
    o_dt, g)."""
    return row_triples(rows) + [(a, OWL_SAMEAS, b, None, None, None) for a, b in link_edges]


def fixpoint_triples(graph) -> list[tuple]:
    """Every triple the fixpoint documents state, except the rule
    document's."""
    base = [(a, OWL_SAMEAS, b, None, None, None) for a, b in graph["sameas"]]
    base += [(n, PROP_NS + "label", lab, None, None, None) for n, lab in graph["labels"].items()]
    base += [(a, PROP_NS + "next", b, None, None, None)
             for c in graph["next_chains"] for a, b in zip(c, c[1:])]
    return base


def _canonical(base, edges) -> set[tuple]:
    """Each sameAs component collapsed onto its minimum term; ``p:next``
    objects are the only IRI objects to rewrite."""
    comp = _components(edges)
    return {
        (comp.get(s, s), p, comp.get(o, o) if p == PROP_NS + "next" else o, lg, dt, g)
        for (s, p, o, lg, dt, g) in base if p != OWL_SAMEAS
    }


def pipeline_expected(rows, link_edges, dictionary) -> dict:
    """Expected (count, digest) per ``run_pipeline`` stage."""
    base = pipeline_triples(rows, link_edges)
    exp = {"triples": digest(base)}

    # linking: every literal object against the normalized alias table
    alias = {" ".join(a.lower().split()): e for a, e in dictionary}
    with duckdb.connect() as con:
        _table(con, "t", TRIPLE_KEY, base)
        _table(con, "d", ["k", "e"], list(alias.items()))
        # literal objects: everything but the IRI-valued sameAs edges
        linked = con.execute(f"""
            SELECT t.s, t.p, t.o, d.e FROM t
            LEFT JOIN d ON d.k = trim(regexp_replace(lower(t.o), '\\s+', ' ', 'g'))
            WHERE t.p <> '{OWL_SAMEAS}'""").fetchall()
    exp["linked"] = digest(linked)
    exp["canonical"] = digest(_canonical(base, link_edges))

    # media: one image span per row with doc_id % 3 == 0
    media = []
    for r in rows:
        if r["doc_id"] % 3 == 0:
            ref = f"media://doc/{r['doc_id']}/img0".encode()
            media.append((f"{DOC_NS}{r['doc_id']}#1", len(ref), hashlib.sha256(ref).hexdigest()))
    exp["media_meta"] = digest(media)
    return exp


def fixpoint_expected(graph) -> dict:
    """Expected (count, digest) of the fixpoint stages, the component count
    and the entailment counts."""
    base = fixpoint_triples(graph)
    n_next = sum(len(c) - 1 for c in graph["next_chains"])
    canon = _canonical(base, graph["sameas"])
    closure = [(c[i], c[j]) for c in graph["next_chains"]
               for i in range(len(c)) for j in range(i + 1, len(c))]
    return {
        "triples": digest(base),
        "canonical": digest(canon),
        "components": len(set(_components(graph["sameas"]).values())),
        # transitive p:next closure, sum of L(L-1)/2 over chains
        "entailed_next": digest(closure),
        # the entailed store: every default-graph canonical fact plus the
        # closure edges the chains did not already state
        "entailed_rows": sum(1 for t in canon if t[5] is None) + len(closure) - n_next,
        "rule_rows": RULE_ROWS,
    }


# the rule document parses to one log:implies triple plus the three
# formula patterns; its bnode labels are skolemized by the program, so
# those rows are counted, and every other row is compared by value
RULE_ROWS = 4


def _stage(out_dir: str, name: str, cols: list[str], skip_doc: str | None = None):
    return read_stage(os.path.join(out_dir, name), cols, skip_doc=skip_doc)


def pipeline_observed(out_dir: str) -> dict:
    return {
        "triples": digest(_stage(out_dir, "triples", TRIPLE_KEY)),
        "linked": digest(_stage(out_dir, "linked", ["s", "p", "o", "entity"])),
        "canonical": digest(_stage(out_dir, "canonical", TRIPLE_KEY)),
        "media_meta": digest(_stage(out_dir, "media_meta", ["media_id", "n_bytes", "sha"])),
    }


def fixpoint_observed(out_dir: str, rule_doc: str) -> dict:
    entailed = _stage(out_dir, "entailed", ["s", "p", "o"], rule_doc)
    with duckdb.connect() as con:
        rule_rows = con.execute(
            f"SELECT count(*) FROM read_parquet('{out_dir}/triples/**/*.parquet') "
            f"WHERE doc_id = '{rule_doc}'").fetchone()[0]
    return {
        "triples": digest(_stage(out_dir, "triples", TRIPLE_KEY, rule_doc)),
        "canonical": digest(_stage(out_dir, "canonical", TRIPLE_KEY, rule_doc)),
        "entailed_next": digest((s, o) for s, p, o in entailed if p == PROP_NS + "next"),
        "entailed_rows": len(entailed),
        "rule_rows": rule_rows,
    }


def check_kg(expected: dict, observed: dict) -> list[str]:
    """Names of the checks whose observed value differs from the oracle."""
    return [k for k, v in observed.items() if expected.get(k) != v]


class QueryOracle:
    """DuckDB ``kg`` table over the generator rows; answers the SQL side of
    each template in ``queries.py``."""

    def __init__(self, rows: list[dict]):
        self.con = duckdb.connect()
        _table(self.con, "kg0", TRIPLE_KEY, row_triples(rows))
        self.con.execute(f"CREATE TABLE kg AS SELECT *, CASE WHEN o_dt = '{XSD_INTEGER}' "
                         "THEN CAST(o AS BIGINT) END AS n FROM kg0")
        self._cache: dict[str, tuple[int, str]] = {}

    def expected(self, sql: str) -> tuple[int, str]:
        hit = self._cache.get(sql)
        if hit is None:
            cur = self.con.execute(sql)
            names = [d[0] for d in cur.description]
            order = sorted(range(len(names)), key=lambda i: names[i])
            hit = digest(tuple(r[i] for i in order) for r in cur.fetchall())
            self._cache[sql] = hit
        return hit

    def close(self) -> None:
        self.con.close()


def spark_result(df) -> tuple[int, str]:
    """(count, digest) of a Spark result, columns in name order; booleans
    are written the way SPARQL writes them."""
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()

    def lex(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        return v
    return digest(tuple(lex(v) for v in r) for r in rows)

