"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` and the size arguments, so
the same seed always yields byte-identical inputs. The program under test
only ever receives the tables written from these rows; the oracles read
the same rows back (see ``oracle.py``) and never look at program output
to decide what is expected.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

NS = "http://graft.local/"
DOC_NS = NS + "doc/"
PROP_NS = NS + "prop/"
GRAPH_NS = NS + "graph/"
ENT_NS = NS + "entity/"
NODE_NS = NS + "node/"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"

LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [44, 15, 15, 14, 12]
SOURCES = [f"src{i}" for i in range(10)]
WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order group join small big query filter stream "
    "column data vector customer the a select ingest graph edge node"
).split()
# words that exercise the literal escapes the renderer must round-trip
ODD_WORDS = ['"quoted"', "back\\slash", "tab\there", "new\nline", "数据", "größe", "café"]

# documents table schema, the same shape as the pipeline's DOCUMENTS
SPAN_T = pa.struct([
    pa.field("kind", pa.string(), nullable=False),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32(), nullable=False),
])
DOCS_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(SPAN_T), nullable=False),
    pa.field("syntax", pa.string()),
    pa.field("expect", pa.string()),
])
TRIPLES_SCHEMA = pa.schema(
    [(c, pa.string()) for c in ("doc_id", "s_kind", "s", "p_kind", "p", "o_kind", "o",
                                "o_lang", "o_dt", "g_kind", "g")]
    + [(c, pa.int32()) for c in ("s_off", "p_off", "o_off")]
)
ROWS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


# ------------------------------------------------------------- kg_build

def document_rows(seed: int, n_docs: int) -> list[dict]:
    """``documents.parquet``-shaped rows (doc_id, text, lang, source,
    n_chars), numbered 0..n-1, every text distinct."""
    rng = random.Random(f"rows:{seed}")
    seen: set[str] = set()
    rows = []
    for doc_id in range(n_docs):
        while True:
            words = rng.choices(WORDS, k=rng.randint(12, 48))
            if rng.random() < 0.25:
                words.insert(rng.randrange(len(words)), rng.choice(ODD_WORDS))
            text = " ".join(words)
            if text not in seen:
                seen.add(text)
                break
        rows.append({
            "doc_id": doc_id,
            "text": text,
            "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
            "source": rng.choice(SOURCES),
            "n_chars": len(text),
        })
    return rows


def sameas_link_docs(seed: int, n_docs: int, share: float = 0.02):
    """N-Triples documents holding ``owl:sameAs`` links between document
    IRIs: ``share * n_docs`` small components of 2-4 documents each, one
    link document per component. Returns (docs, edges)."""
    rng = random.Random(f"links:{seed}")
    ids = list(range(n_docs))
    rng.shuffle(ids)
    docs, edges, pos = [], [], 0
    for k in range(int(n_docs * share)):
        size = rng.randint(2, 4)
        comp = [f"{DOC_NS}{i}" for i in ids[pos:pos + size]]
        pos += size
        if len(comp) < 2:
            break
        mine = list(zip(comp, comp[1:]))
        edges += mine
        lines = "".join(f"<{a}> <{OWL_SAMEAS}> <{b}> .\n" for a, b in mine)
        docs.append(_text_doc(f"{DOC_NS}links/{k}", lines, "ntriples"))
    return docs, edges


def linking_dictionary(seed: int) -> list[tuple[str, str]]:
    """(alias, entity) rows: every source label plus three of the five
    language tags, with surface-form noise the linker normalizes away."""
    rng = random.Random(f"dict:{seed}")
    aliases = list(SOURCES) + rng.sample(LANGS, 3)
    noisy = [a.upper() if rng.random() < 0.5 else f"  {a} " for a in aliases]
    return [(n, ENT_NS + a) for n, a in zip(noisy, aliases)]


# ------------------------------------- sameAs and p:next chains (kg_build)

def fixpoint_graph(seed: int, n_chains: int, chain_len: tuple[int, int],
                   hub_degree: int, n_next: int, next_len: tuple[int, int]) -> dict:
    """sameAs chains over shuffled node ids plus one hub, and ``p:next``
    chains for the transitive rule. Returns the edge lists the oracle
    needs and the documents the program receives."""
    rng = random.Random(f"fix:{seed}")
    n_nodes = n_chains * chain_len[1] + hub_degree + 1
    pool = rng.sample(range(10 ** 9), n_nodes)  # shuffled ids: no order hint
    it = iter(pool)
    chains = []
    for _ in range(n_chains):
        length = rng.randint(*chain_len)
        chains.append([f"{NODE_NS}{next(it)}" for _ in range(length)])
    hub = f"{NODE_NS}{next(it)}"
    leaves = [f"{NODE_NS}{next(it)}" for _ in range(hub_degree)]
    edges = [(a, b) for c in chains for a, b in zip(c, c[1:])]
    edges += [(hub, leaf) if rng.random() < 0.5 else (leaf, hub) for leaf in leaves]
    rng.shuffle(edges)
    nodes = [n for c in chains for n in c] + [hub] + leaves
    labels = {n: f"label {i}" for i, n in enumerate(nodes)}

    docs = []
    lines = [f"<{a}> <{OWL_SAMEAS}> <{b}> .\n" for a, b in edges]
    lines += [f'<{n}> <{PROP_NS}label> "{labels[n]}" .\n' for n in nodes]
    rng.shuffle(lines)
    for k in range(0, len(lines), 64):
        docs.append(_text_doc(f"{NS}fix/nt/{k // 64}", "".join(lines[k:k + 64]), "ntriples"))

    next_chains = []
    for c in range(n_next):
        length = rng.randint(*next_len)
        next_chains.append([f"{NS}step/{c}/{i}" for i in range(length)])
    n3_prefix = f"@prefix p: <{PROP_NS}> .\n"
    for c, chain in enumerate(next_chains):
        body = "".join(f"<{a}> p:next <{b}> .\n" for a, b in zip(chain, chain[1:]))
        docs.append(_text_doc(f"{NS}fix/n3/{c}", n3_prefix + body, "n3"))
    rule = n3_prefix + "{ ?x p:next ?y . ?y p:next ?z } => { ?x p:next ?z } .\n"
    docs.append(_text_doc(f"{NS}fix/n3/rule", rule, "n3"))
    rng.shuffle(docs)
    return {
        "docs": docs, "sameas": edges, "labels": labels,
        "chains": chains, "hub_degree": hub_degree, "next_chains": next_chains,
    }


# --------------------------------------------------------- sparql_serve

TEMPLATES = ["star_order", "path_group", "optional_minus", "exists", "graph", "ask", "construct"]


def query_params(seed: int, rows: list[dict]) -> list[tuple[str, dict]]:
    """One seeded instance of each template, so the template mix is the same
    for every seed and only the constants vary."""
    rng = random.Random(f"queries:{seed}")
    counts = sorted(r["n_chars"] for r in rows)
    order = list(TEMPLATES)
    rng.shuffle(order)
    out = []
    for t in order:
        lo = counts[rng.randrange(len(counts) // 4, len(counts) // 2)]
        doc = rng.randrange(len(rows))
        out.append((t, {
            "lang": rng.choice(LANGS),
            "src": rng.choice(SOURCES),
            "lo": lo,
            "hi": lo + rng.randint(20, 60),
            # a default-graph document (N-Quads rows sit in named graphs)
            "doc": doc - 1 if doc % 4 == 3 else doc,
        }))
    return out


# ------------------------------------------------------------ helpers

def _text_doc(doc_id: str, text: str, syntax: str) -> dict:
    return {
        "doc_id": doc_id,
        "spans": [{"kind": "text", "text": text, "media_ref": None, "offset": 0}],
        "syntax": syntax,
        "expect": "positive",
    }


def write_rows(rows: list[dict], path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=ROWS_SCHEMA), path)


def write_docs(docs: list[dict], path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCS_SCHEMA), path)


def row_triples(rows: list[dict]) -> list[tuple]:
    """The four triples ``documents_as_rdf_docs`` states for each row, as
    (s, p, o, o_lang, o_dt, g); language-tagged literals carry no o_dt."""
    out = []
    for r in rows:
        s = f"{DOC_NS}{r['doc_id']}"
        g = f"{GRAPH_NS}{r['source']}" if r["doc_id"] % 4 == 3 else None
        out += [
            (s, PROP_NS + "lang", r["lang"], None, None, g),
            (s, PROP_NS + "source", r["source"], None, None, g),
            (s, PROP_NS + "n_chars", str(r["n_chars"]), None, XSD_INTEGER, g),
            (s, PROP_NS + "text", r["text"], r["lang"], None, g),
        ]
    return out


def write_triples(triples: list[tuple], path: str) -> None:
    """(s, p, o, o_lang, o_dt, g) tuples as a table in the engine's triples
    schema: IRI subjects, predicates and graphs, literal objects."""
    cols: dict[str, list] = {c: [] for c in TRIPLES_SCHEMA.names}
    for s, p, o, lang, dt, g in triples:
        for c, v in (("doc_id", s), ("s_kind", "iri"), ("s", s), ("p_kind", "iri"),
                     ("p", p), ("o_kind", "literal"), ("o", o), ("o_lang", lang),
                     ("o_dt", dt), ("g_kind", "iri" if g else None), ("g", g),
                     ("s_off", None), ("p_off", None), ("o_off", None)):
            cols[c].append(v)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols, schema=TRIPLES_SCHEMA), path)


def row_syntax(doc_id: int) -> str:
    """The renderer's syntax rule (``documents_as_rdf_docs``)."""
    return {1: "ntriples", 3: "nquads"}.get(doc_id % 4, "turtle")
