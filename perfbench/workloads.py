"""The two workloads: set-up, the timed operations, the oracle check, and
the traced layer-by-layer variant of each.

``kg_build`` times two operations on two inputs, in one process:

- the fixpoint: N-Triples documents carrying shuffled-id ``owl:sameAs``
  chains and a hub, and N3 documents carrying ``p:next`` chains under one
  transitive rule, through extract → ``canonicalize_triples`` →
  ``forward_chain``, each result written as a stage; ``wall_s`` is its
  time. It runs first, cold, as a ``spark-submit`` of it would.
- the pipeline: the rendered documents table (with a small share of
  ``owl:sameAs`` links) through ``run_pipeline`` (extract → link →
  canonicalize → media → parquet); ``triples_per_s`` is its rate. It runs
  second, so the extract, canonicalize and write paths it shares with the
  fixpoint are warm and the per-document work is a larger share of it.

``sparql_serve``: one closed-loop client issues one seeded instance of
each of seven SPARQL query templates, round after round in a seeded
order, against the triples stage that ``write_stage`` materialized at
set-up; every result is forced by a ``noop`` sink.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import shutil
import statistics
import time
from collections import Counter

import pyarrow.parquet as pq

import gen
import oracle
import queries
import spans
from session import noop, nproc

N_BUCKETS = 4
SIZES = {
    "kg_build": {"rows": 2000, "n_chains": 16, "hub": 30, "n_next": 6},
    "sparql_serve": {"rows": 2000},
}
CHAIN_LEN = (4, 12)
NEXT_LEN = (4, 12)
# the least number of timed (fixpoint, pipeline) pairs and template rounds
# in a run, whatever ``--seconds`` says: one kg_build pair costs most of
# the time a run can have
MIN_PAIRS = 1
MIN_ROUNDS = 2
RULE_DOC = f"{gen.NS}fix/n3/rule"
# spans that wrap one measured operation; the layer spans directly below
# them add up to ``trace.layer_sum_s``
ROOT_SPANS = ("kg_build.pipeline", "kg_build.fixpoint", "sparql.query")

SPAN_LAYERS = [
    "extract", "linking", "canonicalize.cc", "canonicalize.rewrite", "reasoning",
    "materialize.write", "materialize.scan", "multimodal",
    "sparql.executor.plan", "sparql.executor.run",
]
PER_LAYER = (
    ["parsing.turtle.triples_per_s", "parsing.ntriples.triples_per_s",
     "parsing.nquads.triples_per_s", "parsing.n3.triples_per_s",
     "parsing.quad_to_row.rows_per_s",
     "extract.s", "extract.triples", "extract.errors", "extract.task_skew",
     "extract.passthrough_s", "extract.kernel_share", "extract.spark_efficiency",
     "linking.s", "linking.mentions", "linking.link_rate",
     "canonicalize.cc_s", "canonicalize.cc_jobs", "canonicalize.components",
     "canonicalize.rewrite_s",
     "reasoning.forward_chain_s", "reasoning.forward_chain_jobs", "reasoning.derived",
     "reasoning.specialized",
     "materialize.write_s", "materialize.bytes_written", "materialize.files_written",
     "materialize.scan_s",
     "multimodal.media_s", "multimodal.media_rows",
     "sparql.parser.parse_s", "sparql.executor.plan_s", "sparql.executor.plan_jobs",
     "sparql.executor.run_s", "sparql.executor.rows_out"]
    + [f"sparql.{t}.p50_s" for t in gen.TEMPLATES]
    + ["trace.pipeline_s", "trace.layer_sum_s", "trace.overhead_s"]
    + [f"{layer}.spark.{k}" for layer in SPAN_LAYERS for k in spans.SPARK_COUNTS]
)

# which end-to-end metric each layer should move, and on which workload;
# a layer's Spark counts move what the layer itself moves
KG_T, KG_W, SP_P50, SP_TAIL = (("triples_per_s", "kg_build"), ("wall_s", "kg_build"),
                               ("latency_p50_s", "sparql_serve"),
                               ("latency_tail_s", "sparql_serve"))
MOVES = {
    "parsing": KG_T, "parsing.n3": KG_W, "extract": KG_T, "linking": KG_T,
    "canonicalize": KG_W, "canonicalize.rewrite": KG_T, "reasoning": KG_W,
    "materialize": KG_T, "materialize.scan": SP_P50, "multimodal": KG_T,
    "sparql": SP_TAIL, "sparql.parser": SP_P50, "sparql.executor.plan": SP_P50,
    "trace": KG_T,
}


def moves(metric: str) -> tuple[str, str]:
    """(end-to-end metric, workload) a per-layer metric should move: the
    entry for the longest prefix of its name."""
    return MOVES[max((k for k in MOVES if metric.startswith(k)), key=len)]


class EmptyInput(RuntimeError):
    """Raised when a workload has no documents or extracts no triples."""


def tail(latencies: list[float]) -> tuple[float, str]:
    """The tail latency and its percentile: the eleventh-largest latency
    (the highest percentile with ten samples beyond it), but never below
    p90 by nearest rank, which it would be with fewer than 110 samples."""
    xs = sorted(latencies)
    n = len(xs)
    rank = max(math.ceil(0.9 * n), n - 10)
    return xs[rank - 1], f"p{100 * rank / n:.1f}"


def _disk(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _sub, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


# ------------------------------------------------------------- kg_build

class KgBuild:
    name = "kg_build"
    # the first set-up is cold and takes most of the run's set-up budget
    setup_repeats = 2

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.spark = None
        self._expected = None

    def generate(self) -> None:
        """Build the inputs in memory; raises ``EmptyInput`` on none."""
        size = SIZES[self.name]
        self.rows = gen.document_rows(self.seed, size["rows"])
        self.links, self.link_edges = gen.sameas_link_docs(self.seed, size["rows"])
        self.graph = gen.fixpoint_graph(self.seed, size["n_chains"], CHAIN_LEN, size["hub"],
                                        size["n_next"], NEXT_LEN)
        self.dictionary = gen.linking_dictionary(self.seed)
        if not self.rows or not self.graph["sameas"]:
            raise EmptyInput("kg_build: the generator produced 0 documents")

    def setup(self, i: int, tr: spans.Tracer | None = None) -> None:
        """Generate and write both document tables; repeat ``i`` writes its
        own copy. Nothing here is a layer of the program, so nothing is
        traced."""
        from mentor_rdf_parsers_spark.sources.testdata import documents_as_rdf_docs

        self.generate()
        spark = self.spark
        data = os.path.join(self.work, f"data{i}")
        gen.write_rows(self.rows, os.path.join(data, "documents.parquet"))
        gen.write_docs(self.links, os.path.join(data, "links.parquet"))
        gen.write_docs(self.graph["docs"], os.path.join(data, "fix.parquet"))
        docs = documents_as_rdf_docs(spark, data).unionByName(
            spark.read.parquet(os.path.join(data, "links.parquet")))
        self.docs_path = os.path.join(data, "docs")
        self.fix_path = os.path.join(data, "fixdocs")
        write_docs_table(docs, self.docs_path)
        write_docs_table(spark.read.parquet(os.path.join(data, "fix.parquet")), self.fix_path)

    def expected(self) -> tuple[dict, dict]:
        """The oracle's (pipeline, fixpoint) expectations, computed once."""
        if self._expected is None:
            self._expected = (oracle.pipeline_expected(self.rows, self.link_edges,
                                                       self.dictionary),
                              oracle.fixpoint_expected(self.graph))
        return self._expected

    def check_pipeline(self, out: str) -> list[str]:
        """Names of the wrong stages of one pipeline run."""
        return [f"pipeline {b}" for b in
                oracle.check_kg(self.expected()[0], oracle.pipeline_observed(out))]

    def check_fixpoint(self, out: str) -> list[str]:
        """Names of the wrong stages of one fixpoint run."""
        return [f"fixpoint {b}" for b in
                oracle.check_kg(self.expected()[1], oracle.fixpoint_observed(out, RULE_DOC))]

    def properties(self) -> dict:
        graph = self.graph
        lens = Counter(len(c) for c in graph["chains"])
        next_lens = Counter(len(c) for c in graph["next_chains"])
        return {
            "pipeline": {
                **table_properties(self.docs_path),
                "triples": len(oracle.pipeline_triples(self.rows, self.link_edges)),
                "sameas_edges": len(self.link_edges),
            },
            "fixpoint": {
                **table_properties(self.fix_path),
                "triples": len(oracle.fixpoint_triples(graph)) + oracle.RULE_ROWS,
                "sameas_edges": len(graph["sameas"]),
                "components": self.expected()[1]["components"],
                "sameas_chain_lengths": dict(sorted(lens.items())),
                "hub_degree": graph["hub_degree"],
                "next_chain_lengths": dict(sorted(next_lens.items())),
            },
        }

    def _dictionary_df(self):
        return self.spark.createDataFrame(self.dictionary, "alias string, entity string")

    def pipeline_op(self, out: str) -> int:
        """One pipeline run. Returns the extracted triple count."""
        from mentor_rdf_parsers_spark.pipeline import run_pipeline

        stats = run_pipeline(self.spark, self.spark.read.parquet(self.docs_path), out,
                             dictionary=self._dictionary_df(), n_buckets=N_BUCKETS)
        return stats["triples"]

    def fixpoint_op(self, out: str) -> None:
        """One fixpoint run: extract, canonicalize, entail; every result
        written as a stage."""
        from mentor_rdf_parsers_spark.operators.canonicalize import canonicalize_triples
        from mentor_rdf_parsers_spark.operators.extract import extract_triples, split_extract
        from mentor_rdf_parsers_spark.operators.materialize import read_stage, write_stage
        from mentor_rdf_parsers_spark.operators.reasoning import forward_chain

        spark = self.spark
        ex = extract_triples(spark.read.parquet(self.fix_path)).persist()
        write_stage(split_extract(ex)[0], out, "triples", n_buckets=N_BUCKETS)
        ex.unpersist()
        write_stage(canonicalize_triples(read_stage(spark, out, "triples")), out, "canonical",
                    n_buckets=N_BUCKETS)
        write_stage(forward_chain(canonical(spark, out)), out, "entailed", n_buckets=N_BUCKETS)

    def warm_up(self) -> None:
        """None: a run's first operation is cold, as under ``spark-submit``."""

    def _pair(self, out: str) -> tuple[float, float, int, list[list[str]]]:
        """One fixpoint run, then one pipeline run, each timed, then both
        checked against the oracle outside the timing. Returns (fixpoint s,
        pipeline s, extracted triples, wrong stages per run)."""
        t0 = time.perf_counter()
        self.fixpoint_op(out + "-f")
        t1 = time.perf_counter()
        triples = self.pipeline_op(out + "-p")
        t2 = time.perf_counter()
        if triples == 0:
            raise EmptyInput("kg_build: the pipeline extracted 0 triples")
        checks = [self.check_fixpoint(out + "-f"), self.check_pipeline(out + "-p")]
        shutil.rmtree(out + "-f", ignore_errors=True)
        shutil.rmtree(out + "-p", ignore_errors=True)
        return t1 - t0, t2 - t1, triples, checks

    def syntax_triples(self) -> dict:
        """Triples stated per syntax, for the syntax-weighted parse rate."""
        n = {"turtle": 0, "ntriples": len(self.link_edges), "nquads": 0,
             "n3": sum(len(c) - 1 for c in self.graph["next_chains"])}
        for r in self.rows:
            n[gen.row_syntax(r["doc_id"])] += 4
        n["ntriples"] += len(self.graph["sameas"]) + len(self.graph["labels"])
        return n

    def timed(self, seconds: float) -> dict:
        """(fixpoint, pipeline) pairs until ``seconds`` have passed and at
        least ``MIN_PAIRS`` ran."""
        pipe, fix, failures = [], [], []
        failed = 0
        t_end = time.perf_counter() + seconds
        while len(pipe) < MIN_PAIRS or time.perf_counter() < t_end:
            f_s, p_s, triples, checks = self._pair(os.path.join(self.work, f"run{len(pipe)}"))
            fix.append(f_s)
            pipe.append(p_s)
            failures += [f"run {len(pipe) - 1} {b}" for c in checks for b in c]
            failed += sum(1 for c in checks if c)
        return {
            "latencies": pipe, "fixpoint_s": fix, "triples": triples,
            "attempted": 2 * len(pipe), "failed": failed, "failures": failures,
            "wall_s": statistics.median(fix),
            "triples_per_s": triples / statistics.median(pipe),
        }

    # ---------------------------------------------------------- traced
    def traced(self, tr: spans.Tracer, seconds: float) -> dict:
        from pyspark.sql import functions as F

        from mentor_rdf_parsers_spark.operators import reasoning
        from mentor_rdf_parsers_spark.operators.linking import link_exact
        from mentor_rdf_parsers_spark.operators.materialize import read_stage, write_stage
        from mentor_rdf_parsers_spark.operators.multimodal import (
            decode_images, media_from_documents)

        spark = self.spark
        m: dict = {}
        # one untraced pair first, so neither side of the overhead pays
        # the cold start
        warm = self._pair(os.path.join(self.work, "warm"))[3]
        docs = spark.read.parquet(self.docs_path).persist()
        fix_docs = spark.read.parquet(self.fix_path).persist()
        noop(docs)
        noop(fix_docs)
        # the Spark + Arrow floor under extract, outside the measured roots
        tr.new_trace("kg_build.passthrough")
        with tr.span("extract.passthrough") as sp:
            noop(docs.mapInPandas(_identity, schema=docs.schema))
            noop(fix_docs.mapInPandas(_identity, schema=fix_docs.schema))
        m["extract.passthrough_s"] = sp["end"] - sp["start"]

        out_p = os.path.join(self.work, "traced-p")
        tr.new_trace("kg_build.pipeline")
        with tr.span("kg_build.pipeline") as root_p:
            triples = traced_extract(tr, spark, docs, out_p)
            with tr.span("linking"):
                linked = link_exact(triples.where(F.col("o_kind") == "literal"),
                                    self._dictionary_df(), mention_col="o").select(
                    "doc_id", "s", "p", "o", "entity", "link_score").persist()
                noop(linked)
            with tr.span("materialize.write"):
                write_stage(linked, out_p, "linked", n_buckets=N_BUCKETS)
            comps_p = traced_canonicalize(tr, triples, out_p)
            with tr.span("multimodal"):
                meta = decode_images(media_from_documents(docs)).drop("features").persist()
                noop(meta)
            with tr.span("materialize.write"):
                meta.write.mode("overwrite").parquet(os.path.join(out_p, "media_meta"))

        out_f = os.path.join(self.work, "traced-f")
        tr.new_trace("kg_build.fixpoint")
        with tr.span("kg_build.fixpoint") as root_f:
            fix_triples = traced_extract(tr, spark, fix_docs, out_f)
            comps_f = traced_canonicalize(tr, fix_triples, out_f)
            with tr.span("reasoning"):
                facts = reasoning.forward_chain(canonical(spark, out_f)).persist()
                noop(facts)
            specialized = reasoning.LAST_RUN_INFO.get("used_specialization", False)
            with tr.span("materialize.write"):
                write_stage(facts, out_f, "entailed", n_buckets=N_BUCKETS)
        traced_s = sum(r["end"] - r["start"] for r in (root_p, root_f))

        tr.new_trace("kg_build.scan")
        with tr.span("materialize.scan"):
            noop(read_stage(spark, out_p, "triples"))

        # counts, outside every span
        m["extract.triples"] = triples.count() + fix_triples.count()
        m["extract.errors"] = sum(spark.read.parquet(os.path.join(o, "errors")).count()
                                  for o in (out_p, out_f))
        mentions = linked.count()
        m["linking.mentions"] = mentions
        m["linking.link_rate"] = linked.where(F.col("entity").isNotNull()).count() / max(mentions, 1)
        m["canonicalize.components"] = sum(c.select("comp").distinct().count()
                                           for c in (comps_p, comps_f))
        m["multimodal.media_rows"] = meta.count()
        n_in = canonical(spark, out_f).where(F.col("g").isNull()).count()
        m["reasoning.derived"] = facts.count() - n_in
        m["reasoning.specialized"] = 1 if specialized else 0
        for df in (linked, comps_p, comps_f, meta, facts, docs, fix_docs):
            df.unpersist()
        m["materialize.bytes_written"], m["materialize.files_written"] = (
            sum(x) for x in zip(_disk(out_p), _disk(out_f)))
        checks = warm + [self.check_pipeline(out_p), self.check_fixpoint(out_f)]

        # the same two operations untraced: the difference is the overhead
        untraced = self._pair(os.path.join(self.work, "untraced"))
        m["trace.pipeline_s"] = untraced[0] + untraced[1]
        m["trace.overhead_s"] = traced_s - m["trace.pipeline_s"]
        checks += untraced[3]
        return {"metrics": m, "failures": [b for c in checks for b in c],
                "attempted": len(checks), "failed": sum(1 for c in checks if c),
                "texts": sample_texts(self.docs_path, self.fix_path, seed=self.seed),
                "syntax_triples": self.syntax_triples()}


# --------------------------------------------------------- sparql_serve

class SparqlServe:
    name = "sparql_serve"
    # the first set-up is cold and takes most of the run's set-up budget
    setup_repeats = 2

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.spark = None

    def generate(self) -> None:
        """Build the rows in memory; raises ``EmptyInput`` on none."""
        self.rows = gen.document_rows(self.seed, SIZES[self.name]["rows"])
        if not self.rows:
            raise EmptyInput("sparql_serve: the generator produced 0 documents")

    def setup(self, i: int, tr: spans.Tracer | None = None) -> None:
        """Generate the rows and materialize the triples they state as the
        stage the queries read. The stage is written straight from the
        generator, so no parse work sits in this workload."""
        from mentor_rdf_parsers_spark.operators.materialize import write_stage

        self.generate()
        path = os.path.join(self.work, f"data{i}", "triples.parquet")
        gen.write_triples(gen.row_triples(self.rows), path)
        self.out = os.path.join(self.work, f"stage{i}")
        with maybe_span(tr, "materialize.write"):
            write_stage(self.spark.read.parquet(path), self.out, "triples", n_buckets=N_BUCKETS)
        self.stage_triples = oracle.stage_rows(self.out, "triples")
        if self.stage_triples == 0:
            raise EmptyInput("sparql_serve: the materialized stage holds 0 triples")

    def _stage(self):
        from mentor_rdf_parsers_spark.operators.materialize import read_stage

        return read_stage(self.spark, self.out, "triples")

    def properties(self) -> dict:
        texts = Counter(r["text"] for r in self.rows)
        return {
            "docs": len(self.rows),
            "text_bytes": sum(len(t.encode()) for t in texts),
            "triples": self.stage_triples,
            "duplicate_text_share": sum(c - 1 for c in texts.values()) / len(self.rows),
            "query_template_mix": {t: 1 / len(gen.TEMPLATES) for t in gen.TEMPLATES},
        }

    def _query(self, sparql: str) -> float:
        """One request: plan, then force the result through a ``noop`` sink."""
        from mentor_rdf_parsers_spark.sparql import execute

        t0 = time.perf_counter()
        noop(execute(sparql, self._stage()))
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        """Run each of the run's queries once, collect its result and
        compare it with the oracle. Timed runs force results through a
        ``noop`` sink, which leaves nothing to compare, so this pass is the
        check; it is also the session's warm-up."""
        from mentor_rdf_parsers_spark.sparql import execute

        self.queries = [(t, params, *queries.render(t, params))
                        for t, params in gen.query_params(self.seed, self.rows)]
        qo = oracle.QueryOracle(self.rows)
        self.wrong, self.rows_out = set(), 0
        try:
            for t, _params, sparql, sql in self.queries:
                got = oracle.spark_result(execute(sparql, self._stage()))
                self.rows_out += got[0]
                if got != qo.expected(sql):
                    self.wrong.add(t)
        finally:
            qo.close()

    def _window(self, seconds: float, run) -> tuple[list[tuple[str, str]], list[float]]:
        """Closed loop: issue the next query when the last one returns, a
        round of all seven in a seeded order, and stop at the first round
        boundary after ``seconds`` and ``MIN_ROUNDS`` rounds, so every
        template weighs the same. Returns the (template, query) issued and
        their latencies."""
        rng = random.Random(f"order:{self.seed}")
        issued, lat = [], []
        t_end = time.perf_counter() + seconds
        while len(issued) < MIN_ROUNDS * len(self.queries) or time.perf_counter() < t_end:
            for t, _params, sparql, _sql in rng.sample(self.queries, len(self.queries)):
                lat.append(run(sparql))
                issued.append((t, sparql))
        return issued, lat

    def _outcome(self, issued: list[tuple[str, str]]) -> dict:
        """A wrong result makes every request of its query a failed
        operation, named by its template and parameters."""
        return {"attempted": len(issued),
                "failed": sum(1 for t, _q in issued if t in self.wrong),
                "failures": [f"query {t} {p}" for t, p, *_q in self.queries if t in self.wrong]}

    @staticmethod
    def _per_template(issued, lat) -> dict[str, float]:
        per_t: dict[str, list[float]] = {}
        for (t, _q), x in zip(issued, lat):
            per_t.setdefault(t, []).append(x)
        return {t: statistics.median(v) for t, v in sorted(per_t.items())}

    def timed(self, seconds: float) -> dict:
        issued, lat = self._window(seconds, self._query)
        per_t = self._per_template(issued, lat)
        return {
            "latencies": lat, **self._outcome(issued),
            # one pass over the whole template mix
            "wall_s": sum(per_t.values()),
            "triples_per_s": self.stage_triples / statistics.median(lat),
            "per_template_p50_s": per_t,
        }

    def traced(self, tr: spans.Tracer, seconds: float) -> dict:
        from mentor_rdf_parsers_spark.sparql import execute, parse_sparql

        def run(sparql: str) -> float:
            tr.new_trace(f"query-{len(tr.spans)}")
            with tr.span("sparql.query") as root:
                with tr.span("sparql.parser"):
                    parse_sparql(sparql)
                with tr.span("sparql.executor.plan"):
                    df = execute(sparql, self._stage())
                with tr.span("sparql.executor.run"):
                    noop(df)
            return root["end"] - root["start"]

        self.warm_up()
        issued, lat = self._window(seconds, run)
        # the same requests untraced: the difference is the tracing overhead
        untraced = [self._query(sparql) for _t, sparql in issued]
        tr.new_trace("sparql_serve.scan")
        for _ in range(3):
            with tr.span("materialize.scan"):
                noop(self._stage())
        m = {f"sparql.{t}.p50_s": v for t, v in self._per_template(issued, lat).items()}
        m["sparql.executor.rows_out"] = self.rows_out
        m["trace.pipeline_s"] = sum(untraced)
        m["trace.overhead_s"] = sum(lat) - sum(untraced)
        return {"metrics": m, **self._outcome(issued), "texts": [], "syntax_triples": {}}


# ------------------------------------------------------------ shared

def maybe_span(tr: spans.Tracer | None, name: str):
    return tr.span(name) if tr is not None else contextlib.nullcontext()


def write_docs_table(docs, path: str) -> None:
    """One file per core, so reading the table gives every core a share."""
    docs.repartition(nproc()).write.mode("overwrite").parquet(path)


def canonical(spark, out: str):
    """The canonical stage in the engine's triples schema: forward_chain
    needs exactly those columns, not the stage's ``s_bucket`` partition."""
    from mentor_rdf_parsers_spark.operators.materialize import read_stage
    from mentor_rdf_parsers_spark.schemas import TRIPLE_COLS

    return read_stage(spark, out, "canonical").select(*TRIPLE_COLS)


def traced_extract(tr: spans.Tracer, spark, docs, out: str):
    """Extract over persisted ``docs`` inside an ``extract`` span, then the
    triples and errors written inside a ``materialize.write`` span; returns
    the triples stage read back, as ``run_pipeline`` does."""
    from mentor_rdf_parsers_spark.operators.extract import extract_triples, split_extract
    from mentor_rdf_parsers_spark.operators.materialize import read_stage, write_stage

    with tr.span("extract"):
        ex = extract_triples(docs).persist()
        noop(ex)
    triples, errors = split_extract(ex)
    with tr.span("materialize.write"):
        write_stage(triples, out, "triples", n_buckets=N_BUCKETS)
        errors.write.mode("overwrite").parquet(os.path.join(out, "errors"))
    ex.unpersist()
    return read_stage(spark, out, "triples")


def traced_canonicalize(tr: spans.Tracer, triples, out: str):
    """Connected components, the rewrite and the canonical stage write,
    each in its own span; returns the persisted components."""
    from mentor_rdf_parsers_spark.operators.canonicalize import (
        canonicalize_triples, connected_components, sameas_edges)
    from mentor_rdf_parsers_spark.operators.materialize import write_stage

    with tr.span("canonicalize.cc"):
        comps = connected_components(sameas_edges(triples)).persist()
        noop(comps)
    with tr.span("canonicalize.rewrite"):
        canon = canonicalize_triples(triples, components=comps).persist()
        noop(canon)
    with tr.span("materialize.write"):
        write_stage(canon, out, "canonical", n_buckets=N_BUCKETS)
    canon.unpersist()
    return comps


def _identity(batches):
    yield from batches


def _documents(docs_path: str) -> list[tuple[str, str, bool]]:
    """(syntax, text, has a media span) per document of the written table,
    text spans joined in offset order."""
    out = []
    for d in pq.read_table(docs_path, columns=["spans", "syntax"]).to_pylist():
        parts = sorted((s["offset"], s["text"]) for s in d["spans"] if s["kind"] == "text")
        out.append((d["syntax"], "".join(x for _o, x in parts),
                    any(s["kind"] == "media" for s in d["spans"])))
    return out


def table_properties(docs_path: str) -> dict:
    """Input properties of the documents table the program receives."""
    docs = _documents(docs_path)
    n = len(docs)
    syntax = Counter(s for s, _t, _m in docs)
    texts = Counter(t for _s, t, _m in docs)
    return {
        "docs": n,
        "text_bytes": sum(len(t.encode()) for _s, t, _m in docs),
        "syntax_share": {k: v / n for k, v in sorted(syntax.items())},
        "media_span_share": sum(m for _s, _t, m in docs) / n,
        "duplicate_text_share": sum(c - 1 for c in texts.values()) / n,
    }


def sample_texts(*paths: str, seed: int, n: int = 100) -> list[tuple[str, str]]:
    """A seeded sample of up to ``n`` (syntax, text) pairs per syntax from
    the documents tables at ``paths``."""
    by_syntax: dict[str, list] = {}
    for path in paths:
        for syntax, text, _m in _documents(path):
            by_syntax.setdefault(syntax, []).append(text)
    rng = random.Random(f"sample:{seed}")
    return [(syn, t) for syn in sorted(by_syntax)
            for t in rng.sample(by_syntax[syn], min(n, len(by_syntax[syn])))]


def parse_rates(texts: list[tuple[str, str]], budget_s: float = 0.25) -> dict:
    """Single-core parse rate per syntax (triples/s) and ``quad_to_row``
    rows/s, in this process, over the workload's own texts."""
    from mentor_rdf_parsers_spark.parsing.n3 import parse_n3
    from mentor_rdf_parsers_spark.parsing.ntriples import parse_ntriples
    from mentor_rdf_parsers_spark.parsing.terms import quad_to_row
    from mentor_rdf_parsers_spark.parsing.turtle import parse_turtle

    parsers = {
        "turtle": lambda x: parse_turtle(x, strict=False),
        "ntriples": lambda x: parse_ntriples(x, nquads=False, strict=False),
        "nquads": lambda x: parse_ntriples(x, nquads=True, strict=False),
        "n3": lambda x: parse_n3(x, strict=False),
    }
    rates, quads_all = {}, []
    for syn, fn in parsers.items():
        mine = [x for s, x in texts if s == syn]
        if not mine:
            rates[syn] = 0.0
            continue
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < budget_s:
            for x in mine:
                quads, _err = fn(x)
                n += len(quads)
                if len(quads_all) < 20000:
                    quads_all.extend(quads)
        rates[syn] = n / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    for (s, p, o, g, so, po, oo) in quads_all:
        quad_to_row("d", s, p, o, g, so, po, oo)
    rates["quad_to_row"] = len(quads_all) / max(time.perf_counter() - t0, 1e-9)
    return rates


def layer_metrics(tr: spans.Tracer, m: dict, texts, syntax_triples: dict) -> dict:
    """Every per-layer metric, zero where the workload does not reach the
    layer."""
    out = dict.fromkeys(PER_LAYER, 0)
    rates = parse_rates(texts)
    for syn in ("turtle", "ntriples", "nquads", "n3"):
        out[f"parsing.{syn}.triples_per_s"] = rates[syn]
    out["parsing.quad_to_row.rows_per_s"] = rates["quad_to_row"]
    sp = tr.spans
    tot = {name: spans.totals(sp, name) for name in SPAN_LAYERS + ["sparql.parser"]}
    for layer in SPAN_LAYERS:
        for k in spans.SPARK_COUNTS:
            out[f"{layer}.spark.{k}"] = tot[layer][k]
    out.update({k: v for k, v in m.items() if k in out})
    out["extract.s"] = tot["extract"]["s"]
    skews = [s["task_skew"] for s in sp if s["name"] == "extract" and "task_skew" in s]
    out["extract.task_skew"] = max(skews) if skews else 0
    if out["extract.s"] > 0:
        out["extract.kernel_share"] = 1 - out["extract.passthrough_s"] / out["extract.s"]
        # single-core rate weighted by the workload's syntax mix
        n = sum(syntax_triples.values())
        secs = sum(c / rates[s] for s, c in syntax_triples.items() if rates.get(s))
        if n and secs and out["extract.triples"]:
            spark_rate = out["extract.triples"] / out["extract.s"]
            out["extract.spark_efficiency"] = spark_rate / (nproc() * n / secs)
    out["linking.s"] = tot["linking"]["s"]
    out["canonicalize.cc_s"] = tot["canonicalize.cc"]["s"]
    out["canonicalize.cc_jobs"] = tot["canonicalize.cc"]["jobs"]
    out["canonicalize.rewrite_s"] = tot["canonicalize.rewrite"]["s"]
    out["reasoning.forward_chain_s"] = tot["reasoning"]["s"]
    out["reasoning.forward_chain_jobs"] = tot["reasoning"]["jobs"]
    out["materialize.write_s"] = tot["materialize.write"]["s"]
    out["materialize.scan_s"] = tot["materialize.scan"]["s"]
    out["multimodal.media_s"] = tot["multimodal"]["s"]
    queries_run = sum(1 for s in sp if s["name"] == "sparql.query")
    if queries_run:
        plan = tot["sparql.executor.plan"]
        out["sparql.parser.parse_s"] = tot["sparql.parser"]["s"] / queries_run
        # execute() parses too: plan time is its span minus the parse span
        out["sparql.executor.plan_s"] = (plan["s"] - tot["sparql.parser"]["s"]) / queries_run
        out["sparql.executor.plan_jobs"] = plan["jobs"] / queries_run
        out["sparql.executor.run_s"] = tot["sparql.executor.run"]["s"] / queries_run
    out["trace.layer_sum_s"] = sum(v for layers in spans.below_roots(sp, ROOT_SPANS).values()
                                   for v in layers.values())
    return out

