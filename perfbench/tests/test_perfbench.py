"""Self-tests for the benchmark: seeded inputs, oracles that fail loudly,
and the exit codes the benchmark contract relies on. No Spark session is
started here; run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SMALL = {"n_chains": 6, "chain_len": (3, 9), "hub_degree": 5, "n_next": 3, "next_len": (3, 7)}


def _inputs(seed):
    rows = gen.document_rows(seed, 200)
    links, edges = gen.sameas_link_docs(seed, 200)
    return rows, links, edges, gen.fixpoint_graph(seed, **SMALL), gen.query_params(seed, rows)


def test_same_seed_gives_identical_inputs(tmp_path):
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)
    a, b = tmp_path / "a.parquet", tmp_path / "b.parquet"
    gen.write_rows(gen.document_rows(7, 50), str(a))
    gen.write_rows(gen.document_rows(7, 50), str(b))
    assert pq.read_table(a).equals(pq.read_table(b))


def test_documents_are_unique_and_mixed():
    rows, links, edges, graph, _q = _inputs(3)
    assert len({r["text"] for r in rows}) == len(rows)
    assert {gen.row_syntax(r["doc_id"]) for r in rows} == {"turtle", "ntriples", "nquads"}
    assert len(edges) > 0 and all(d["syntax"] == "ntriples" for d in links)
    texts = [d["spans"][0]["text"] for d in links + graph["docs"]]
    assert len(set(texts)) == len(texts)


def _write_stage(path, triples):
    os.makedirs(path)
    cols = list(zip(*triples))
    names = oracle.TRIPLE_KEY
    table = pa.table({n: pa.array(c, pa.string()) for n, c in zip(names, cols)})
    pq.write_table(table.append_column("doc_id", pa.array(["d"] * len(triples))),
                   os.path.join(path, "part-0.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def test_planted_wrong_triple_fails_the_oracle(tmp_path):
    rows, _links, edges, _graph, _q = _inputs(5)
    base = oracle.pipeline_triples(rows, edges)
    expected = oracle.pipeline_expected(rows, edges, gen.linking_dictionary(5))

    _write_stage(str(tmp_path / "good"), base)
    good = oracle.digest(oracle.read_stage(str(tmp_path / "good"), oracle.TRIPLE_KEY))
    assert oracle.check_kg(expected, {"triples": good}) == []

    s, p, o, lang, dt, g = base[17]
    planted = base[:17] + [(s, p, o + "x", lang, dt, g)] + base[18:]
    _write_stage(str(tmp_path / "bad"), planted)
    bad = oracle.digest(oracle.read_stage(str(tmp_path / "bad"), oracle.TRIPLE_KEY))
    assert bad[0] == good[0]
    assert oracle.check_kg(expected, {"triples": bad}) == ["triples"]


def test_incomplete_stage_is_an_error(tmp_path):
    (tmp_path / "stage").mkdir()
    with pytest.raises(FileNotFoundError):
        oracle.read_stage(str(tmp_path / "stage"), oracle.TRIPLE_KEY)


def test_entailment_oracle_counts_chain_closures():
    graph = _inputs(2)[3]
    expected = oracle.fixpoint_expected(graph)
    closure = sum(len(c) * (len(c) - 1) // 2 for c in graph["next_chains"])
    assert expected["entailed_next"][0] == closure


def test_query_oracle_answers_every_template():
    rows = gen.document_rows(4, 120)
    qo = oracle.QueryOracle(rows)
    try:
        for t, params in gen.query_params(4, rows):
            n, _h = qo.expected(workloads.queries.render(t, params)[1])
            assert n >= 1, t  # aggregates, ASK and non-empty selections
    finally:
        qo.close()


def test_tail_is_p90_or_the_eleventh_largest():
    assert workloads.tail([float(i) for i in range(1, 31)]) == (27.0, "p90.0")
    assert workloads.tail([float(i) for i in range(1, 15)]) == (13.0, "p92.9")
    assert workloads.tail([float(i) for i in range(1, 201)]) == (190.0, "p95.0")
    assert workloads.tail([3.0]) == (3.0, "p100.0")


def _run(args, cwd):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=120)


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_empty_input_exits_nonzero(workload, monkeypatch, capsys):
    monkeypatch.setattr(gen, "document_rows", lambda seed, n: [])
    code = run.main(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0"])
    assert code == 3
    assert capsys.readouterr().out == ""


def test_without_the_program_exits_nonzero(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(["--workload", "sparql_serve", "--seed", "1", "--seconds", "1", "--trace", "0"],
             str(tmp_path))
    assert p.returncode == 2
    assert p.stdout.strip() == ""


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == sorted(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert [m["name"] for m in spec["per_layer"]] == workloads.PER_LAYER
    for m in spec["per_layer"]:
        assert m["unit"] == run.layer_unit(m["name"])
        assert workloads.moves(m["name"])[1] in run.WORKLOADS
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
