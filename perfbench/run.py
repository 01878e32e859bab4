"""KG-construction benchmark for mentor_rdf_parsers_spark.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Builds the workload's inputs from ``--seed``, runs it on ``local[nproc]``,
checks every output against an independent DuckDB/Python oracle and prints
one compact JSON summary as the last stdout line: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1`` (a separate,
span-instrumented run). The full record (latencies, set-up repeats, input
properties, spans) goes to ``.perfbench/records/`` in the checkout.

Exit codes: 0 on a completed run (``correct`` says whether every output
matched), 1 when a kg_build stage is wrong, 2 when the program cannot be
imported, 3 on empty input.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import session  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = {"kg_build": workloads.KgBuild, "sparql_serve": workloads.SparqlServe}

END_TO_END_UNITS = {
    "triples_per_s": "triples/s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "queries_per_s": "queries/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return name.rsplit(".", 1)[1].replace("_per_s", "") + "/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("kernel_share", "spark_efficiency", "link_rate", "task_skew")):
        return "ratio"
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def program_importable() -> bool:
    sys.path.insert(0, ROOT)
    try:
        import mentor_rdf_parsers_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return False
    return True


def run(args) -> tuple[dict, dict, int]:
    """Returns (summary, full record, exit code)."""
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": session.nproc(),
              "python": platform.python_version(),
              "sizes": {k: v for k, v in workloads.SIZES.items() if k.startswith(args.workload)}}
    w = WORKLOADS[args.workload](work, args.seed)
    # before the session starts, so empty input costs no JVM
    w.generate()
    spark = None
    try:
        ticks0 = session.cpu_ticks()
        with session.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = session.start_spark(ROOT, work)
            record["session_s"] = time.perf_counter() - t0
            import pyspark

            record["pyspark"] = pyspark.__version__
            w.spark = spark
            if args.trace:
                res = traced(w, spark, args, record)
            else:
                res = timed(w, args, record)
        record["peak_rss_mb"] = rss.peak_mb
        # a diagnostic for slow runs: the share of the machine's CPU time
        # that other guests took while this run was going
        ticks1 = session.cpu_ticks()
        record["cpu_steal_share"] = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
    finally:
        if spark is not None:
            session.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    record.update({k: res[k] for k in ("attempted", "failed", "failures")})
    record["failed_ratio"] = res["failed"] / res["attempted"]
    if args.trace:
        metrics = {k: {"value": float(v), "unit": layer_unit(k)}
                   for k, v in res["metrics"].items()}
    else:
        metrics = {k: {"value": float(res[k] if k != "peak_rss_mb" else rss.peak_mb),
                       "unit": u} for k, u in END_TO_END_UNITS.items()}
    record["metrics"] = metrics
    summary = {"correct": res["failed"] == 0, "attempted": res["attempted"],
               "failed": res["failed"], "metrics": metrics}
    code = 1 if (args.workload == "kg_build" and res["failed"]) else 0
    return summary, record, code


def timed(w, args, record: dict) -> dict:
    # set up several times; the last copy is the one measured
    times = []
    for i in range(w.setup_repeats):
        t0 = time.perf_counter()
        w.setup(i)
        times.append(time.perf_counter() - t0)
    record["setup_repeats_s"] = times
    record["properties"] = w.properties()
    t0 = time.perf_counter()
    w.warm_up()
    record["warm_up_s"] = time.perf_counter() - t0
    setup_s = record["session_s"] + statistics.median(times) + record["warm_up_s"]
    res = w.timed(args.seconds)
    lat = res["latencies"]
    tail_v, tail_p = workloads.tail(lat)
    res.update({
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail_v,
        "queries_per_s": len(lat) / sum(lat),
    })
    record.update({"latencies_s": lat, "tail_percentile": tail_p, "samples": len(lat),
                   "fixpoint_s": res.get("fixpoint_s"),
                   "per_template_p50_s": res.get("per_template_p50_s")})
    return res


def traced(w, spark, args, record: dict) -> dict:
    tr = spans.Tracer(spark)
    w.setup(0, tr)
    record["properties"] = w.properties()
    res = w.traced(tr, args.seconds)
    res["metrics"] = workloads.layer_metrics(tr, res["metrics"], res.pop("texts"),
                                             res.pop("syntax_triples"))
    record["spans"] = tr.spans
    record["self_time_s"] = spans.self_times(tr.spans)
    record["layers_below_roots_s"] = spans.below_roots(tr.spans, workloads.ROOT_SPANS)
    record["moves"] = {m: workloads.moves(m) for m in workloads.PER_LAYER}
    return res


def _terminate(signum, _frame):
    # turn SIGTERM into SystemExit so the session stops and the work
    # directory is removed on the way out
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    args = parse_args(argv)
    if not program_importable():
        return 2
    try:
        summary, record, code = run(args)
    except workloads.EmptyInput as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    rec_dir = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(rec_dir, exist_ok=True)
    path = os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for msg in record["failures"]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps(summary, separators=(",", ":")))
    return code


if __name__ == "__main__":
    sys.exit(main())
