"""CPG build benchmark.

Mirrors the production path of ``tools/run_pipeline.py``: a parquet source
table is read with ``sources.read_source_table``, the graph is built with
``plans.pipeline.build_cpg`` (ad-hoc mode), written with
``sources.write_graph_tables``, read back with ``read_graph_tables`` and
queried with ``scan.run_queries`` and the ``query.Cpg`` DSL.

    python3 cpgbench/run.py --workload c_bulk --seed 1 --seconds 1 --trace 0

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The exit code is 1 when
any output check fails, 2 when the program under test is missing.

Each run starts one Spark session and performs one build — the unit a
``spark-submit`` of ``tools/run_pipeline.py`` pays — so the build includes
the first-build JIT warm-up. The build's headline cost is ``build_cpu_s``,
the CPU seconds (user + system) the Python driver, its JVM and the Python
workers spend from source table to graph tables written. CPU time leaves out
the time a busy shared host keeps the build's threads waiting, which moves a
build's wall time by a third between runs of the same input; the wall time
is reported by the traced run as ``tracing.build_s``. All scratch (Spark
local dirs, source table, graph tables, build checkpoints, event log) lives
under ``.bench_work/`` in the current directory and is removed at exit;
``.bench_work/records.json`` keeps each seed's graph digest, keyed by a
fingerprint of the code under test, so later runs of the same code on that
seed are compared to it.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shlex
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
DRIVER_MEM = "4g"  # the session factory's 48g default does not fit small hosts


def _prepare_work_dir() -> str:
    """Fresh per-run scratch dir; dirs left by killed runs are removed."""
    os.makedirs(WORK_ROOT, exist_ok=True)
    for name in os.listdir(WORK_ROOT):
        if name.startswith("run-"):
            pid = int(name.split("-", 1)[1])
            if pid != os.getpid() and not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def _pin_environment(work: str) -> None:
    """Settings the session and its Python workers inherit. SPARK_LOCAL_DIRS
    takes precedence over the session's ``spark.local.dir``, so Spark's
    scratch stays inside ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])


def _start_session(event_log: str | None):
    """The repository's session factory, ``joern_spark.session.get_spark``,
    under the pinned environment. The benchmark's own settings (JVM scratch
    inside the checkout, the event log of a traced run) reach the JVM as
    spark-submit arguments."""
    from joern_spark.session import get_spark

    confs = {"spark.driver.extraJavaOptions":
             f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
             "spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs(event_log)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_log,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.ui.retainedJobs": "100000",
                      "spark.ui.retainedStages": "100000"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
        + ["pyspark-shell"])
    return get_spark(app="cpgbench")


def _write_source_table(rows, path: str) -> None:
    """The generated rows as a one-file parquet table in the source-table
    schema, written without Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from joern_spark.sources import SOURCE_COLS

    schema = pa.schema([pa.field(c, pa.string(), nullable=False)
                        for c in SOURCE_COLS])
    os.makedirs(path)
    pq.write_table(pa.Table.from_arrays(
        [pa.array(col, pa.string()) for col in zip(*rows)], schema=schema),
        os.path.join(path, "part-00000.parquet"))


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and every process under this one
    (the Python workers) to end."""
    from pyspark import SparkContext

    from cpgbench.tracing import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _redirect_build_scratch(work: str) -> None:
    """Ad-hoc builds checkpoint to a fresh directory under ``work`` (instead
    of /dev/shm), so no build can resume from another's output and the run
    leaves nothing behind outside its checkout."""
    import tempfile

    from joern_spark.plans import pipeline

    scratch = os.path.join(work, "build")
    os.makedirs(scratch)
    pipeline._adhoc_scratch_dir = lambda: tempfile.mkdtemp(
        prefix="joern_spark_parse_", dir=scratch)


def _code_fingerprint() -> str:
    """sha256 over the program under test and this benchmark, so stored
    results are compared only with runs of the same code."""
    paths = sorted(os.path.join(d, f)
                   for top in ("joern_spark", "cpgbench")
                   for d, _, files in os.walk(os.path.join(ROOT, top))
                   if "__pycache__" not in d for f in files)
    h = hashlib.sha256()
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _dsl_traversals(g, hot: str, sink: str) -> dict[str, int]:
    """Callers and callees of a hot external, and the parameters that reach
    a sink call's arguments."""
    from joern_spark.query import Cpg

    cpg = Cpg(g["nodes"], g["edges"])
    callers = cpg.method().name_exact(hot).caller().dedup()
    return {"callers": callers.count(),
            "callees": callers.call_out().dedup().count(),
            "flows": (cpg.call().name_exact(sink).argument()
                      .reachable_by(cpg.parameter()).count())}


def run(workload: str, seed: int, trace: bool, work: str) -> dict:
    from cpgbench import checks, layers, tracing
    from cpgbench.workloads import (GENERATORS, HOT_EXTERNAL, SINK_CALL,
                                    corpus_rows)

    rows = GENERATORS[workload](seed)
    input_id = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    per_layer: dict[str, float] = {}
    if trace:
        per_layer.update(layers.measure(
            layers.sample_files(rows, corpus_rows(), seed)))

    event_log = os.path.join(work, "eventlog") if trace else None
    errors: list[str] = []
    with tracing.RssSampler() if trace else contextlib.nullcontext() as rss:
        t0 = time.perf_counter()
        spark = _start_session(event_log)
        session_s = time.perf_counter() - t0
        try:
            from joern_spark.plans.pipeline import build_cpg
            from joern_spark.scan import run_queries
            from joern_spark.sources import (read_graph_tables,
                                             read_source_table,
                                             write_graph_tables)
            _redirect_build_scratch(work)

            t0 = time.perf_counter()
            _write_source_table(rows, os.path.join(work, "source"))
            source_write_s = time.perf_counter() - t0
            setup_s = session_s + source_write_s

            tracer = tracing.Tracer(spark.sparkContext if trace else None)
            if trace:
                tracer.instrument()
            out_path = os.path.join(work, "graph")
            cpu0 = tracing.tree_cpu_s(os.getpid())
            try:
                with tracer.span("build") as build_span:
                    with tracer.span("read_source_table", "sources"):
                        src = read_source_table(spark, os.path.join(work, "source"))
                    with tracer.span("build_cpg", "pipeline") as cpg_span:
                        out = build_cpg(spark, src)
                    with tracer.span("write_graph_tables", "sources") as write_span:
                        write_graph_tables(out, out_path)
            finally:
                tracer.restore()
            build_s = build_span.duration
            build_cpu_s = tracing.tree_cpu_s(os.getpid()) - cpu0

            g = read_graph_tables(spark, out_path)
            with tracer.span("run_queries", "scan") as scan_span:
                findings = run_queries(g["nodes"], g["edges"]).collect()
            results = {"findings": len(findings)}
            if trace:
                with tracer.span("dsl", "query") as dsl_span:
                    results.update(_dsl_traversals(
                        g, HOT_EXTERNAL[workload], SINK_CALL[workload]))

            t_checks = time.perf_counter()
            errors += checks.sha_rollup_mismatches(g["metrics"], src)
            errors += checks.findings_mismatches(findings, rows)
            n_failed = g["errors"].select("repo", "path").distinct().count()
            errors += checks.record_mismatches(
                os.path.join(WORK_ROOT, "records.json"),
                f"{workload}:{seed}:{input_id}:{_code_fingerprint()}",
                {"edges": checks.graph_digest(g["edges"]), **results})
            checks_s = time.perf_counter() - t_checks

            if trace:
                per_layer.update(_graph_counts(g))
                per_layer["sources.write_s"] = write_span.duration
                per_layer["sources.bytes_written"] = _dir_bytes(out_path)
                per_layer["scan.findings"] = len(findings)
                per_layer["tracing.build_s"] = build_s
                per_layer["tracing.build_cpu_s"] = build_cpu_s
                per_layer["query.dsl_s"] = dsl_span.duration
                per_layer["query.read_set_s"] = scan_span.duration + dsl_span.duration
                for layer in ("base", "callgraph", "linking", "scan"):
                    spans = tracer.layer(layer)
                    per_layer[f"{layer}.call_s"] = sum(s.duration for s in spans)
                    per_layer[f"{layer}.jobs"] = tracer.jobs_of(spans)
        finally:
            _stop_session(spark)

    metrics: dict[str, tuple[float, str]]
    if trace:
        figs, busy = tracing.event_log_figures(
            event_log, build_span.start, build_span.end)
        per_layer.update({f"pipeline.{k}": v for k, v in figs.items()})
        per_layer["trace.coverage"] = tracer.coverage(cpg_span, busy)
        per_layer["pipeline.link_materialize_s"] = out["timings"]["link_materialize_sec"]
        per_layer["parse.stage_s"] = out["timings"]["parse_extract_sec"]
        per_layer["parse.error_ratio"] = n_failed / len(rows)
        per_layer["pipeline.peak_rss_mb"] = rss.peak_mb
        spans_path = os.path.join(WORK_ROOT, f"spans-{workload}-{seed}.jsonl")
        tracer.dump(spans_path)
        print(f"spans written to {spans_path}", file=sys.stderr)
        metrics = {k: (v, _unit(k)) for k, v in sorted(per_layer.items())}
    else:
        metrics = {
            "build_cpu_s": (build_cpu_s, "s"),
            "setup_s": (setup_s, "s"),
        }
    print(f"phases: session {session_s:.1f}s, source write "
          f"{source_write_s:.2f}s, build {build_s:.1f}s "
          f"({build_cpu_s:.1f} CPU s), "
          f"scan {scan_span.duration:.1f}s, checks {checks_s:.1f}s; "
          f"results {results}", file=sys.stderr)
    for e in errors:
        print(f"MISMATCH {e}", file=sys.stderr)
    return {"correct": not errors, "attempted": len(rows), "failed": n_failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def _unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio") or name.endswith("coverage"):
        return "ratio"
    return "count"


def _graph_counts(g) -> dict[str, float]:
    """Parse-stage rows and link-layer output counts, read from the written
    graph."""
    from pyspark.sql import functions as F

    from joern_spark import model as M

    calls = g["edges"].filter(F.col("label") == M.CALL_EDGE)
    n_sites = g["nodes"].filter(F.col("kind") == M.CALL).count()
    parsed = g["nodes"].filter(F.col("node_idx") >= 0).count() + g["errors"].count()
    return {"parse.rows": parsed,
            "callgraph.call_edges": calls.count(),
            "callgraph.resolved_ratio":
                calls.select("src").distinct().count() / max(n_sites, 1),
            "linking.aliases": g["canonical"].count() if "canonical" in g else 0}


def main(argv: list[str] | None = None) -> int:
    from cpgbench.workloads import GENERATORS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the benchmark interface; a run always "
                         "measures exactly one build, about 45-65 s on a "
                         "4-core host")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "joern_spark")):
        print(f"error: no joern_spark package under {ROOT}; run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = _prepare_work_dir()
    try:
        _pin_environment(work)
        result = run(args.workload, args.seed, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
