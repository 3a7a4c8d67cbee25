"""Single-process, Spark-free timings of the per-file layers: the three
frontends (parse + flatten to rows) and the per-method control-flow and
data-flow kernels the parse stage fuses in. Run before the Spark session
starts, so no scheduler or JVM activity competes with them.
"""

from __future__ import annotations

import random
import sys
import time

from joern_spark import model as M

FRONTEND_OF = {"c": "clike", "cpp": "clike", "java": "javasrc",
               "javascript": "jssrc"}
SAMPLE_FILES = 80


def _parse(lang: str, repo: str, path: str, commit: str, content: str):
    if FRONTEND_OF[lang] == "clike":
        from joern_spark.frontends.clike import parse_c_file
        return parse_c_file(repo, path, commit, lang, content)
    if lang == "java":
        from joern_spark.frontends.javasrc import parse_java_file
        return parse_java_file(repo, path, commit, content)
    from joern_spark.frontends.jssrc import parse_js_file
    return parse_js_file(repo, path, commit, content)


def sample_files(rows, fallback, seed: int, per_frontend: int = SAMPLE_FILES):
    """Seeded sample of ``rows`` per frontend; a frontend the workload does
    not exercise is sampled from ``fallback`` (the parity corpus) instead."""
    rng = random.Random(f"layers:{seed}")
    out = {}
    for fe in ("clike", "javasrc", "jssrc"):
        pool = [r for r in rows if FRONTEND_OF.get(r[3]) == fe]
        pool = pool or [r for r in fallback if FRONTEND_OF.get(r[3]) == fe]
        out[fe] = rng.sample(pool, min(per_frontend, len(pool)))
    return out


def measure(samples) -> dict[str, float]:
    from joern_spark.frontends.astnode import flatten_file
    from joern_spark.operators.controlflow import cfg_for_method, dominator_edges
    from joern_spark.operators.dataflow import reaching_def_edges

    sys.setrecursionlimit(50_000)
    out: dict[str, float] = {}
    parsed = []
    fe_s_total = nodes_total = 0
    for fe, files in samples.items():
        fe_s = 0.0
        for repo, path, commit, lang, content in files:
            t0 = time.perf_counter()
            roots = _parse(lang, repo, path, commit, content)
            rows = flatten_file(repo, path, commit, lang, content, roots)
            fe_s += time.perf_counter() - t0
            nodes_total += len(rows)
            parsed.append(rows)
        out[f"frontends.{fe}.files_per_s"] = len(files) / fe_s
        fe_s_total += fe_s
    out["frontends.nodes_per_s"] = nodes_total / fe_s_total

    cfg_s = dom_s = rd_s = 0.0
    cf_edges = df_edges = 0
    for rows in parsed:
        by_method: dict[int, list[dict]] = {}
        for r in rows:
            if r["method_idx"] >= 0:
                by_method.setdefault(r["method_idx"], []).append(r)
        for m in (r for r in rows if r["kind"] == M.METHOD):
            mrows = by_method.get(m["node_idx"], []) + [m]
            t0 = time.perf_counter()
            cfg = cfg_for_method(mrows, m)
            cfg_s += time.perf_counter() - t0
            cf_edges += len(cfg)
            exit_idx = next((r["node_idx"] for r in mrows
                             if r["kind"] == M.METHOD_RETURN
                             and r["parent_idx"] == m["node_idx"]), None)
            if cfg and exit_idx is not None:
                kind_of = {r["node_idx"]: r["kind"] for r in mrows}
                t0 = time.perf_counter()
                dom, pdom, cdg = dominator_edges(cfg, m["node_idx"], exit_idx,
                                                 kind_of=kind_of)
                dom_s += time.perf_counter() - t0
                cf_edges += len(dom) + len(pdom) + len(cdg)
            t0 = time.perf_counter()
            df_edges += sum(1 for _ in reaching_def_edges(mrows, m, cfg))
            rd_s += time.perf_counter() - t0
    out.update({"controlflow.cfg_s": cfg_s, "controlflow.dominator_s": dom_s,
                "dataflow.reaching_def_s": rd_s,
                "controlflow.edges": cf_edges, "dataflow.edges": df_edges})
    return out
