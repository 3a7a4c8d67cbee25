"""Output checks for the CPG build benchmark. Each returns a list of
mismatch descriptions; an empty list means the output is correct."""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import DataFrame, functions as F


def sha_rollup_mismatches(metrics: DataFrame, source: DataFrame) -> list[str]:
    """The written ``metrics`` table's per-(repo, lang) file count and sha
    roll-up must equal ``source_sha_rollup`` of the input table."""
    from joern_spark.plans.pipeline import source_sha_rollup

    def key(df):
        return {(r.repo, r.lang): (r.n_files, r.sha_rollup)
                for r in df.select("repo", "lang", "n_files", "sha_rollup").collect()}
    got, want = key(metrics), key(source_sha_rollup(source))
    return [f"sha roll-up {k}: graph {got.get(k)} != source {want.get(k)}"
            for k in sorted(set(got) | set(want)) if got.get(k) != want.get(k)]


def graph_digest(edges: DataFrame) -> dict[str, list[int]]:
    """label -> [edge count, xor of per-edge hashes] (order-insensitive)."""
    rows = (edges.groupBy("label")
            .agg(F.count("*").alias("n"),
                 F.expr("bit_xor(xxhash64(src, dst, label, variable))").alias("h"))
            .collect())
    return {r.label: [r.n, r.h] for r in sorted(rows, key=lambda r: r.label)}


def record_mismatches(state_path: str, key: str, record: dict) -> list[str]:
    """Compare ``record`` with what earlier runs of the same input stored
    under ``key`` in this checkout, field by field; fields not stored yet
    are added."""
    state = {}
    if os.path.exists(state_path):
        with open(state_path) as f:
            state = json.load(f)
    # round-trip through JSON so tuples and lists compare alike
    record = json.loads(json.dumps(record))
    want = state.setdefault(key, {})
    errors = [f"{key} {k}: {v} != earlier run {want[k]}"
              for k, v in sorted(record.items()) if k in want and want[k] != v]
    if not errors and not record.keys() <= want.keys():
        want.update(record)
        tmp = f"{state_path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, state_path)
    return errors


def expected_findings(rows) -> set[tuple]:
    """Scan findings re-derived sequentially from the input files, the way
    ``joern_spark.oracle.expected_findings`` derives them for the fixtures:
    unsafe-call names, and copy calls with a loop ancestor within 12 AST
    parents. Only files whose text names a scanned function can match."""
    import hashlib

    from joern_spark import model as M
    from joern_spark.operators.parse import _parse_one
    from joern_spark.scan import COPY_FNS, INSECURE_FNS, LOOP_KINDS

    sys.setrecursionlimit(50_000)
    out = set()
    for repo, path, commit, lang, content in rows:
        if not any(fn in content for fn in INSECURE_FNS + COPY_FNS):
            continue
        sha = hashlib.sha256(content.encode()).hexdigest()
        parsed = _parse_one(repo, path, commit, lang, content, sha, True)
        by_idx = {r["node_idx"]: r for r in parsed}

        def method_fn(r):
            m = by_idx.get(r["method_idx"])
            return m["full_name"] if m is not None else ""

        for r in parsed:
            if r["kind"] != M.CALL:
                continue
            if r["name"] in INSECURE_FNS:
                out.add(("call-to-insecure-function", path, method_fn(r),
                         r["line"], r["code"]))
            if r["name"] in COPY_FNS:
                p, depth = by_idx.get(r["parent_idx"]), 0
                while p is not None and depth < 12:
                    if (p["kind"] == M.CONTROL_STRUCTURE
                            and p["control_structure_type"] in LOOP_KINDS):
                        out.add(("copy-loop", path, method_fn(r),
                                 r["line"], r["code"]))
                        break
                    p, depth = by_idx.get(p["parent_idx"]), depth + 1
    return out


def findings_mismatches(findings, rows) -> list[str]:
    got = {(f.query_name, f.path, f.method_full_name, f.line, f.code)
           for f in findings}
    want = expected_findings(rows)
    if got == want:
        return []
    return [f"scan findings: {len(got - want)} unexpected "
            f"{sorted(got - want)[:3]}, {len(want - got)} missing "
            f"{sorted(want - got)[:3]}"]
