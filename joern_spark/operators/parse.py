"""Parse stage: source table → raw CPG node rows (+ fused intraprocedural
edges) via ``mapInPandas``.

Replicates reference pass #1 (AstCreationPass — per-file ForkJoin parts,
c2cpg/.../passes/AstCreationPass.scala:80-120) as the Spark partitioning
axis: each Arrow batch of (repo, path, commit, lang, content) rows is parsed
in-process; per-file failures degrade to a single ``parse_error`` row instead
of failing the task (at 10^12-file scale some files WILL be pathological).

The CFG / dominator / CDG / reaching-def kernels run inside the same stage
on the just-built AST — the per-method passes of the reference
(CfgCreationPass, CfgDominatorPass, CdgPass, ReachingDefPass) collapse into
the parse stage with ZERO extra shuffle, because method locality ⊂ file
locality.
"""

from __future__ import annotations

import sys
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from joern_spark import model as M

RAW_COLS = [f.name for f in M.RAW_NODE_SCHEMA.fields]


def _parse_one(repo: str, path: str, commit: str, lang: str, content: str,
               sha: str, fuse: bool) -> list[dict]:
    from joern_spark.frontends.astnode import flatten_file, parse_error_row

    try:
        if lang in ("c", "cpp", "c++", "h", "hpp"):
            from joern_spark.frontends.clike import parse_c_file
            roots = parse_c_file(repo, path, commit, "cpp" if lang in ("cpp", "c++", "hpp") else "c", content)
        elif lang == "java":
            from joern_spark.frontends.javasrc import parse_java_file
            roots = parse_java_file(repo, path, commit, content)
        elif lang in ("javascript", "js"):
            from joern_spark.frontends.jssrc import parse_js_file
            roots = parse_js_file(repo, path, commit, content)
        else:
            return [parse_error_row(repo, path, commit, lang, content, f"unsupported lang: {lang}")]
        rows = flatten_file(repo, path, commit, lang, content, roots, sha=sha)
        if fuse and rows:
            _fuse_intra_edges(rows)
        return rows
    except RecursionError:
        return [parse_error_row(repo, path, commit, lang, content, "recursion limit")]
    except Exception as e:  # noqa: BLE001 — per-file isolation by design
        return [parse_error_row(repo, path, commit, lang, content, f"{type(e).__name__}: {e}")]


def _fuse_intra_edges(rows: list[dict]) -> None:
    """Run the per-method control-flow and reaching-def kernels and attach
    their edge arrays to the METHOD rows."""
    from joern_spark.operators.controlflow import cfg_for_method, dominator_edges
    from joern_spark.operators.dataflow import reaching_def_edges

    by_method: dict[int, list[dict]] = {}
    methods = []
    for r in rows:
        if r["kind"] == M.METHOD:
            methods.append(r)
        if r["method_idx"] >= 0:
            by_method.setdefault(r["method_idx"], []).append(r)
    cfg_code, dom_code, pdom_code, cdg_code, rdef_code = (
        M.IE_CODE[M.CFG], M.IE_CODE[M.DOMINATE], M.IE_CODE[M.POST_DOMINATE],
        M.IE_CODE[M.CDG], M.IE_CODE[M.REACHING_DEF])
    for m in methods:
        mrows = by_method.get(m["node_idx"], []) + [m]
        cfg = cfg_for_method(mrows, m)
        srcs = [s for s, _, _ in cfg]
        dsts = [d for _, d, _ in cfg]
        labels = [cfg_code] * len(cfg)
        variables: list = [None] * len(cfg)
        exit_idx = next((r["node_idx"] for r in mrows
                         if r["kind"] == M.METHOD_RETURN and r["parent_idx"] == m["node_idx"]), None)
        if cfg and exit_idx is not None:
            kind_of = {r["node_idx"]: r["kind"] for r in mrows}
            dom, pdom, cdg = dominator_edges(cfg, m["node_idx"], exit_idx,
                                             kind_of=kind_of)
            for pairs, code in ((dom, dom_code), (pdom, pdom_code), (cdg, cdg_code)):
                for s, d in pairs:
                    srcs.append(s); dsts.append(d); labels.append(code); variables.append(None)
        for s, d, v in reaching_def_edges(mrows, m, cfg):
            srcs.append(s); dsts.append(d); labels.append(rdef_code); variables.append(v)
        m["ie_src"], m["ie_dst"], m["ie_label"], m["ie_var"] = srcs, dsts, labels, variables


def parse_source(source: DataFrame) -> DataFrame:
    """source(repo,path,commit,lang,content) → raw node rows.

    The sha256 lineage column is computed JVM-side (F.sha2) and carried
    through the Python workers untouched — the per-row invariant.
    """
    src = source.withColumn("sha256", F.sha2(F.col("content"), 256))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sys.setrecursionlimit(50_000)
        for pdf in batches:
            out: list[dict] = []
            for t in pdf.itertuples(index=False):
                out.extend(_parse_one(t.repo, t.path, t.commit, t.lang,
                                      t.content, t.sha256, True))
            if out:
                yield pd.DataFrame(out, columns=RAW_COLS)

    return src.mapInPandas(run, schema=M.RAW_NODE_SCHEMA)


# --------------------------------------------------------------------------- #
# Id resolution + edge derivation — all JVM-side expressions, no UDFs.
# --------------------------------------------------------------------------- #

def _fid(idx_col: str):
    """Deterministic 64-bit id from (repo,path,commit,idx) — distributed-safe
    replacement for the reference's sequence ids."""
    return F.xxhash64(F.col("repo"), F.col("path"), F.col("commit"), F.col(idx_col))


def with_ids(raw: DataFrame) -> DataFrame:
    """Attach global ids; drop parse-error rows into a side relation callers
    can split off via ``parse_error != ''``."""
    return (
        raw.withColumn("id", _fid("node_idx"))
        .withColumn("parent_id", F.when(F.col("parent_idx") >= 0, _fid("parent_idx")))
        .withColumn("method_id", F.when(F.col("method_idx") >= 0, _fid("method_idx")))
        .withColumn("ref_id", F.when(F.col("ref_idx") >= 0, _fid("ref_idx")))
    )


def derived_edges(nodes: DataFrame) -> DataFrame:
    """Every edge the parse rows determine on their own, in ONE scan of the
    parse parquet: the projection-derived edges plus the METHOD rows' fused
    intraprocedural edges (CFG, DOMINATE, POST_DOMINATE, CDG, REACHING_DEF;
    ``model.IE_LABELS``). No join, no shuffle: the parser resolved
    everything file-locally, and the other targets (TYPE, FILE, the
    per-file ``<global>`` NAMESPACE_BLOCK, NAMESPACE) are pure id-hash
    functions of row columns.

    Reference equivalents: Ast.withChild/argEdges (Ast.scala:85-121),
    VariableScopeManager REF links (:334-358), ContainsEdgePass.scala:15-48
    (projection via parser-carried method_idx), TypeEvalPass.scala:9-42,
    FileCreationPass.scala:41-55, MethodDecoratorPass.scala:50,
    NamespaceCreator.scala:17-25, AstLinkerPass.scala:12-61 (the
    ``<global>`` parents), TypeHierarchyPass and AliasLinkerPass.

    The per-row candidate structs, the parents named in ``inherits_from``
    and the transformed ie_* zip land in one concat'd array behind one
    generator, so the node parquet is decoded exactly once and the whole
    derivation stays in one codegen stage.
    """
    from joern_spark.operators.base import (EDGE_TYPE, EVAL_TYPE_KINDS, edge,
                                            explode_edges, file_id,
                                            namespace_id, nsb_id, type_id)

    n = nodes.filter(F.col("parse_error") == "")
    kind, pid, nid = F.col("kind"), F.col("parent_id"), F.col("id")
    root = F.col("node_idx") == 0
    role_map = F.create_map(*[F.lit(x) for kv in M.ROLE_EDGE_LABELS.items() for x in kv])
    candidates = F.array(
        # BINDING children attach via BINDS (vtable entry), not AST
        # (BindingTableAdapterImpls.scala: typeDecl -BINDS-> binding)
        edge(pid.isNotNull() & (kind != M.BINDING), pid, nid, M.AST),
        edge(pid.isNotNull() & (kind == M.BINDING), pid, nid, M.BINDS),
        edge((F.col("role") != "") & pid.isNotNull(),
             pid, nid, role_map[F.col("role")]),
        edge((F.col("arg_index") >= 0) & pid.isNotNull(), pid, nid, M.ARGUMENT,
             F.col("arg_index").cast("string")),
        edge(F.col("ref_id").isNotNull(), nid, F.col("ref_id"), M.REF),
        edge(F.col("method_id").isNotNull()
             & (~kind.isin(M.METHOD, M.METHOD_PARAMETER_IN,
                           M.METHOD_PARAMETER_OUT, M.METHOD_RETURN,
                           M.LOCAL, M.MODIFIER, M.TYPE_DECL, M.MEMBER)),
             F.col("method_id"), nid, M.CONTAINS),
        edge(kind.isin(EVAL_TYPE_KINDS)
             & (F.col("type_full_name") != "") & F.col("type_full_name").isNotNull(),
             nid, type_id(F.col("type_full_name")), M.EVAL_TYPE),
        edge(kind.isin(M.METHOD, M.TYPE_DECL) & (F.col("path") != ""),
             nid, file_id(), M.SOURCE_FILE),
        edge(kind == M.METHOD_PARAMETER_IN,
             nid, F.xxhash64(F.lit("POUT"), nid), M.PARAMETER_LINK),
        # the file's <global> NAMESPACE_BLOCK: its FILE and its NAMESPACE
        edge(root, nsb_id(), file_id(), M.SOURCE_FILE),
        edge(root, nsb_id(), namespace_id(F.lit(M.GLOBAL)), M.REF),
        edge(kind == M.NAMESPACE_BLOCK, nid, namespace_id(F.col("name")), M.REF),
        edge(kind.isin(M.METHOD, M.TYPE_DECL, M.MEMBER)
             & (F.col("ast_parent_full_name") != "")
             & (F.col("ast_parent_type") == M.NAMESPACE_BLOCK),
             nsb_id(), nid, M.AST),
        edge((kind == M.TYPE_DECL) & (F.col("alias_type_full_name") != ""),
             nid, type_id(F.col("alias_type_full_name")), M.ALIAS_OF),
    )
    # the parsers resolve supertype names, except JavaScript's:
    # base.run_base links those through the import/name lookup
    inherits = F.transform(
        F.coalesce(F.when((kind == M.TYPE_DECL) & (F.col("lang") != "javascript"),
                          F.col("inherits_from")),
                   F.array().cast("array<string>")),
        lambda p: edge(None, nid, type_id(p), M.INHERITS_FROM))
    label_lut = F.array(*[F.lit(x) for x in M.IE_LABELS])
    ie = F.when(
        (kind == M.METHOD) & F.col("ie_src").isNotNull(),
        F.transform(
            F.arrays_zip("ie_src", "ie_dst", "ie_label", "ie_var"),
            lambda x: F.struct(
                F.xxhash64("repo", "path", "commit", x["ie_src"]).alias("src"),
                F.xxhash64("repo", "path", "commit", x["ie_dst"]).alias("dst"),
                F.element_at(label_lut, x["ie_label"] + 1).alias("label"),
                x["ie_var"].alias("variable")))
    ).otherwise(F.array().cast(f"array<{EDGE_TYPE}>"))
    return explode_edges(n, F.concat(candidates, inherits, ie))
