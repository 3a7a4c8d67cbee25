"""Staged CPG pipeline with parquet checkpoints, per-stage lineage manifests
and idempotent resume.

Stage order mirrors the reference overlay order (X2Cpg.scala:374-388 →
DefaultOverlays.scala:18-25): parse (AST + fused intraprocedural passes) →
base linking → call graph. Every stage is a pure DataFrame→DataFrame
function; a checkpointed stage writes partitioned parquet plus a
``_manifest.json`` (stage name, row count, input fingerprint, wall time) and
a re-run with the same fingerprint short-circuits to a read — the analogue of
the reference's frontend↔console file handoff (CpgGenerator.scala:28-48),
which is exactly a resume boundary.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from joern_spark import model as M
from joern_spark.operators import base as B
from joern_spark.operators import callgraph as CG
from joern_spark.operators.parse import derived_edges, parse_source, with_ids


def _manifest_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage, "_manifest.json")


# Ad-hoc (out_dir=None) builds checkpoint to a RAM-backed scratch dir; every
# dir created in this process is removed at interpreter exit so repeated
# builds (test suites, bench loops) don't accumulate tmpfs usage across runs.
_ADHOC_DIRS: list[str] = []


def _adhoc_scratch_dir() -> str:
    import atexit
    import shutil
    import tempfile

    base = None
    if os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        # fall back to disk when tmpfs is nearly full (graph parquet for a
        # large corpus would OOM the RAM disk)
        if st.f_bavail * st.f_frsize > 4 << 30:
            base = "/dev/shm"
    d = tempfile.mkdtemp(prefix="joern_spark_parse_", dir=base)
    if not _ADHOC_DIRS:
        atexit.register(lambda: [shutil.rmtree(p, ignore_errors=True)
                                 for p in _ADHOC_DIRS])
    _ADHOC_DIRS.append(d)
    return d


def _write_stage(df: DataFrame, out_dir: str, stage: str, fingerprint: str,
                 partition_by: list[str] | None = None) -> DataFrame:
    from pyspark.sql import Observation
    path = os.path.join(out_dir, stage)
    t0 = time.time()
    # manifest row count rides the write job via observe() — no second
    # count job over the freshly written parquet
    obs = Observation(f"rows_{stage}")
    w = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    rows = obs.get["rows"]
    spark = df.sparkSession
    out = spark.read.parquet(path)
    with open(_manifest_path(out_dir, stage), "w") as f:
        json.dump({"stage": stage, "fingerprint": fingerprint, "rows": rows,
                   "wall_sec": round(time.time() - t0, 3)}, f)
    return out


def _resume(spark: SparkSession, out_dir: str, stage: str, fingerprint: str) -> DataFrame | None:
    mp = _manifest_path(out_dir, stage)
    if os.path.exists(mp):
        with open(mp) as f:
            m = json.load(f)
        if m.get("fingerprint") == fingerprint:
            return spark.read.parquet(os.path.join(out_dir, stage))
    return None


def _canonicalize(dim_full: DataFrame, call_edges: DataFrame):
    """Stage 3b — entity linking / canonicalization (north rule): unresolved
    stub symbols alias-paired to compatible internal definitions of the same
    bare name, collapsed by one union-find task per name; CALL edges
    rewritten through the canonical map. One eager checkpoint materializes
    the (tiny) map for both the rewrite join and the sink's canonical
    table."""
    from joern_spark.operators.linking import (canonical_symbol_map,
                                               canonicalize_call_edges)
    canonical = canonical_symbol_map(dim_full).localCheckpoint(eager=True)
    return canonical, canonicalize_call_edges(call_edges, canonical)


def source_fingerprint(source: DataFrame) -> str:
    """Order-insensitive fingerprint of the input table: xor of row hashes.
    The per-row invariant (sha256 of content) rolls up into the stage
    manifests, giving end-to-end lineage vs the input."""
    h = (source.select(F.xxhash64("repo", "path", "commit", "lang",
                                  F.sha2("content", 256)).alias("h"))
         .agg(F.expr("bit_xor(h)").alias("s"), F.count("*").alias("c"))
         .collect()[0])
    return f"{h['s']}:{h['c']}"


def build_cpg(spark: SparkSession, source: DataFrame, out_dir: str | None = None,
              fuse_intraprocedural: bool = True, run_callgraph: bool = True,
              fingerprint: str | None = None) -> dict[str, DataFrame]:
    """source(repo,path,commit,lang,content) → {nodes, edges, errors}."""
    # The edges stage is a wide union of operator branches; its rendered
    # explain string runs to hundreds of MB, and AQE re-renders it on every
    # plan update (AdaptiveSparkPlanExec.onUpdatePlan) — on a default-heap
    # driver that alone OOMs. Cap the plan string on whatever session the
    # caller hands us (runtime-settable SQL conf; explain output truncates
    # with a notice instead of materializing the full tree).
    spark.conf.set("spark.sql.maxPlanStringLength", "100000")
    fp = fingerprint
    if out_dir:
        os.makedirs(out_dir, exist_ok=True)
        fp = fp or source_fingerprint(source)
        # full resume: all stage checkpoints match the input fingerprint →
        # no plan construction at all (the closure checkpoint is eager)
        done_nodes = _resume(spark, out_dir, "nodes", fp)
        done_all = _resume(spark, out_dir, "all_nodes", fp)
        done_edges = _resume(spark, out_dir, "edges", fp)
        if done_nodes is not None and done_all is not None and done_edges is not None:
            # the canonical map persists as its own fingerprinted stage, so a
            # clean resume restores the entity-linking output too (a resumed
            # build followed by write_graph_tables must not lose it)
            return {"nodes": done_all, "edges": done_edges,
                    "errors": done_nodes.filter(F.col("parse_error") != ""),
                    "canonical": _resume(spark, out_dir, "canonical", fp)}

    # ---- stage 1: parse (+ fused per-method passes) -------------------------
    # The parse output is ALWAYS checkpointed to parquet, even for ad-hoc
    # (out_dir=None) runs: a dozen downstream branches (base passes, edge
    # derivation, four call linkers, final counts) each scan it, and a cached
    # in-memory copy of the wide rows (ie_* arrays) both risks eviction →
    # silent Python re-parse and defeats column pruning. A parquet stage
    # boundary gives every consumer a pruned columnar scan — the same reason
    # the reference hands off cpg.bin between frontend and console
    # (CpgGenerator.scala:28-48).
    nodes = None
    if out_dir:
        nodes = _resume(spark, out_dir, "nodes", fp)
    else:
        out_dir_adhoc = _adhoc_scratch_dir()
    timings: dict[str, float] = {}
    t_parse = time.time()
    if nodes is None:
        raw = parse_source(source, fuse_intraprocedural=fuse_intraprocedural)
        nodes = with_ids(raw)
        if out_dir:
            nodes = _write_stage(nodes, out_dir, "nodes", fp, partition_by=["lang"])
        else:
            # NO partitionBy here: dynamic partition writes sort the wide
            # parse rows per task, inflating the parse+write stage ~40% on
            # the bench corpus; lang-filtered consumers instead skip via
            # parquet row-group stats (each row group is single-language in
            # practice) plus the explicit has_js gate below
            path = os.path.join(out_dir_adhoc, "nodes")
            nodes.write.mode("overwrite").parquet(path)
            nodes = spark.read.parquet(path)
    timings["parse_extract_sec"] = round(time.time() - t_parse, 3)
    t_link = time.time()

    errors = nodes.filter(F.col("parse_error") != "")
    ok = nodes.filter(F.col("parse_error") == "")

    # ---- shared dimensions (one pruned scan each, persisted) ----------------
    # Every base pass and call linker works off these small relations; the
    # big node table is only re-read by the genuinely row-producing edge
    # derivations (ast_edges / intra_edges), each a single pruned scan.
    fns = B.used_type_fullnames(ok).persist()
    call_sites = ok.filter(F.col("kind") == M.CALL).select(
        "id", "name", "signature", "method_full_name", "dispatch_type", "nargs")
    # XTypeRecovery lite: recovered JS methodFullNames flow into the call
    # dimension BEFORE stub creation and linking, so require()-bound member
    # calls get stubs + CALL edges (XTypeHintCallLinker analogue). The
    # limit-1 probe skips the whole pass on JS-free corpora (parquet
    # row-group lang stats make it a near-metadata read there).
    from joern_spark.operators.typerecovery import apply_rewrites, js_mfn_rewrites
    rewrites = None
    if not ok.filter(F.col("lang") == "javascript").limit(1).isEmpty():
        rewrites = js_mfn_rewrites(ok).persist()
        call_sites = apply_rewrites(call_sites, rewrites)
    call_sites = call_sites.persist()
    methods_real = CG.method_dimension(ok).persist()

    # ---- stage 2: base linking ----------------------------------------------
    extra_nodes, base_edges = B.run_base(ok, fns, call_sites, methods_real)
    # (no eager materialization: every extra job pays fixed scheduling
    # latency that does not scale with cores; concurrent first-computations
    # of the small persisted dims inside one action cost less than a
    # sequential warm-up job each)
    all_nodes = ok.unionByName(extra_nodes)

    # full method dimension = real definitions + the external stubs run_base
    # just created (stub fullnames are disjoint from real ones by the
    # anti-join construction, so no re-dedup is needed)
    stub_dim = (extra_nodes.filter(F.col("kind") == M.METHOD)
                .select(F.col("full_name").alias("m_fn"), F.col("id").alias("m_id"),
                        F.col("name").alias("m_name"), F.col("is_external"),
                        F.col("ast_parent_full_name").alias("m_parent"),
                        F.col("signature").alias("m_sig")))
    dim_full = methods_real.unionByName(stub_dim)

    # ---- stage 2b: BINDS/BINDING vtable tables -------------------------------
    # (BindingTableAdapterImpls.scala; needs the stubs' TYPE_DECLs too, so it
    # runs over the unioned node relation). The inheritance closure and the
    # binding relation feed BOTH this stage and the dynamic call linker —
    # computed once, checkpointed (dimension-sized).
    from joern_spark.operators.bindings import (binding_nodes_and_edges,
                                                binding_relation)
    closure = CG.inheritance_closure(all_nodes).localCheckpoint(eager=True)
    # eager localCheckpoint, not lazy persist: the relation is consumed by
    # stage 2b AND the dynamic call linker, and its plan references the full
    # node relation several times — cutting it to a leaf keeps the final
    # edges plan's analysis cost (Catalyst DeduplicateRelations) bounded
    bind_rel = binding_relation(all_nodes, closure).localCheckpoint(eager=True)
    bind_nodes, bind_edges = binding_nodes_and_edges(all_nodes, bind_rel)
    all_nodes = all_nodes.unionByName(bind_nodes)

    # ---- stage 3: edges ------------------------------------------------------
    edges = derived_edges(ok).unionByName(base_edges).unionByName(bind_edges)
    canonical = None
    call_edges = None
    if run_callgraph:
        linked = CG.run_callgraph(all_nodes, closure, bind_rel,
                                  call_sites=call_sites, dim=dim_full,
                                  rewrites=rewrites)
        # CALL edges stay a separate relation until after canonicalization;
        # everything else (the bulk of the volume) is independent of the
        # entity-linking stage and can materialize concurrently with it.
        call_edges = linked.filter(F.col("label") == M.CALL_EDGE)
        edges = edges.unionByName(
            linked.filter(F.col("label") != M.CALL_EDGE))

    if out_dir:
        all_nodes_out = _resume(spark, out_dir, "all_nodes", fp)
        edges_out = _resume(spark, out_dir, "edges", fp)
        if all_nodes_out is None:
            all_nodes_out = _write_stage(all_nodes, out_dir, "all_nodes", fp, partition_by=["lang"])
        if edges_out is None:
            if run_callgraph:
                canonical, call_edges = _canonicalize(dim_full, call_edges)
                canonical = _write_stage(canonical, out_dir, "canonical", fp)
                edges = edges.unionByName(call_edges)
            edges_out = _write_stage(edges, out_dir, "edges", fp, partition_by=["label"])
        elif run_callgraph:
            # edges resumed: reload (or, for pre-existing checkpoints that
            # lack the stage, recompute — dimension-only, cheap) so the
            # canonical table survives a checkpointed resume
            canonical = _resume(spark, out_dir, "canonical", fp)
            if canonical is None:
                canonical, _ = _canonicalize(dim_full, call_edges)
                canonical = _write_stage(canonical, out_dir, "canonical", fp)
        all_nodes, edges = all_nodes_out, edges_out
    else:
        # callers typically run several queries over the result — materialize
        # the final edge relation as parquet on tmpfs rather than a
        # deserialized in-memory cache: caching tens of millions of edge
        # objects is GC-bound and does not scale with cores, while a columnar
        # write parallelizes and every later query gets a pruned scan.
        # The non-CALL bulk (AST/CFG/CONTAINS/... — ~95% of edge volume)
        # writes on a worker thread WHILE the entity-linking stage builds the
        # canonical map on the main thread: two independent DAG branches that
        # would otherwise serialize driver-side. all_nodes = parquet parse
        # output ∪ small cached extras — cheap to recompute, not re-written.
        import threading
        epath_rest = os.path.join(out_dir_adhoc, "edges_rest")
        epath_call = os.path.join(out_dir_adhoc, "edges_call")
        write_err: list[BaseException] = []

        def _write_rest():
            try:
                edges.write.mode("overwrite").parquet(epath_rest)
            except BaseException as ex:  # surfaced after join()
                write_err.append(ex)

        th = threading.Thread(target=_write_rest, name="edges_rest_writer")
        th.start()
        try:
            if run_callgraph:
                canonical, call_edges = _canonicalize(dim_full, call_edges)
                call_edges.write.mode("overwrite").parquet(epath_call)
        finally:
            th.join()
        if write_err:
            raise write_err[0]
        paths = [epath_rest] + ([epath_call] if run_callgraph else [])
        edges = spark.read.parquet(*paths)

    timings["link_materialize_sec"] = round(time.time() - t_link, 3)
    return {"nodes": all_nodes, "edges": edges, "errors": errors,
            "canonical": canonical, "timings": timings}


# --------------------------------------------------------------------------- #
# Per-partition lineage & metrics (north rule: "materialized as partitioned
# graph tables with per-partition lineage and metric rows").
# --------------------------------------------------------------------------- #

def partition_metrics(nodes: DataFrame) -> DataFrame:
    """One row per output partition key (repo, lang): file count, node count,
    per-kind headline counts, parse failures, and an order-insensitive sha256
    roll-up (xor of per-file content hashes) — joined against the input's
    roll-up this proves per-row content equality end-to-end without shipping
    content. The reference's analogue is the per-pass diff-graph row counts
    it logs per overlay (X2Cpg.scala:374-388); here they are queryable rows
    next to the data."""
    per_file = nodes.filter(F.col("node_idx") == 0).select(
        "repo", "lang", F.xxhash64("repo", "path", "commit", "sha256").alias("fh"))
    files = per_file.groupBy("repo", "lang").agg(
        F.count("*").alias("n_files"),
        F.expr("bit_xor(fh)").alias("sha_rollup"))
    counts = (nodes.groupBy("repo", "lang").agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.when(F.col("kind") == M.METHOD, 1).otherwise(0)).alias("n_methods"),
        F.sum(F.when(F.col("kind") == M.CALL, 1).otherwise(0)).alias("n_calls"),
        F.sum(F.when(F.col("parse_error") != "", 1).otherwise(0)).alias("n_parse_errors")))
    return files.join(counts, ["repo", "lang"])


def source_sha_rollup(source: DataFrame) -> DataFrame:
    """The same roll-up computed directly on the input table — equality with
    partition_metrics' sha_rollup is the per-row content invariant."""
    return (source
            .select("repo", "lang",
                    F.xxhash64("repo", "path", "commit",
                               F.sha2("content", 256)).alias("fh"))
            .groupBy("repo", "lang")
            .agg(F.count("*").alias("n_files"),
                 F.expr("bit_xor(fh)").alias("sha_rollup")))


# --------------------------------------------------------------------------- #
# Name-keyed triple view for parity scoring (FIXTURES.md §2: parity is scored
# on name-keyed triples, not raw ids — mirrors the reference succOf oracle).
# --------------------------------------------------------------------------- #

def name_keyed_triples(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    lhs = nodes.select(F.col("id").alias("src"),
                       F.coalesce(F.when(F.col("kind") == M.METHOD, F.col("full_name")),
                                  F.col("code")).alias("subj"),
                       F.col("method_id").alias("src_method"))
    rhs = nodes.select(F.col("id").alias("dst"),
                       F.coalesce(F.when(F.col("kind") == M.METHOD, F.col("full_name")),
                                  F.when(F.col("kind") == M.TYPE, F.col("full_name")),
                                  F.col("code")).alias("obj"))
    return (edges.join(lhs, "src").join(rhs, "dst")
            .select("subj", F.col("label").alias("pred"), "obj", "variable"))
