"""CPG pipeline: one parquet checkpoint for the parse stage, lazy relations
after it.

Stage order mirrors the reference overlay order (X2Cpg.scala:374-388 →
DefaultOverlays.scala:18-25), but not its shape: the reference emits each
base pass as its own diff graph, while here each pass runs where its data
already sits (``operators.base`` says which pass runs where):

1. parse (AST + fused intraprocedural passes), written once;
2. JS type recovery and the link tail, each one grouped pandas task. The
   link tail holds stubs, bindings, call graph, canonicalization and the
   base passes that need a distinct over the whole input or a cross-file
   lookup (META_DATA, NAMESPACE, FieldAccessLinker); one eager checkpoint
   runs it;
3. the sink's relations, each read from those two sources through one
   generator per source. Nodes are the parse rows, ``base.file_local_nodes``
   over the parse stage and ``linking.link_nodes`` over the checkpoint:
   writing them is one Spark job with no shuffle. Edges are
   ``parse.derived_edges``, ``linking.link_edges`` and the two joins left
   in ``base.run_base``: CAPTURE and the JavaScript INHERITS_FROM edges.

Every stage is a pure DataFrame→DataFrame function.

A build materializes twice: the parse output, written here, and the graph
tables, written by ``sources.write_graph_tables`` from the lazy relations
``build_cpg`` returns. The parse stage writes unpartitioned parquet plus a
``_manifest.json`` (input fingerprint, row count, whether any JavaScript
parsed, wall time); a checkpointed re-run (``out_dir``) with the same
fingerprint reads it back instead of re-parsing — the analogue of the
reference's frontend↔console file handoff (CpgGenerator.scala:28-48),
which is exactly a resume boundary. Everything after it is recomputed.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from joern_spark import model as M
from joern_spark.operators import base as B
from joern_spark.operators import linking as L
from joern_spark.operators import typerecovery as TR
from joern_spark.operators.parse import derived_edges, parse_source, with_ids


def _adhoc_scratch_dir() -> str:
    """A fresh directory for an ad-hoc build's parse stage, named after the
    owning process and removed at interpreter exit. A process killed before
    its exit hooks run leaves its directory behind, so each call first
    removes the directories of owners that no longer exist."""
    import atexit
    import re
    import shutil
    import tempfile

    root = tempfile.gettempdir()
    for name in os.listdir(root):
        m = re.fullmatch(r"joern_spark_parse_(\d+)_.+", name)
        if m and not os.path.exists(f"/proc/{m.group(1)}"):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    d = tempfile.mkdtemp(prefix=f"joern_spark_parse_{os.getpid()}_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _write_stage(df: DataFrame, stage_dir: str,
                 fingerprint: str | None) -> tuple[DataFrame, dict]:
    from pyspark.sql import Observation
    path = os.path.join(stage_dir, "nodes")
    t0 = time.time()
    # the manifest's facts ride the write job via observe() — no second job
    # over the freshly written parquet
    obs = Observation("parse_stage")
    ok_js = (F.col("lang") == "javascript") & (F.col("parse_error") == "")
    (df.observe(obs, F.count(F.lit(1)).alias("rows"),
                F.max(ok_js.cast("int")).alias("js"))
     .write.mode("overwrite").parquet(path))
    manifest = {"stage": "nodes", "fingerprint": fingerprint,
                "rows": obs.get["rows"], "has_js": obs.get["js"] == 1,
                "wall_sec": round(time.time() - t0, 3)}
    with open(os.path.join(path, "_manifest.json"), "w") as f:
        json.dump(manifest, f)
    return df.sparkSession.read.parquet(path), manifest


def _resume(spark: SparkSession, stage_dir: str,
            fingerprint: str | None) -> tuple[DataFrame, dict] | None:
    path = os.path.join(stage_dir, "nodes")
    mp = os.path.join(path, "_manifest.json")
    if os.path.exists(mp):
        with open(mp) as f:
            m = json.load(f)
        # a manifest without has_js cannot gate type recovery: re-parse
        if m.get("fingerprint") == fingerprint and "has_js" in m:
            return spark.read.parquet(path), m
    return None


def source_fingerprint(source: DataFrame) -> str:
    """Order-insensitive fingerprint of the input table: xor of row hashes.
    The per-row invariant (sha256 of content) rolls up into the stage
    manifest, giving end-to-end lineage vs the input."""
    h = (source.select(F.xxhash64("repo", "path", "commit", "lang",
                                  F.sha2("content", 256)).alias("h"))
         .agg(F.expr("bit_xor(h)").alias("s"), F.count("*").alias("c"))
         .collect()[0])
    return f"{h['s']}:{h['c']}"


def build_cpg(spark: SparkSession, source: DataFrame,
              out_dir: str | None = None) -> dict[str, DataFrame]:
    """source(repo,path,commit,lang,content) → {nodes, edges, errors,
    parsed, canonical, timings}.

    ``out_dir`` keeps the parse stage for resume; without it the stage goes
    to a scratch directory. ``parsed`` is that stage (ok and failed rows);
    ``nodes``, ``edges`` and ``canonical`` are lazy plans over it and the
    link task's checkpoint: write them once with
    ``sources.write_graph_tables`` and query what ``read_graph_tables``
    returns."""
    # AQE re-renders a plan's explain string on every plan update
    # (AdaptiveSparkPlanExec.onUpdatePlan). The edges relation's full string
    # (all four plans of its queryExecution) measures 39 K characters on a
    # 195-file polyglot build; it grows with the plan, not the rows. A
    # session built elsewhere (tools/run_pipeline.py builds its own) may
    # carry no cap, so set one on whatever session the caller hands us
    # (runtime-settable SQL conf; explain output truncates with a notice).
    spark.conf.set("spark.sql.maxPlanStringLength", "100000")

    # ---- stage 1: parse (+ fused per-method passes) -------------------------
    # The parse output is always written to parquet: the link task's input,
    # the node generator, the edge derivation, the node union and the sink's
    # metrics each scan it, and a cached in-memory copy of the wide rows
    # (ie_* arrays) both risks eviction → silent Python re-parse and defeats
    # column pruning. It is written unpartitioned, so the link task's first-row
    # picks (``pos``) see one row order, kept or scratch. A
    # partitionBy("lang") write would sort the wide parse rows per task
    # (~40% more parse+write time on the bench corpus); lang-filtered
    # consumers skip via parquet row-group stats instead (each row group is
    # single-language in practice) plus the manifest's has_js gate below.
    # only a kept stage can be resumed, so only it pays the fingerprint job
    stage_dir = out_dir or _adhoc_scratch_dir()
    fp = source_fingerprint(source) if out_dir else None
    timings: dict[str, float] = {}
    t_parse = time.time()
    nodes, manifest = (_resume(spark, stage_dir, fp)
                       or _write_stage(with_ids(parse_source(source)),
                                       stage_dir, fp))
    timings["parse_extract_sec"] = round(time.time() - t_parse, 3)
    t_link = time.time()

    errors = nodes.filter(F.col("parse_error") != "")
    ok = nodes.filter(F.col("parse_error") == "")

    # ---- stage 2: the link tail, one grouped pandas task ---------------------
    # JS type recovery (XTypeRecovery; one grouped pandas task, checkpointed
    # once): recovered methodFullNames reach the link task, so require()-bound
    # member calls get stubs + CALL edges (XTypeHintCallLinker analogue).
    # JS-free input skips type recovery and the JS inheritance resolution.
    has_js = manifest["has_js"]
    rewrites = TR.js_mfn_rewrites(ok) if has_js else None
    # One eager checkpoint runs the task; its (dimension-sized) output is a
    # leaf that every consumer below reads: stubs, TYPE, BINDING, META_DATA
    # and NAMESPACE nodes, link edges with canonical CALL targets, and the
    # canonical map.
    link = L.link_tail(ok, B.used_type_fullnames(ok, has_js),
                       rewrites).localCheckpoint(eager=True)

    # ---- stage 3: the sink's relations, one generator per source ------------
    extra_nodes, base_edges = B.run_base(ok, has_js)
    all_nodes = ok.unionByName(extra_nodes).unionByName(L.link_nodes(link))
    edges = (derived_edges(ok).unionByName(base_edges)
             .unionByName(L.link_edges(link)))

    timings["link_materialize_sec"] = round(time.time() - t_link, 3)
    return {"nodes": all_nodes, "edges": edges, "errors": errors,
            "parsed": nodes, "canonical": L.canonical_map(link),
            "timings": timings}


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
