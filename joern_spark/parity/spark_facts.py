"""Distributed parity scores: the production build of the fixture corpus,
scored per case by the same fact code as the sequential scorer.

The corpus becomes a source table with one repo per case and is built the
way production builds (``sources.built_graph``: ``build_cpg`` →
``write_graph_tables`` → ``read_graph_tables``). The nodes table's parse
rows are grouped by repo, and one ``applyInPandas`` task per case rebuilds
the case's rows (``parity.case_rows``), extracts its facts
(``parity.case_facts``) and scores them (``parity.score_case``). The two
resolver-backed relations read production code. ``typerec`` runs
``typerecovery.recovery_task`` on the case's JavaScript rows. JavaScript
``inherits`` reads the graph's INHERITS_FROM edges, which the build resolves
with ``typerecovery.js_inherits_parents``: their targets' fullnames are
joined onto the TYPE_DECL rows as an array column before grouping. A groupBy
sum gives one row per (lang, relation). The driver's Spark-vs-DuckDB
comparison thus checks the distributed build against in-process parsing.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from joern_spark import model as M
from joern_spark import parity as P
from joern_spark.operators import typerecovery as TR

_ARRAY_COLS = ("inherits_from", "ie_src", "ie_dst", "ie_label", "ie_var",
               "parent_fns")
_SCORE_OUT = "lang string, relation string, tp long, fp long, fn long"
_CASES = {c["name"]: c for c in P.corpus()}


def corpus_source(spark: SparkSession) -> DataFrame:
    """The corpus as a source table; each case is its own repo."""
    rows = [(c["name"], path, "f" * 40, c["lang"], content)
            for c in P.corpus()
            for path, content in P.case_sources(c)]
    return spark.createDataFrame(rows, M.SOURCE_SCHEMA)


def _recover_js(rows: list[dict]):
    """(node_idx -> recovered methodFullName, var -> type hints) for one
    case's rows, by the production recovery kernel."""
    pdf = pd.DataFrame([r for r in rows if r["lang"] == "javascript"],
                       columns=[*TR.IN_COLS, "node_idx"])
    out = TR.recovery_task(pdf[list(TR.IN_COLS)].fillna(
        {c: "" for c in TR.TEXT_COLS}))
    idx_of = dict(zip(pdf["id"], pdf["node_idx"]))
    rw = out[out["row"] == TR.REWRITE_ROW]
    sym = out[out["row"] == TR.SYMBOL_ROW]
    st: dict[str, set[str]] = defaultdict(set)
    for var, ty in zip(sym["var"], sym["type"]):
        st[var].add(ty)
    return {idx_of[i]: ty for i, ty in zip(rw["id"], rw["type"])}, st


def _graph_parents(rows: list[dict]) -> dict[int, list[str]]:
    """``id(row)`` -> the fullnames its INHERITS_FROM edges point at."""
    return {id(r): r["parent_fns"] for r in rows if r["parent_fns"]}


def _score_task(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    """One case's parse rows -> its (lang, relation, tp, fp, fn) rows."""
    case = _CASES[key[0]]
    by_path: dict[str, list[dict]] = defaultdict(list)
    for r in pdf.to_dict("records"):
        for c in _ARRAY_COLS:
            if r[c] is not None:
                r[c] = r[c].tolist()
        by_path[r["path"]].append(r)
    rows = P.case_rows([by_path[path] for path, _ in P.case_sources(case)])
    facts = P.case_facts(case, rows, _recover_js, _graph_parents)
    return pd.DataFrame([(lang, rel, tp, fp, fn) for lang, _name, rel, tp, fp, fn
                         in P.score_case(case, facts)],
                        columns=["lang", "relation", "tp", "fp", "fn"])


def parity_scores(spark: SparkSession) -> DataFrame:
    """-> (lang, relation, tp, fp, fn, precision_bp, recall_bp), one row per
    (lang, relation) — the driver-facing cpg_parity result."""
    from joern_spark.sources import built_graph

    graph = built_graph(spark, corpus_source(spark))
    nodes = graph["nodes"]
    parsed = nodes.filter(F.col("node_idx") >= 0)
    types = nodes.filter(F.col("kind") == M.TYPE).select(
        F.col("id").alias("dst"), F.col("full_name").alias("parent_fn"))
    parents = (graph["edges"].filter(F.col("label") == M.INHERITS_FROM)
               .join(types, "dst").groupBy(F.col("src").alias("id"))
               .agg(F.collect_set("parent_fn").alias("parent_fns")))
    raw_cols = [f.name for f in M.RAW_NODE_SCHEMA.fields]
    # no nulls in the id columns: Arrow hands a nullable integer column to
    # pandas as float64, which cannot hold a 64-bit hash
    scores = (parsed.join(F.broadcast(parents), "id", "left")
              .select(*raw_cols, "parent_fns",
                      *[F.coalesce(c, F.lit(0).cast("long")).alias(c)
                        for c in TR.ID_COLS])
              .groupBy("repo").applyInPandas(_score_task, _SCORE_OUT))
    agg = scores.groupBy("lang", "relation").agg(
        *[F.sum(c).alias(c) for c in ("tp", "fp", "fn")])
    # precision/recall in basis points (int) — float-free so the driver's
    # DuckDB-vs-Spark value hash is representation-stable
    return agg.select(
        "lang", "relation", "tp", "fp", "fn",
        F.round(F.when(F.col("tp") + F.col("fp") > 0,
                       10000 * F.col("tp") / (F.col("tp") + F.col("fp")))
                .otherwise(F.lit(10000))).cast("long").alias("precision_bp"),
        F.round(F.when(F.col("tp") + F.col("fn") > 0,
                       10000 * F.col("tp") / (F.col("tp") + F.col("fn")))
                .otherwise(F.lit(10000))).cast("long").alias("recall_bp"))
