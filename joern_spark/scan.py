"""Scan query bundles → FINDING rows — the joern-scan analogue.

The reference packages `Query` objects (name/author/score + a traversal
closure) and wraps each result node as a FINDING (console/src/main/scala/
io/joern/console/scan/package.scala:17-39; example bundle
querydb/src/main/scala/io/joern/scanners/c/CopyLoops.scala:23-39). Here a
bundle is a named DataFrame pipeline over the graph relations; results
materialize both as a relational findings table and as FINDING node rows
that can be unioned into the node relation.

Scale shape: every bundle is a filter + joins over the node and edge
relations — no collects; the copy-loop query's AST-ancestor walk is one
grouped pandas task (``query.reach_pairs``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from joern_spark import model as M
from joern_spark.query import parent_adj, reach_pairs

INSECURE_FNS = ["gets", "strcpy", "strcat", "sprintf", "system", "scanf"]
COPY_FNS = ["memcpy", "strcpy", "strncpy", "memmove"]
LOOP_KINDS = [M.CS_FOR, M.CS_WHILE, M.CS_DO]


@dataclass(frozen=True)
class Query:
    """name/author/score + traversal, per the reference Query bundle."""
    name: str
    author: str
    title: str
    score: float
    traversal: Callable[[DataFrame, DataFrame], DataFrame]  # (nodes, edges) -> id col "id"


def _calls_named(nodes: DataFrame, names: list[str]) -> DataFrame:
    return nodes.filter((F.col("kind") == M.CALL)
                        & F.col("name").isin(names)).select("id")


def insecure_calls(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Calls to classically unsafe libc sinks."""
    return _calls_named(nodes, INSECURE_FNS)


def copy_in_loop(nodes: DataFrame, edges: DataFrame,
                 max_depth: int = 12) -> DataFrame:
    """Copy-routine calls inside a loop body (CopyLoops.scala:23-39): a
    FOR/WHILE/DO among a matching call's first ``max_depth`` AST ancestors
    marks the finding. The ancestor walk is one ``reach_pairs`` task."""
    calls = _calls_named(nodes, COPY_FNS).select(
        F.col("id").alias("fid"), F.col("id").alias("nid"))
    loops = nodes.filter((F.col("kind") == M.CONTROL_STRUCTURE)
                         & F.col("control_structure_type").isin(LOOP_KINDS)) \
                 .select(F.col("id").alias("nid"))
    return (reach_pairs(parent_adj(nodes, up=True), calls, max_depth).join(loops, "nid")
            .select(F.col("fid").alias("id")).distinct())


DEFAULT_QUERIES: list[Query] = [
    Query("call-to-insecure-function", "joern_spark",
          "Call to an unsafe libc function", 4.0, insecure_calls),
    Query("copy-loop", "joern_spark",
          "Copy loop: copy routine invoked inside a loop body", 2.0,
          copy_in_loop),
]


def run_queries(nodes: DataFrame, edges: DataFrame,
                queries: list[Query] | None = None) -> DataFrame:
    """-> findings(query_name, score, lang, path, method_full_name, line,
    code), one row per evidence node (scan/package.scala:17-39)."""
    queries = queries if queries is not None else DEFAULT_QUERIES
    methods = nodes.filter(F.col("kind") == M.METHOD).select(
        F.col("id").alias("method_id"), F.col("full_name").alias("enclosing_fn"))
    out = None
    for q in queries:
        ids = q.traversal(nodes, edges)
        ev = (nodes.join(ids, "id")
              .select("id", "method_id", "lang", "path", "line", "code")
              .join(methods, "method_id", "left")
              .select(F.lit(q.name).alias("query_name"),
                      F.lit(q.score).alias("score"),
                      "lang", "path",
                      F.coalesce("enclosing_fn", F.lit("")).alias("method_full_name"),
                      F.col("line"), F.col("code")))
        out = ev if out is None else out.unionByName(ev)
    return out


def finding_nodes(nodes: DataFrame, edges: DataFrame,
                  queries: list[Query] | None = None) -> DataFrame:
    """FINDING node rows (kind=FINDING, name=query name, code=evidence code)
    union-able into the node relation — the reference's finding wrapper."""
    f = run_queries(nodes, edges, queries)
    base = nodes.sparkSession.createDataFrame([], nodes.schema)
    rows = f.select(
        F.xxhash64("query_name", "path", "line", "code").alias("id"),
        F.lit(M.FINDING).alias("kind"), F.col("query_name").alias("name"),
        F.col("method_full_name").alias("full_name"), "code", "lang", "path",
        F.col("line"))
    dtypes = dict(base.dtypes)
    sel = rows
    for c in (c for c in base.columns if c not in rows.columns):
        sel = sel.withColumn(c, F.lit(None).cast(dtypes[c]))
    return sel.select(*[F.col(c).cast(dtypes[c]).alias(c) for c in base.columns])
