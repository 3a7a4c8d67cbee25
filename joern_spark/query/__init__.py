"""Read-side traversal DSL over the (nodes, edges) relations — the Spark
re-expression of the reference's Scala step DSL (SURVEY.md §2B).

The reference executes traversals as lazy Iterator chains
(semanticcpg/.../language/Steps.scala:18-53); here every step composes a
DataFrame plan (node set ≡ DataFrame of node rows) and Catalyst optimizes
the whole chain — predicate pushdown and join reordering the reference never
had. ``.l()`` / ``.df`` materializes.

Step inventory mapped (reference file:line in each method's docstring):
starters (NodeTypeStarters.scala:14-91), property filters, type-narrowing
filters (AstNodeTraversal.scala:96-211), AST walks (AstNodeTraversal.scala:
14-95), expression context (ExpressionTraversal.scala:14-70), method
structure (MethodTraversal.scala:16-171), call graph (callgraphextension),
CFG/dominators, and dataflow ``reachableBy`` (ExtendedCfgNode.scala:15-60)
over REACHING_DEF triples.

Every depth-bounded closure on the read side — the DSL's ``.repeat``
steps, the scanner bundles' AST/dominator/REACHING_DEF walks, the copy-loop
query and data-flow slices — is one call of :func:`reach_pairs`: a single
grouped pandas task that runs the whole breadth-first walk in NumPy, so a
walk costs the same few jobs whatever its depth.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from joern_spark import model as M


def walk_pairs(adj: pd.DataFrame, seeds: pd.DataFrame,
               max_depth: int) -> pd.DataFrame:
    """(fid, nid) for every node that a walk of 1..``max_depth`` ``adj``
    edges (src -> dst) reaches from one of fid's ``seeds`` (fid, nid).

    A breadth-first search over (fid, node) states on a CSR adjacency, one
    vectorized step per level. A state is expanded the first time it is
    reached, so a seed that a walk reaches again (a cycle, or another seed
    of the same fid) is reported like any other node; callers that want
    only proper reachability anti-join their seeds."""
    src = adj["src"].to_numpy(np.int64)
    dst = adj["dst"].to_numpy(np.int64)
    m = len(src)
    ids, idx = np.unique(
        np.concatenate([src, dst, seeds["nid"].to_numpy(np.int64)]),
        return_inverse=True)
    n = len(ids)
    order = np.argsort(idx[:m], kind="stable")
    nbr = idx[m:2 * m][order]
    row = np.searchsorted(idx[:m][order], np.arange(n + 1))
    fids, fidx = np.unique(seeds["fid"].to_numpy(np.int64), return_inverse=True)
    # a state is the key fid_index * n + node_index
    frontier = np.unique(fidx * n + idx[2 * m:])
    reached = frontier[:0]
    for _ in range(max_depth):
        f, v = np.divmod(frontier, n)
        lo, cnt = row[v], row[v + 1] - row[v]
        total = int(cnt.sum())
        if total == 0:
            break
        offset = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        step = np.unique(np.repeat(f, cnt) * n + nbr[np.repeat(lo, cnt) + offset])
        frontier = np.setdiff1d(step, reached, assume_unique=True)
        if not len(frontier):
            break
        reached = np.union1d(reached, frontier)
    f, v = np.divmod(reached, n)
    return pd.DataFrame({"fid": fids[f], "nid": ids[v]})


def reach_pairs(adj: DataFrame, seeds: DataFrame, max_depth: int) -> DataFrame:
    """(fid, nid) pairs reachable from fid's ``seeds`` (fid, nid) by a walk
    of 1..``max_depth`` ``adj`` (src, dst) edges (:func:`walk_pairs`),
    materialized once.

    Edges and seeds go to one ``groupBy(<constant>).applyInPandas`` task.
    No narrower key is exact: the link task attaches AST and DECLARES edges
    to parents chosen by fullname, which can sit in another file or repo,
    and stubs have no path (``linking.link_tail`` groups the same way). The
    eager checkpoint runs the task and the seeds' plan once however often
    the caller reads the result."""
    def task(pdf: pd.DataFrame) -> pd.DataFrame:
        e = pdf["edge"].to_numpy(bool)
        return walk_pairs(pd.DataFrame({"src": pdf["a"][e], "dst": pdf["b"][e]}),
                          pd.DataFrame({"fid": pdf["a"][~e], "nid": pdf["b"][~e]}),
                          max_depth)

    rows = (adj.select(F.lit(True).alias("edge"), F.col("src").cast("long").alias("a"),
                       F.col("dst").cast("long").alias("b"))
            .unionByName(seeds.select(F.lit(False).alias("edge"),
                                      F.col("fid").cast("long").alias("a"),
                                      F.col("nid").cast("long").alias("b"))))
    return (rows.withColumn("walk_group", F.lit(0)).groupBy("walk_group")
            .applyInPandas(task, "fid long, nid long")
            .localCheckpoint(eager=True))


def edge_adj(edges: DataFrame, label: str, forward: bool) -> DataFrame:
    """(src, dst) adjacency of the ``label`` edges, reversed when not
    ``forward``."""
    a, b = ("src", "dst") if forward else ("dst", "src")
    return edges.filter(F.col("label") == label).select(
        F.col(a).alias("src"), F.col(b).alias("dst"))


def parent_adj(nodes: DataFrame, up: bool) -> DataFrame:
    """(src, dst) AST adjacency over the nodes' parent_id chain, child →
    parent when ``up``."""
    a, b = ("id", "parent_id") if up else ("parent_id", "id")
    return nodes.filter(F.col("parent_id").isNotNull()).select(
        F.col(a).alias("src"), F.col(b).alias("dst"))


class Cpg:
    """Entry point: ``Cpg(nodes, edges)`` then ``cpg.method("main").l()``."""

    def __init__(self, nodes: DataFrame, edges: DataFrame):
        self.nodes = nodes
        self.edges = edges

    # ---- starters (NodeTypeStarters.scala:14-91) -------------------------- #
    def all(self) -> "Steps":
        return Steps(self, self.nodes)

    def _kind(self, kind: str, name: str | None = None) -> "Steps":
        df = self.nodes.filter(F.col("kind") == kind)
        s = Steps(self, df)
        return s.name(name) if name is not None else s

    def method(self, name: str | None = None) -> "Steps":
        return self._kind(M.METHOD, name)

    def call(self, name: str | None = None) -> "Steps":
        return self._kind(M.CALL, name)

    def type_decl(self, name: str | None = None) -> "Steps":
        return self._kind(M.TYPE_DECL, name)

    def literal(self, code: str | None = None) -> "Steps":
        s = self._kind(M.LITERAL)
        return s.code(code) if code is not None else s

    def identifier(self, name: str | None = None) -> "Steps":
        return self._kind(M.IDENTIFIER, name)

    def parameter(self, name: str | None = None) -> "Steps":
        return self._kind(M.METHOD_PARAMETER_IN, name)

    def local(self, name: str | None = None) -> "Steps":
        return self._kind(M.LOCAL, name)

    def member(self, name: str | None = None) -> "Steps":
        return self._kind(M.MEMBER, name)

    def ret(self) -> "Steps":
        return self._kind(M.RETURN)

    def control_structure(self, cs_type: str | None = None) -> "Steps":
        s = self._kind(M.CONTROL_STRUCTURE)
        if cs_type:
            s = Steps(self, s.df.filter(F.col("control_structure_type") == cs_type))
        return s

    def if_block(self) -> "Steps":
        return self.control_structure(M.CS_IF)

    def file(self) -> "Steps":
        return self._kind(M.FILE)

    # operator sugar (operatorextension/NodeTypeStarters.scala:22)
    def assignment(self) -> "Steps":
        return Steps(self, self.nodes.filter(
            (F.col("kind") == M.CALL) & F.col("name").isin(sorted(M.ASSIGNMENT_OPS))))

    def array_access(self) -> "Steps":
        return Steps(self, self.nodes.filter(
            (F.col("kind") == M.CALL)
            & F.col("name").isin(M.OP_INDEX_ACCESS, M.OP_INDIRECT_INDEX_ACCESS,
                                 M.OP_COMPUTED_MEMBER_ACCESS)))

    def field_access(self) -> "Steps":
        return Steps(self, self.nodes.filter(
            (F.col("kind") == M.CALL)
            & F.col("name").isin(M.OP_FIELD_ACCESS, M.OP_INDIRECT_FIELD_ACCESS)))


class Steps:
    """A traversal position: a DataFrame of node rows (full node schema)."""

    def __init__(self, cpg: Cpg, df: DataFrame):
        self.cpg = cpg
        self.df = df

    # ---- generic -------------------------------------------------------- #
    def filter(self, cond) -> "Steps":
        return Steps(self.cpg, self.df.filter(cond))

    def dedup(self) -> "Steps":
        return Steps(self.cpg, self.df.dropDuplicates(["id"]))

    def l(self, cols: list[str] | None = None) -> list:
        out = self.df.select(*(cols or ["id", "kind", "name", "full_name", "code"]))
        return out.collect()

    def count(self) -> int:
        return self.df.count()

    # ---- property filters ------------------------------------------------ #
    def name(self, regex: str) -> "Steps":
        return Steps(self.cpg, self.df.filter(F.col("name").rlike(f"^(?:{regex})$")))

    def name_exact(self, name: str) -> "Steps":
        return Steps(self.cpg, self.df.filter(F.col("name") == name))

    def full_name(self, regex: str) -> "Steps":
        return Steps(self.cpg, self.df.filter(F.col("full_name").rlike(f"^(?:{regex})$")))

    def full_name_exact(self, fn: str) -> "Steps":
        return Steps(self.cpg, self.df.filter(F.col("full_name") == fn))

    def signature_exact(self, sig: str) -> "Steps":
        return Steps(self.cpg, self.df.filter(F.col("signature") == sig))

    def code(self, regex: str) -> "Steps":
        return Steps(self.cpg, self.df.filter(F.col("code").rlike(regex)))

    def code_exact(self, code: str) -> "Steps":
        return Steps(self.cpg, self.df.filter(F.col("code") == code))

    def external(self) -> "Steps":
        return Steps(self.cpg, self.df.filter(F.col("is_external")))

    def internal(self) -> "Steps":
        return Steps(self.cpg, self.df.filter(~F.col("is_external")))

    # ---- type-narrowing (AstNodeTraversal.scala:96-211) ------------------- #
    def is_kind(self, kind: str) -> "Steps":
        return Steps(self.cpg, self.df.filter(F.col("kind") == kind))

    def is_call(self) -> "Steps":
        return self.is_kind(M.CALL)

    def is_identifier(self) -> "Steps":
        return self.is_kind(M.IDENTIFIER)

    def is_literal(self) -> "Steps":
        return self.is_kind(M.LITERAL)

    def is_control_structure(self) -> "Steps":
        return self.is_kind(M.CONTROL_STRUCTURE)

    def is_return(self) -> "Steps":
        return self.is_kind(M.RETURN)

    # ---- edge plumbing --------------------------------------------------- #
    def _ids(self) -> DataFrame:
        return self.df.select("id")

    def _hop(self, label: str, forward: bool) -> "Steps":
        e = self.cpg.edges.filter(F.col("label") == label)
        if forward:
            j = self._ids().join(e, F.col("id") == F.col("src")).select(
                F.col("dst").alias("nid"))
        else:
            j = self._ids().join(e, F.col("id") == F.col("dst")).select(
                F.col("src").alias("nid"))
        out = j.distinct().join(self.cpg.nodes, F.col("nid") == F.col("id")).drop("nid")
        return Steps(self.cpg, out)

    def _closure(self, label: str, forward: bool, max_depth: int = 64) -> "Steps":
        """Nodes 1..max_depth ``label`` edges away from any of these, minus
        these — the Spark form of `.repeat(...)(_.maxDepth(n))`. All start
        nodes share one walk (one fid), so a node is reported once."""
        start = self._ids().select(F.lit(0).alias("fid"), F.col("id").alias("nid"))
        reached = (reach_pairs(edge_adj(self.cpg.edges, label, forward), start, max_depth)
                   .select("nid").join(start, "nid", "left_anti"))
        out = reached.join(self.cpg.nodes, F.col("nid") == F.col("id")).drop("nid")
        return Steps(self.cpg, out)

    # ---- AST walks (AstNodeTraversal.scala:14-95) ------------------------- #
    def ast_children(self) -> "Steps":
        n = self.cpg.nodes
        lhs = self.df.select(F.col("id").alias("lid")).distinct()
        j = lhs.join(n, F.col("lid") == F.col("parent_id")).drop("lid")
        return Steps(self.cpg, j)

    def ast_parent(self) -> "Steps":
        p = self.df.select(F.col("parent_id").alias("pid")).filter(
            F.col("pid").isNotNull()).distinct()
        out = p.join(self.cpg.nodes, F.col("pid") == F.col("id")).drop("pid")
        return Steps(self.cpg, out)

    def ast(self) -> "Steps":
        """Whole subtree (incl. self) — iterative parent-child closure."""
        down = self._closure(M.AST, forward=True)
        return Steps(self.cpg, self.df.unionByName(down.df).dropDuplicates(["id"]))

    def in_ast(self) -> "Steps":
        return self._closure(M.AST, forward=False)

    def ast_siblings(self) -> "Steps":
        p = self.df.select(F.col("parent_id").alias("pid"), F.col("id").alias("self_id"))
        sib = p.join(self.cpg.nodes, F.col("pid") == F.col("parent_id")) \
            .filter(F.col("id") != F.col("self_id")).drop("pid", "self_id")
        return Steps(self.cpg, sib.dropDuplicates(["id"]))

    # ---- expression context (ExpressionTraversal.scala:14-70) -------------- #
    def argument(self, i: int | None = None) -> "Steps":
        """From CALLs: the AST arguments. From METHOD_PARAMETER_INs: the
        arguments passed at every linked call site in the parameter's
        position (ParameterTraversal.argument — DdgCfgQueryTests.scala:
        `cpg.method("sink").parameter.argument`)."""
        out = Steps(self.cpg, self.df.filter(F.col("kind") != M.METHOD_PARAMETER_IN)) \
            ._hop(M.ARGUMENT, forward=True).df
        if i is not None:
            out = out.filter(F.col("arg_index") == i)
        pars = self.df.filter(F.col("kind") == M.METHOD_PARAMETER_IN).select(
            F.col("parent_id").alias("pm_id"), F.col("param_index").alias("pi"))
        e = self.cpg.edges
        sites = pars.join(
            e.filter(F.col("label") == M.CALL_EDGE)
            .select(F.col("src").alias("cs_id"), F.col("dst").alias("pm_id")),
            "pm_id")
        args = (sites.join(
            e.filter(F.col("label") == M.ARGUMENT)
            .select(F.col("src").alias("cs_id"), F.col("dst").alias("arg_id")),
            "cs_id")
            .join(self.cpg.nodes, F.col("arg_id") == F.col("id"))
            .filter(F.col("arg_index") == F.col("pi"))
            .select(*[F.col(c) for c in self.cpg.nodes.columns]))
        return Steps(self.cpg, out.select(*self.cpg.nodes.columns)
                     .unionByName(args).distinct())

    def in_call(self) -> "Steps":
        return self._hop(M.ARGUMENT, forward=False)

    def receiver(self) -> "Steps":
        return self._hop(M.RECEIVER, forward=True)

    def condition(self) -> "Steps":
        return self._hop("CONDITION", forward=True)

    # ---- bindings (bindingextension/TypeDeclTraversal.scala,
    # MethodTraversal.scala; tests semanticcpg/.../bindingextension/
    # BindingTests.scala:27-69) ---------------------------------------------- #
    def method_binding(self) -> "Steps":
        """TYPE_DECL -BINDS-> BINDING (`typeDecl.methodBinding`)."""
        return self._hop(M.BINDS, forward=True)

    def bound_method(self) -> "Steps":
        """`typeDecl.boundMethod` = methodBinding.referencedMethod."""
        return self.method_binding()._hop(M.REF, forward=True)

    def referencing_binding(self) -> "Steps":
        """METHOD <-REF- BINDING (`method.referencingBinding`)."""
        bnd = self._hop(M.REF, forward=False)
        return Steps(self.cpg, bnd.df.filter(F.col("kind") == M.BINDING))

    def binding_type_decl(self) -> "Steps":
        """`method.bindingTypeDecl` / `binding.bindingTypeDecl` — the
        TYPE_DECL that BINDS the (referencing) binding."""
        bindings = self.df.filter(F.col("kind") == M.BINDING)
        methods = self.df.filter(F.col("kind") == M.METHOD)
        via = Steps(self.cpg, bindings)._hop(M.BINDS, forward=False)
        via2 = (Steps(self.cpg, methods).referencing_binding()
                ._hop(M.BINDS, forward=False))
        return Steps(self.cpg, via.df.unionByName(via2.df).distinct())

    # ---- method structure (MethodTraversal.scala:16-171) ------------------- #
    def parameter(self) -> "Steps":
        n = self.cpg.nodes.filter(F.col("kind") == M.METHOD_PARAMETER_IN)
        lhs = self.df.select(F.col("id").alias("lid")).distinct()
        return Steps(self.cpg, lhs.join(n, F.col("lid") == F.col("parent_id")).drop("lid"))

    def local(self) -> "Steps":
        n = self.cpg.nodes.filter(F.col("kind") == M.LOCAL)
        mids = self.df.select(F.col("id").alias("mid"))
        return Steps(self.cpg, mids.join(n, F.col("mid") == F.col("method_id")).drop("mid"))

    def method(self) -> "Steps":
        """Enclosing method of any expression node."""
        mids = self.df.select(F.col("method_id").alias("mid")).filter(
            F.col("mid").isNotNull()).distinct()
        return Steps(self.cpg, mids.join(self.cpg.nodes, F.col("mid") == F.col("id")).drop("mid"))

    def contains(self) -> "Steps":
        return self._hop(M.CONTAINS, forward=True)

    def method_return(self) -> "Steps":
        n = self.cpg.nodes.filter(F.col("kind") == M.METHOD_RETURN)
        lhs = self.df.select(F.col("id").alias("lid")).distinct()
        return Steps(self.cpg, lhs.join(n, F.col("lid") == F.col("parent_id")).drop("lid"))

    def number_of_lines(self) -> "Steps":
        """method.numberOfLines = lineNumberEnd - lineNumber + 1, 0 when
        either end is unknown (MethodMethods.scala:30-36); projected as a
        `number_of_lines` column."""
        return Steps(self.cpg, self.df.withColumn(
            "number_of_lines",
            F.when((F.col("line") > 0) & (F.col("line_end") > 0),
                   F.col("line_end") - F.col("line") + 1).otherwise(0)))

    def is_stub(self) -> "Steps":
        """Methods whose every direct CFG successor is the METHOD_RETURN —
        i.e. no body (MethodMethods.isStub, MethodMethods.scala:61-62)."""
        mr = self.cpg.nodes.filter(F.col("kind") == M.METHOD_RETURN).select(
            F.col("id").alias("mr_id"))
        non_ret = (self.cpg.edges.filter(F.col("label") == M.CFG)
                   .join(mr, F.col("dst") == F.col("mr_id"), "left_anti")
                   .select(F.col("src").alias("nid")).distinct())
        lhs = self.df.filter(F.col("kind") == M.METHOD)
        return Steps(self.cpg, lhs.join(
            non_ret, lhs["id"] == non_ret["nid"], "left_anti"))

    def is_not_stub(self) -> "Steps":
        """Complement of is_stub (MethodTraversal.scala:100-103)."""
        stub_ids = self.is_stub().df.select(F.col("id").alias("sid"))
        return Steps(self.cpg, self.df.join(
            stub_ids, self.df["id"] == stub_ids["sid"], "left_anti"))

    def cfg_first(self) -> "Steps":
        """method.cfgFirst — the METHOD entry's direct CFG successors
        (MethodTraversal.scala:131-138)."""
        return self._hop(M.CFG, forward=True)

    def cfg_last(self) -> "Steps":
        """method.cfgLast = methodReturn.cfgIn
        (MethodTraversal.scala:139-141)."""
        return self.method_return().cfg_prev()

    # ---- CFG / dominators -------------------------------------------------- #
    def cfg_next(self) -> "Steps":
        return self._hop(M.CFG, forward=True)

    def cfg_prev(self) -> "Steps":
        return self._hop(M.CFG, forward=False)

    def dominated_by(self) -> "Steps":
        return self._closure(M.DOMINATE, forward=False)

    def dominates(self) -> "Steps":
        return self._closure(M.DOMINATE, forward=True)

    def post_dominates(self) -> "Steps":
        return self._closure(M.POST_DOMINATE, forward=True)

    def cdg_out(self) -> "Steps":
        return self._hop(M.CDG, forward=True)

    # ---- call graph (callgraphextension/MethodTraversal.scala:13-66) ------- #
    def callee(self) -> "Steps":
        """From CALL sites to target METHODs (CALL edges)."""
        return self._hop(M.CALL_EDGE, forward=True)

    def call_in(self) -> "Steps":
        """From METHODs to the CALL sites that invoke them."""
        return self._hop(M.CALL_EDGE, forward=False)

    def is_static(self) -> "Steps":
        """Statically dispatched calls (CallTraversal.scala:12-13)."""
        return self.filter(F.col("dispatch_type") == M.STATIC_DISPATCH)

    def is_dynamic(self) -> "Steps":
        """Dynamically dispatched calls (CallTraversal.scala:16-17)."""
        return self.filter(F.col("dispatch_type") == M.DYNAMIC_DISPATCH)

    def to_method_return(self) -> "Steps":
        """call.toMethodReturn — the called methods' METHOD_RETURN nodes
        (CallTraversal.scala:55-58)."""
        return self.callee().method_return()

    def caller(self) -> "Steps":
        """From METHODs to the methods that call them."""
        return self.call_in().method()

    def call_out(self) -> "Steps":
        """From METHODs to the methods they call (via contained call sites)."""
        n = self.cpg.nodes.filter(F.col("kind") == M.CALL)
        mids = self.df.select(F.col("id").alias("mid"))
        calls = mids.join(n, F.col("mid") == F.col("method_id")).drop("mid")
        return Steps(self.cpg, calls).callee()

    # ---- data flow (ExtendedCfgNode.scala:15-60) --------------------------- #
    def ddg_in(self) -> "Steps":
        return self._hop(M.REACHING_DEF, forward=False)

    def ddg_out(self) -> "Steps":
        return self._hop(M.REACHING_DEF, forward=True)

    def reachable_by_flows(self, sources: "Steps", max_steps: int = 32,
                           max_call_depth: int = 2) -> DataFrame:
        """Path-carrying dataflow from ``sources`` to these sinks, WITH
        interprocedural expansion — the reference engine's task model
        (Engine.scala:96-140) solved as a distributed backwards frontier:

        * intraprocedural steps walk REACHING_DEF edges backwards;
        * reaching a METHOD_PARAMETER_IN expands to the matching ARGUMENT
          at every resolved call site (TaskCreator.scala:44-79, param↔arg);
        * reaching a CALL with resolved callees expands into the callee's
          RETURN statements (returns↔call-sites).

        Paths are id arrays carried on the frontier; cycles are pruned via
        array_contains, call depth capped at ``max_call_depth`` (the
        reference's maxCallDepth), total length at ``max_steps``. Returns
        flows(flow_id, step, id, kind, code, method_full_name) exploded in
        path order (sink is step 0 in solve order; rows are emitted
        source→sink like reachableByFlows output).
        """
        n, e = self.cpg.nodes, self.cpg.edges
        rd_back = e.filter(F.col("label") == M.REACHING_DEF).select(
            F.col("dst").alias("cur"), F.col("src").alias("nxt"))
        call_edges = e.filter(F.col("label") == M.CALL_EDGE).select(
            F.col("src").alias("site"), F.col("dst").alias("callee"))
        # param -> matching argument at each resolved call site
        params = n.filter(F.col("kind") == M.METHOD_PARAMETER_IN).select(
            F.col("id").alias("cur"), F.col("parent_id").alias("callee"),
            F.col("param_index").cast("string").alias("pi"))
        args = e.filter(F.col("label") == M.ARGUMENT).select(
            F.col("src").alias("site"), F.col("dst").alias("nxt"),
            F.col("variable").alias("pi"))
        param_expand = (params.join(call_edges, "callee")
                        .join(args, ["site", "pi"])
                        .select("cur", "nxt"))
        # call site -> RETURN statements of each resolved callee
        rets = n.filter(F.col("kind") == M.RETURN).select(
            F.col("id").alias("nxt"), F.col("method_id").alias("callee"))
        ret_expand = (call_edges.join(rets, "callee")
                      .select(F.col("site").alias("cur"), "nxt"))

        src_ids = sources.df.select(F.col("id").alias("cur")).distinct()
        frontier = self.df.select(
            F.col("id").alias("cur"), F.array(F.col("id")).alias("path"),
            F.lit(0).alias("cdepth")).localCheckpoint(eager=True)
        results = None
        for _ in range(max_steps):
            hit = frontier.join(src_ids, "cur", "left_semi").select("path")
            results = hit if results is None else results.unionByName(hit)
            intra = (frontier.join(rd_back, "cur")
                     .select("nxt", "path", "cdepth"))
            inter = (frontier.filter(F.col("cdepth") < max_call_depth)
                     .join(param_expand.unionByName(ret_expand), "cur")
                     .select("nxt", "path", (F.col("cdepth") + 1).alias("cdepth")))
            step = (intra.unionByName(inter)
                    .filter(~F.array_contains("path", F.col("nxt")))
                    .select(F.col("nxt").alias("cur"),
                            F.concat(F.array("nxt"), F.col("path")).alias("path"),
                            "cdepth")
                    .dropDuplicates(["cur", "path"])
                    .localCheckpoint(eager=True))
            if step.isEmpty():
                break
            frontier = step
        if results is None:
            results = self.df.sparkSession.createDataFrame([], "path array<bigint>")
        flows = (results.dropDuplicates(["path"])
                 .withColumn("flow_id", F.xxhash64(F.concat_ws(",", F.transform(
                     "path", lambda x: x.cast("string")))))
                 .select("flow_id", F.posexplode("path").alias("step", "nid")))
        meta = n.select(F.col("id").alias("nid"), "kind", "code",
                        F.col("method_id"))
        mfn = n.filter(F.col("kind") == M.METHOD).select(
            F.col("id").alias("method_id"), F.col("full_name").alias("method_full_name"))
        return (flows.join(meta, "nid").join(mfn, "method_id", "left")
                .select("flow_id", "step", F.col("nid").alias("id"),
                        "kind", "code", "method_full_name"))

    def reachable_by(self, sources: "Steps", max_depth: int = 64) -> "Steps":
        """Which of ``sources`` reach any of these sinks over REACHING_DEF
        edges — the reference solves this backwards from each sink with a
        work-stealing task pool (Engine.scala:96-140); here the whole sink
        set is one walk backwards (``_closure``)."""
        back = self._closure(M.REACHING_DEF, forward=False, max_depth=max_depth)
        reached = self.df.unionByName(back.df).select("id").distinct()
        out = sources.df.join(reached, "id", "left_semi")
        return Steps(self.cpg, out)
