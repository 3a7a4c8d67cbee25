"""BINDS/BINDING vtable tables — reference BindingTableAdapterImpls.scala
(javasrc2cpg/.../util/BindingTable.scala) re-expressed as DataFrame joins.

Each TYPE_DECL gets one BINDING row per (method name, signature) it answers:

* its OWN methods' erased signatures;
* parse-time erasure variants for EXTERNAL generic supertypes (the frontend
  emits those as BINDING rows — a method that implements
  ``Consumer<Integer>.accept`` also binds ``void(java.lang.Object)``,
  BindingTests.scala:16-27);
* every ancestor's bindings, re-targeted at the descendant's override when
  one exists (same name + arity), else inherited as-is
  (BindingTests.scala:52-76: OtherConsumer carries the whole chain
  void(Integer) / void(Number) / void(Object)).

Scale shape: the binding relation is |methods| + |closure⋈methods| rows of
narrow strings; the inheritance closure is the one the dynamic call linker
also consumes (DynamicCallLinker.scala:37-42), so at 10^12-file scale this
pass is two broadcast-ish joins over deduplicated dimensions — no scan of
the big node table beyond the pushed-down kind-filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from joern_spark import model as M


def _arity(sig_col):
    inner = F.regexp_extract(sig_col, r"\((.*)\)", 1)
    return F.when(inner == "", F.lit(0)).otherwise(
        F.size(F.split(inner, ",")))


def binding_relation(nodes: DataFrame, closure: DataFrame) -> DataFrame:
    """-> (td_fn, bname, bsig, target_fn) — the logical vtable; ``closure``
    is ``callgraph.inheritance_closure`` over the same nodes."""
    own = (nodes.filter((F.col("kind") == M.METHOD)
                        & (F.col("ast_parent_type") == M.TYPE_DECL)
                        & (F.col("ast_parent_full_name") != ""))
           .select(F.col("ast_parent_full_name").alias("td_fn"),
                   F.col("name").alias("bname"),
                   F.col("signature").alias("bsig"),
                   F.col("full_name").alias("target_fn"))
           .distinct())
    ext = (nodes.filter(F.col("kind") == M.BINDING)
           .select(F.col("ast_parent_full_name").alias("td_fn"),
                   F.col("name").alias("bname"),
                   F.col("signature").alias("bsig"),
                   F.col("method_full_name").alias("target_fn"))
           .distinct())
    # priority: own declaration beats a parse-time erasure row beats an
    # inherited row (BindingTable.scala resolves in the same order); the
    # final min_by over (prio, target_fn) keeps the whole relation
    # deterministic under shuffle reordering
    base = (own.withColumn("prio", F.lit(0))
            .unionByName(ext.withColumn("prio", F.lit(1))))

    # ancestor bindings flow down; constructors do not inherit
    anc = (closure.select(F.col("desc").alias("td_fn"),
                          F.col("anc").alias("anc_fn"))
           .join(base.filter(F.col("bname") != M.CONSTRUCTOR)
                 .drop("prio").withColumnRenamed("td_fn", "anc_fn"), "anc_fn")
           .select("td_fn", "bname", "bsig", "target_fn"))
    # re-target at the descendant's override when one exists (same name +
    # arity — the staticLookup analogue, BindingTable.scala computed types);
    # min_by(target_fn) breaks same-arity-overload ties deterministically
    overrides = (own.select(
        "td_fn", "bname", _arity("bsig").alias("ar"),
        F.col("target_fn").alias("override_fn"))
        .groupBy("td_fn", "bname", "ar")
        .agg(F.min("override_fn").alias("override_fn")))
    anc = (anc.withColumn("ar", _arity("bsig"))
           .join(overrides, ["td_fn", "bname", "ar"], "left")
           .select("td_fn", "bname", "bsig",
                   F.coalesce("override_fn", "target_fn").alias("target_fn")))
    return (base.unionByName(anc.withColumn("prio", F.lit(2)))
            .groupBy("td_fn", "bname", "bsig")
            .agg(F.min_by("target_fn",
                          F.struct("prio", "target_fn")).alias("target_fn")))


def binding_nodes_and_edges(nodes: DataFrame, rel: DataFrame
                            ) -> tuple[DataFrame, DataFrame]:
    """Materialize the vtable ``rel`` (``binding_relation``) as BINDING nodes
    + BINDS/REF edges.

    Node id hashes (td_fn, name, sig) — globally stable, no shuffle beyond
    the relation's own joins. Edges: TYPE_DECL -BINDS-> BINDING and
    BINDING -REF-> METHOD (by fullname, deduplicated dimension join).
    Parse-time BINDING rows already carry their own node/edges; they are
    excluded here by an anti-join on the id."""
    bid = F.xxhash64(F.lit("BINDING"), F.col("td_fn"), F.col("bname"),
                     F.col("bsig"))

    parse_bind = (nodes.filter(F.col("kind") == M.BINDING)
                  .select(F.col("ast_parent_full_name").alias("td_fn"),
                          F.col("name").alias("bname"),
                          F.col("signature").alias("bsig")))
    fresh = rel.join(parse_bind, ["td_fn", "bname", "bsig"], "left_anti")

    tds = (nodes.filter(F.col("kind") == M.TYPE_DECL)
           .select(F.col("full_name").alias("td_fn"),
                   F.col("id").alias("td_id"))
           .dropDuplicates(["td_fn"]))
    meths = (nodes.filter(F.col("kind") == M.METHOD)
             .select(F.col("full_name").alias("target_fn"),
                     F.col("id").alias("m_id"))
             .dropDuplicates(["target_fn"]))
    j = (fresh.join(tds, "td_fn")
         .join(meths, "target_fn", "left")
         .withColumn("bid", bid))

    from joern_spark.operators.base import _mk_nodes
    new_nodes = _mk_nodes(
        j, id=F.col("bid"), kind=F.lit(M.BINDING),
        name=F.col("bname"), signature=F.col("bsig"),
        code=F.concat_ws(":", F.col("bname"), F.col("bsig")),
        method_full_name=F.col("target_fn"),
        ast_parent_type=F.lit(M.TYPE_DECL),
        ast_parent_full_name=F.col("td_fn"),
    )
    null_s = F.lit(None).cast("string")
    binds = j.select(F.col("td_id").alias("src"), F.col("bid").alias("dst"),
                     F.lit(M.BINDS).alias("label"), null_s.alias("variable"))
    refs = (j.filter(F.col("m_id").isNotNull())
            .select(F.col("bid").alias("src"), F.col("m_id").alias("dst"),
                    F.lit(M.REF).alias("label"), null_s.alias("variable")))
    return new_nodes, binds.unionByName(refs)
