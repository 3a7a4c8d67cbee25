"""Distributed parity-fact extraction + scoring.

Same fact semantics as the pure-Python extractor in ``joern_spark.parity``
(that one renders the DuckDB oracle), but computed through the REAL
distributed plan: the corpus becomes a source table, parsing runs through
``parse_source``'s Arrow-batched ``mapInPandas``, intra-method edges come
from the fused per-method kernels, and scoring is a broadcast join against
the (tiny, transcribed) expectation table. The want side is constants —
scoring here measures parity with the reference, while the driver's
Spark-vs-DuckDB comparison checks this plan against the sequential scorer.

Scale shape: facts are per-(case/file) local — everything before the final
aggregate partitions by file with no shuffle except the closure joins
(depth-bounded semi-naive doubling, log2(max chain) rounds) and the final
tiny groupBy. At a 10^12-file corpus the same plan scores parity on a
sampled fixture partition; nothing here is corpus-global.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from joern_spark import model as M
from joern_spark import parity as P


def corpus_source(spark: SparkSession) -> DataFrame:
    rows = [("parity", path, "f" * 40,
             "cpp" if c["lang"] == "cpp" else c["lang"], content)
            for c in P.corpus()
            for path, content in P.case_sources(c)]
    return spark.createDataFrame(rows, M.SOURCE_SCHEMA)


def want_table(spark: SparkSession) -> DataFrame:
    rows = []
    for c in P.corpus():
        for rel, s, o in P.want_facts(c):
            rows.append((c["lang"], c["name"], rel, s, o))
    return spark.createDataFrame(
        rows, "lang string, kase string, relation string, subj string, obj string")


def _display_code():
    code = F.coalesce(F.col("code"), F.lit(""))
    return (F.when(F.col("kind") == M.METHOD, F.col("name"))
            .when(code == "", F.lit("<empty>"))
            .otherwise(code))


def _closure(edges: DataFrame, rounds: int = 6) -> DataFrame:
    """Transitive closure by doubling: depth 2^rounds covers every chain in
    the fixture corpus. Node ids hash the file path, so id-equality joins
    are per-case by construction. Each round is localCheckpointed: without
    lineage truncation the doubled plan tree grows exponentially and the
    DRIVER (plan bookkeeping, not data) OOMs a default heap once several
    closures union into one scoring query.

    Convergence is asserted: if the final doubling still added pairs, a
    longer-chained fixture has outgrown the cap — fail loudly instead of
    silently truncating parity (VERDICT r3 wrong-list #3)."""
    c = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    prev_n = c.count()
    for i in range(rounds):
        step = (c.alias("a")
                .join(c.alias("b"), F.col("a.dst") == F.col("b.src"))
                .select(F.col("a.src").alias("src"),
                        F.col("b.dst").alias("dst")))
        c = c.unionByName(step).distinct().localCheckpoint(eager=True)
        n = c.count()
        if n == prev_n:  # fixpoint reached early — done
            return c
        prev_n = n
    # one extra probe: the cap must have been a fixpoint already
    extra = (c.alias("a").join(c.alias("b"), F.col("a.dst") == F.col("b.src"))
             .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst")))
    if c.unionByName(extra).distinct().count() != prev_n:
        raise RuntimeError(
            f"_closure: not converged after {rounds} doubling rounds "
            f"(depth {2 ** rounds}); a fixture chain exceeds the cap")
    return c


def spark_facts(spark: SparkSession) -> DataFrame:
    """-> (lang, kase, relation, subj, obj) over the whole corpus."""
    from joern_spark.operators.parse import intra_edges, parse_source, with_ids

    src = corpus_source(spark).repartition(8, "path")
    nodes = with_ids(parse_source(src)).filter(F.col("parse_error") == "")
    nodes = nodes.localCheckpoint(eager=True)  # tiny; parsed once

    # multi-file fixtures name their paths `<case>/<relname>`; the case
    # key strips the per-file suffix (mirror of P.case_sources)
    case_of = F.regexp_replace(
        F.regexp_replace(F.col("path"), r"/.*$", ""),
        r"\.(c|cpp|java|js)$", "")
    base = nodes.withColumn("kase", case_of).withColumn("dc", _display_code())

    cfgn = base.filter(~F.col("kind").isin(*P.NON_CFG_KINDS))
    w_plain = Window.partitionBy("kase", "dc").orderBy("path", "node_idx")
    w_kind = Window.partitionBy("kase", "dc", "kind").orderBy("path",
                                                              "node_idx")
    keyed = (cfgn.withColumn("i_plain", F.row_number().over(w_plain) - 1)
             .withColumn("i_kind", F.row_number().over(w_kind) - 1))
    # every CFG node addressed in both spellings (plain + kind-qualified),
    # exactly like the sequential extractor
    subj_keys = keyed.select(
        "lang", "kase", "id", "dc",
        F.explode(F.array(
            F.concat_ws("", F.col("dc"), F.lit("@"), F.col("i_plain")),
            F.concat_ws("", F.col("dc"), F.lit("@"), F.col("i_kind"),
                        F.lit("#"), F.col("kind")))).alias("subj"))
    dst_code = keyed.select(F.col("id").alias("dst_id"),
                            F.col("dc").alias("obj"),
                            F.col("kase").alias("dst_kase"))

    ie = intra_edges(nodes)
    out = []

    def edge_facts(label: str, rel: str, edges: DataFrame) -> DataFrame:
        return (edges.filter(F.col("label") == label)
                .join(subj_keys, subj_keys.id == F.col("src"))
                .join(dst_code, dst_code.dst_id == F.col("dst"))
                .select("lang", "kase", F.lit(rel).alias("relation"),
                        "subj", "obj"))

    out.append(edge_facts(M.CFG, "cfg", ie))

    # transitive relations over the per-method dominator/CDG trees
    cdg_closed = _closure(ie.filter(F.col("label") == M.CDG))
    call_ids = base.filter(F.col("kind") == M.CALL).select(
        F.col("id").alias("ctl_id"))
    out.append(  # controlledBy, controllers restricted to CALL nodes
        cdg_closed.join(call_ids, cdg_closed.src == F.col("ctl_id"))
        .join(subj_keys, subj_keys.id == cdg_closed.dst)
        .join(dst_code, dst_code.dst_id == cdg_closed.src)
        .select("lang", "kase", F.lit("cdg").alias("relation"), "subj", "obj"))

    dom_closed = _closure(ie.filter(F.col("label") == M.DOMINATE))
    out.append(  # dominatedBy restricted to CALL dominators
        dom_closed.join(call_ids, dom_closed.src == F.col("ctl_id"))
        .join(subj_keys, subj_keys.id == dom_closed.dst)
        .join(dst_code, dst_code.dst_id == dom_closed.src)
        .select("lang", "kase", F.lit("domby").alias("relation"), "subj", "obj"))
    out.append(  # strict dominates (all node kinds)
        dom_closed
        .join(subj_keys, subj_keys.id == dom_closed.src)
        .join(dst_code, dst_code.dst_id == dom_closed.dst)
        .select("lang", "kase", F.lit("dom").alias("relation"), "subj", "obj"))

    # |postDominates(n)| over the ipdom-tree closure, zero-filled for every
    # addressed node (CfgQueryTests.scala:38-44 asserts both 12 and 0)
    pdom_closed = _closure(ie.filter(F.col("label") == M.POST_DOMINATE))
    pdom_counts = pdom_closed.groupBy("src").agg(
        F.countDistinct("dst").alias("n"))
    out.append(
        subj_keys.join(pdom_counts, subj_keys.id == pdom_counts.src, "left")
        .select("lang", "kase", F.lit("postdom_count").alias("relation"),
                "subj", F.coalesce(F.col("n"), F.lit(0))
                .cast("string").alias("obj")))

    # |controls(n) ∩ call.name(X)| per (controller, callee name)
    # (CfgQueryTests.scala:27-29)
    named_calls = base.filter(
        (F.col("kind") == M.CALL)
        & ~F.col("name").startswith("<operator>")).select(
        F.col("id").alias("cc_id"), F.col("name").alias("cc_name"))
    out.append(
        cdg_closed.join(named_calls, cdg_closed.dst == F.col("cc_id"))
        .groupBy("src", "cc_name").agg(F.countDistinct("dst").alias("n"))
        .join(subj_keys, subj_keys.id == F.col("src"))
        .select("lang", "kase", F.lit("controls_count").alias("relation"),
                F.concat_ws("", F.col("subj"), F.lit("->"), F.col("cc_name"))
                .alias("subj"), F.col("n").cast("string").alias("obj")))

    # named call sites per enclosing method
    methods = base.filter(F.col("kind") == M.METHOD).select(
        F.col("id").alias("mid"), F.col("name").alias("mname"))
    out.append(
        base.filter((F.col("kind") == M.CALL)
                    & ~F.col("name").startswith("<operator>"))
        .join(methods, F.col("method_id") == F.col("mid"))
        .select("lang", "kase", F.lit("calls").alias("relation"),
                F.col("mname").alias("subj"), F.col("name").alias("obj")))

    # inheritsFrom (TypeHierarchyPass explode shape); JS parents resolve
    # per case via the XInheritanceFullNamePass twin (project = the case)
    from joern_spark.operators.typerecovery import js_inherits_parents
    ih_raw = (base.filter((F.col("kind") == M.TYPE_DECL)
                          & F.col("inherits_from").isNotNull()
                          & (F.col("lang") != "javascript"))
              .select("lang", "kase", F.lit("inherits").alias("relation"),
                      F.col("name").alias("subj"),
                      F.explode("inherits_from").alias("obj")))
    td_names = base.filter(F.col("kind") == M.TYPE_DECL).select(
        F.col("id").alias("td_id"), F.col("name").alias("subj"),
        F.col("lang").alias("td_lang"), F.col("kase").alias("td_kase"))
    ih_js = (js_inherits_parents(base, project_col="kase")
             .join(td_names, F.col("id") == F.col("td_id"))
             .select(F.col("td_lang").alias("lang"),
                     F.col("td_kase").alias("kase"),
                     F.lit("inherits").alias("relation"), "subj",
                     F.col("parent_fn").alias("obj")))
    out.append(ih_raw.unionByName(ih_js))

    # astChildren of keyed (CFG-universe) parents
    children = base.select(F.col("parent_id").alias("pid"),
                           F.col("dc").alias("obj"))
    out.append(
        children.join(subj_keys, subj_keys.id == F.col("pid"))
        .select("lang", "kase", F.lit("ast").alias("relation"), "subj", "obj"))

    # method (name, fullname) pairs
    out.append(
        base.filter(F.col("kind") == M.METHOD)
        .select("lang", "kase", F.lit("methods").alias("relation"),
                F.col("name").alias("subj"), F.col("full_name").alias("obj")))

    # control-structure body edges keyed by parent (mirror of "roledge")
    role_lut = F.create_map(
        *[F.lit(x) for kv in M.ROLE_EDGE_LABELS.items() for x in kv])
    out.append(
        base.filter((F.col("role").isNotNull()) & (F.col("role") != ""))
        .select(F.col("parent_id").alias("rpid"),
                F.concat(F.coalesce(role_lut[F.col("role")], F.col("role")),
                         F.lit(":"), F.col("dc")).alias("obj"))
        .join(subj_keys, subj_keys.id == F.col("rpid"))
        .select("lang", "kase", F.lit("roledge").alias("relation"),
                "subj", "obj"))

    # identifier REF targets, positioned by the target's parent's plain key
    # (mirror of the sequential "refs" relation)
    plain_keys = keyed.select(
        F.col("id").alias("pk_id"),
        F.concat_ws("", F.col("dc"), F.lit("@"),
                    F.col("i_plain")).alias("pkey"))
    tgt = base.select(F.col("id").alias("tgt_id"),
                      F.col("parent_id").alias("tgt_parent"),
                      F.col("dc").alias("tgt_dc"))
    out.append(
        base.filter(F.col("ref_id").isNotNull())
        .select(F.col("id").alias("ref_src"), "ref_id")
        .join(subj_keys, subj_keys.id == F.col("ref_src"))
        .join(tgt, F.col("ref_id") == F.col("tgt_id"))
        .join(plain_keys, F.col("tgt_parent") == F.col("pk_id"), "left")
        .select("lang", "kase", F.lit("refs").alias("relation"), "subj",
                F.concat(F.col("tgt_dc"), F.lit("&"),
                         F.coalesce(F.col("pkey"), F.lit("")))
                .alias("obj")))

    # exact METHOD count per fullname (forward-decl dedup assertions)
    out.append(
        base.filter(F.col("kind") == M.METHOD)
        .groupBy("lang", "kase", F.col("full_name").alias("subj"))
        .agg(F.count("*").cast("string").alias("obj"))
        .select("lang", "kase", F.lit("mcount").alias("relation"),
                "subj", "obj"))

    # XTypeRecovery facts: recovered call mfns by call code + identifier
    # type-hint sets (sorted) by `id:<var>` — the distributed twin of the
    # sequential _js_recover mirror
    from joern_spark.operators.typerecovery import recover_types
    rw, st = recover_types(nodes)
    out.append(
        rw.join(base.select("lang", "kase", "id", "code"), "id")
        .select("lang", "kase", F.lit("typerec").alias("relation"),
                F.col("code").alias("subj"), F.col("rec_mfn").alias("obj")))
    kase_of_path = base.select("lang", "kase", "path").distinct()
    out.append(
        st.filter(~F.col("var").startswith("_tmp_"))
        .join(kase_of_path, "path")
        .groupBy("lang", "kase", "var")
        .agg(F.concat_ws(",", F.sort_array(F.collect_set("type"))).alias("obj"))
        .select("lang", "kase", F.lit("typerec").alias("relation"),
                F.when(F.col("var").startswith("ret:"), F.col("var"))
                .otherwise(F.concat(F.lit("id:"), F.col("var"))).alias("subj"),
                "obj"))

    # (closure method name, captured declaration name) — same rule as
    # base.capture_edges, name-keyed for the parity scorer
    cap_uses = base.filter((F.col("kind") == M.IDENTIFIER)
                           & F.col("ref_id").isNotNull()).select(
        F.col("method_id").alias("use_mid"), "ref_id", "lang", "kase")
    cap_decls = base.filter(F.col("kind").isin(
        M.LOCAL, M.METHOD_PARAMETER_IN)).select(
        F.col("id").alias("ref_id"), F.col("method_id").alias("decl_mid"),
        F.col("name").alias("decl_name"))
    out.append(
        cap_uses.join(cap_decls, "ref_id")
        .filter(F.col("use_mid") != F.col("decl_mid"))
        .join(methods, F.col("use_mid") == F.col("mid"))
        .select("lang", "kase", F.lit("captures").alias("relation"),
                F.col("mname").alias("subj"), F.col("decl_name").alias("obj")))

    # genericSignature keyed by `KIND:name` (GenericSignatureTests)
    out.append(
        base.filter(F.coalesce(F.col("generic_signature"), F.lit("")) != "")
        .select("lang", "kase", F.lit("gensig").alias("relation"),
                F.concat_ws(":", F.col("kind"), F.col("name")).alias("subj"),
                F.col("generic_signature").alias("obj")))

    # call-site methodFullName inventory keyed by call name
    out.append(
        base.filter((F.col("kind") == M.CALL)
                    & (F.col("method_full_name") != ""))
        .select("lang", "kase", F.lit("callmfn").alias("relation"),
                F.col("name").alias("subj"),
                F.col("method_full_name").alias("obj")))

    # cpg.imports inventory: subject = IMPORT code, object =
    # importedAs|importedEntity
    out.append(
        base.filter(F.col("kind") == M.IMPORT)
        .select("lang", "kase", F.lit("imports").alias("relation"),
                F.col("code").alias("subj"),
                F.concat_ws("|", F.coalesce("canonical_name", F.lit("")),
                            F.col("full_name")).alias("obj")))

    # node typeFullName keyed like cfg subjects (both key spellings)
    both_keys = F.explode(F.array(
        F.concat_ws("", F.col("dc"), F.lit("@"), F.col("i_plain")),
        F.concat_ws("", F.col("dc"), F.lit("@"), F.col("i_kind"),
                    F.lit("#"), F.col("kind")))).alias("subj")
    out.append(
        keyed.select("lang", "kase", both_keys,
                     F.coalesce("type_full_name", F.lit("")).alias("obj"))
        .withColumn("relation", F.lit("nodetype"))
        .select("lang", "kase", "relation", "subj", "obj"))

    # METHOD_REF methodFullName keyed the same way
    out.append(
        keyed.filter(F.col("kind") == M.METHOD_REF)
        .select("lang", "kase", both_keys,
                F.coalesce("method_full_name", F.lit("")).alias("obj"))
        .withColumn("relation", F.lit("nodemfn"))
        .select("lang", "kase", "relation", "subj", "obj"))

    # annotation facts: owner-keyed node properties + the parameter tree
    owner_dim = base.filter(F.col("kind").isin(
        M.METHOD, M.TYPE_DECL, M.MEMBER, M.METHOD_PARAMETER_IN)).select(
        F.col("id").alias("own_id"), F.col("name").alias("own_name"))
    out.append(
        base.filter(F.col("kind") == M.ANNOTATION)
        .join(owner_dim, F.col("parent_id") == F.col("own_id"))
        .select("lang", "kase", F.lit("annot").alias("relation"),
                F.col("own_name").alias("subj"),
                F.concat_ws("|", "name", "full_name", "code").alias("obj")))
    ann_parent = base.filter(F.col("kind").isin(
        M.ANNOTATION, M.ANNOTATION_PARAMETER_ASSIGN)).select(
        F.col("id").alias("ap_id"), F.col("code").alias("ap_code"))
    out.append(
        base.join(ann_parent, F.col("parent_id") == F.col("ap_id"))
        .select("lang", "kase", F.lit("annotkids").alias("relation"),
                F.col("ap_code").alias("subj"), F.col("code").alias("obj")))

    # control-structure inventory per enclosing method: subject
    # "<method>:<CS_TYPE>", objects the node codes / condition codes
    cs = (base.filter(F.col("kind") == M.CONTROL_STRUCTURE)
          .join(methods, F.col("method_id") == F.col("mid"))
          .withColumn("subj", F.concat_ws(
              ":", F.col("mname"), F.col("control_structure_type"))))
    out.append(cs.select("lang", "kase", F.lit("cs").alias("relation"),
                         "subj", F.col("code").alias("obj")))
    conds = base.filter(F.col("role") == M.ROLE_CONDITION).select(
        F.col("parent_id").alias("cs_id"), F.col("code").alias("obj"))
    out.append(
        cs.select("lang", "kase", "subj", F.col("id").alias("cs_id"))
        .join(conds, "cs_id")
        .select("lang", "kase", F.lit("cscond").alias("relation"),
                "subj", "obj"))

    # parameter / local / member property facts
    out.append(
        base.filter(F.col("kind") == M.METHOD_PARAMETER_IN)
        .join(methods, F.col("method_id") == F.col("mid"))
        .select("lang", "kase", F.lit("params").alias("relation"),
                F.concat_ws(".", F.col("mname"), F.col("name")).alias("subj"),
                F.concat_ws(":", F.col("param_index"),
                            F.col("type_full_name"),
                            F.col("evaluation_strategy")).alias("obj")))
    out.append(
        base.filter(F.col("kind") == M.METHOD_PARAMETER_IN)
        .join(methods, F.col("method_id") == F.col("mid"))
        .select("lang", "kase", F.lit("paramcode").alias("relation"),
                F.concat_ws(".", F.col("mname"), F.col("name")).alias("subj"),
                F.col("code").alias("obj")))
    out.append(
        base.filter(F.col("kind") == M.METHOD)
        .select("lang", "kase", F.lit("msig").alias("relation"),
                F.col("name").alias("subj"),
                F.coalesce(F.col("signature"), F.lit("")).alias("obj")))
    out.append(
        base.filter(F.col("kind") == M.LOCAL)
        .join(methods, F.col("method_id") == F.col("mid"))
        .select("lang", "kase", F.lit("locals").alias("relation"),
                F.concat_ws(".", F.col("mname"), F.col("name")).alias("subj"),
                F.concat_ws("|", F.col("code"),
                            F.col("type_full_name")).alias("obj")))
    td_dim = base.filter(F.col("kind") == M.TYPE_DECL).select(
        F.col("id").alias("td_id"), F.col("name").alias("td_name"))
    member_base = (base.filter(F.col("kind") == M.MEMBER)
                   .join(td_dim, F.col("parent_id") == F.col("td_id")))
    out.append(
        member_base
        .select("lang", "kase", F.lit("members").alias("relation"),
                F.concat_ws(".", F.col("td_name"), F.col("name")).alias("subj"),
                F.col("type_full_name").alias("obj")))
    out.append(
        base.filter(F.col("kind") == M.NAMESPACE_BLOCK)
        .select("lang", "kase", F.lit("nsblock").alias("relation"),
                F.col("name").alias("subj"),
                F.col("full_name").alias("obj")))
    out.append(
        base.filter((F.col("kind") == M.TYPE_DECL)
                    & (F.col("alias_type_full_name") != ""))
        .select("lang", "kase", F.lit("tdalias").alias("relation"),
                F.col("name").alias("subj"),
                F.col("alias_type_full_name").alias("obj")))
    # member CODE keeps the raw declarator spelling (StructTypeTests)
    out.append(
        member_base
        .select("lang", "kase", F.lit("membercode").alias("relation"),
                F.concat_ws(".", F.col("td_name"), F.col("name")).alias("subj"),
                F.col("code").alias("obj")))

    out.append(_binding_facts(base))

    out.append(_flow_facts(nodes))

    facts = out[0]
    for df in out[1:]:
        facts = facts.unionByName(df)
    return facts.distinct()


_FACT_OUT = ("lang string, kase string, relation string, "
             "subj string, obj string")


def _arity(sig_col):
    """``callgraph.signature_arity`` as a column expression."""
    inner = F.regexp_extract(sig_col, r"\((.*)\)", 1)
    return F.when(inner == "", F.lit(0)).otherwise(F.size(F.split(inner, ",")))


def _binding_facts(base: DataFrame) -> DataFrame:
    """Case-scoped vtable facts — the same joins as
    ``operators.bindings.binding_relation`` with ``kase`` in every key (the
    fixture corpus reuses class fullnames like `Foo` across cases, so the
    real pass's global fullname keys would cross-contaminate here)."""
    own_m = (base.filter((F.col("kind") == M.METHOD)
                         & (F.col("ast_parent_type") == M.TYPE_DECL)
                         & (F.col("ast_parent_full_name") != ""))
             .select("lang", "kase",
                     F.col("ast_parent_full_name").alias("td_fn"),
                     F.col("name").alias("bname"),
                     F.col("signature").alias("bsig"),
                     F.col("full_name").alias("target_fn")))
    ext_b = (base.filter(F.col("kind") == M.BINDING)
             .select("lang", "kase",
                     F.col("ast_parent_full_name").alias("td_fn"),
                     F.col("name").alias("bname"),
                     F.col("signature").alias("bsig"),
                     F.col("method_full_name").alias("target_fn")))
    # own < parse-time erasure row — same priority binding_relation applies
    bbase = (own_m.withColumn("prio", F.lit(0))
             .unionByName(ext_b.withColumn("prio", F.lit(1))).distinct())

    inh = (base.filter((F.col("kind") == M.TYPE_DECL)
                       & F.col("inherits_from").isNotNull())
           .select("lang", "kase", F.col("full_name").alias("desc"),
                   F.explode("inherits_from").alias("anc")))
    key = lambda k, fn: F.xxhash64(F.col(k), fn)  # noqa: E731
    edges = inh.select(key("kase", F.col("desc")).alias("src"),
                       key("kase", F.col("anc")).alias("dst"))
    closed = _closure(edges)
    km = (inh.select("lang", "kase", F.col("desc").alias("fn"))
          .unionByName(inh.select("lang", "kase", F.col("anc").alias("fn")))
          .unionByName(base.filter(F.col("kind") == M.TYPE_DECL)
                       .select("lang", "kase", F.col("full_name").alias("fn")))
          .distinct()
          .withColumn("k", F.xxhash64(F.col("kase"), F.col("fn"))))
    pairs = (closed
             .join(km.select(F.col("k").alias("src"), "lang", "kase",
                             F.col("fn").alias("td_fn")), "src")
             .join(km.select(F.col("k").alias("dst"),
                             F.col("kase").alias("kase2"),
                             F.col("fn").alias("anc_fn")), "dst")
             .filter(F.col("kase") == F.col("kase2"))
             .select("lang", "kase", "td_fn", "anc_fn"))
    anc_b = (pairs.join(
        bbase.filter(F.col("bname") != "<init>")
        .select(F.col("kase").alias("kase3"),
                F.col("td_fn").alias("anc_fn"),
                "bname", "bsig", "target_fn"),
        ["anc_fn"])
        .filter(F.col("kase") == F.col("kase3"))
        .select("lang", "kase", "td_fn", "bname", "bsig", "target_fn"))
    ovr = (own_m.withColumn("ar", _arity(F.col("bsig")))
           .groupBy("kase", "td_fn", "bname", "ar")
           .agg(F.min("target_fn").alias("override_fn")))
    anc_b = (anc_b.withColumn("ar", _arity(F.col("bsig")))
             .join(ovr, ["kase", "td_fn", "bname", "ar"], "left")
             .select("lang", "kase", "td_fn", "bname", "bsig",
                     F.coalesce("override_fn", "target_fn").alias("target_fn")))
    rel = (bbase.select("lang", "kase", "td_fn", "bname", "bsig",
                        "target_fn", "prio")
           .unionByName(anc_b.withColumn("prio", F.lit(2)))
           .groupBy("lang", "kase", "td_fn", "bname", "bsig")
           .agg(F.min_by("target_fn",
                         F.struct("prio", "target_fn")).alias("target_fn")))
    td_names = (base.filter(F.col("kind") == M.TYPE_DECL)
                .select("kase", F.col("full_name").alias("td_fn"),
                        F.col("name").alias("td_name"))
                .dropDuplicates(["kase", "td_fn"]))
    return (rel.join(td_names, ["kase", "td_fn"])
            .select("lang", "kase", F.lit("bindings").alias("relation"),
                    F.concat_ws(":", F.col("td_name"), F.col("bname"))
                    .alias("subj"),
                    F.concat_ws("->", F.col("bsig"), F.col("target_fn"))
                    .alias("obj")))


def _flow_facts(nodes: DataFrame) -> DataFrame:
    """reachableByFlows parity facts, distributed: one Arrow batch per
    fixture file (groupBy path → applyInPandas), each running the same
    per-file flow-search kernel the sequential oracle uses. Flow search is
    file-local by construction (the corpus fixtures are single files), so
    this shape scales as one task per file with no cross-file state."""
    import pandas as pd

    from joern_spark.parity.flows import case_flow_facts

    flow_specs = {c["name"]: (c["lang"], c["flows"], c.get("semantics"))
                  for c in P.corpus() if c.get("flows")}
    paths = [P.case_path(c) for c in P.corpus() if c.get("flows")]

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        kase = key[0].rsplit("/", 1)[-1].rsplit(".", 1)[0]
        lang, specs, semantics = flow_specs[kase]
        rows = pdf.to_dict("records")
        facts = case_flow_facts(rows, specs, semantics)
        return pd.DataFrame(
            [(lang, kase, "flows", s, o) for s, o in facts],
            columns=["lang", "kase", "relation", "subj", "obj"])

    scalar_cols = [f.name for f in M.RAW_NODE_SCHEMA.fields
                   if not f.name.startswith("ie_")]
    return (nodes.filter(F.col("path").isin(paths))
            .select(*scalar_cols)
            .groupBy("path").applyInPandas(run, _FACT_OUT))


def parity_scores(spark: SparkSession) -> DataFrame:
    """-> (lang, relation, tp, fp, fn, precision, recall), one row per
    (lang, relation) — the driver-facing cpg_parity result."""
    want = want_table(spark)
    got = spark_facts(spark)

    w_scope = want.select("lang", "kase", "relation", "subj").distinct()
    want_rows = want.filter(F.col("obj") != "")
    keys = ["lang", "kase", "relation", "subj", "obj"]
    # produced facts count only for subjects the reference asserts about
    got_scoped = got.join(F.broadcast(w_scope),
                          ["lang", "kase", "relation", "subj"], "leftsemi")
    j = (got_scoped.withColumn("got", F.lit(1))
         .join(want_rows.withColumn("want", F.lit(1)), keys, "full_outer"))
    partial = F.col("relation").isin(*P.PARTIAL_RELATIONS)
    scored = j.select(
        "lang", "relation",
        F.when(F.col("got").isNotNull() & F.col("want").isNotNull(), 1)
         .otherwise(0).alias("tp"),
        F.when(F.col("got").isNotNull() & F.col("want").isNull() & ~partial, 1)
         .otherwise(0).alias("fp"),
        F.when(F.col("got").isNull() & F.col("want").isNotNull(), 1)
         .otherwise(0).alias("fn"))
    agg = scored.groupBy("lang", "relation").agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"))
    # keep (lang, relation) groups whose assertions are all empty-set (zero
    # tp/fp/fn) visible — e.g. java/dom "dominates nothing"
    grid = want.select("lang", "relation").distinct()
    agg = (grid.join(agg, ["lang", "relation"], "left")
           .fillna(0, ["tp", "fp", "fn"]))
    # precision/recall in basis points (int) — float-free so the driver's
    # DuckDB-vs-Spark value hash is representation-stable
    return agg.select(
        "lang", "relation",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.round(F.when(F.col("tp") + F.col("fp") > 0,
                       10000 * F.col("tp") / (F.col("tp") + F.col("fp")))
                .otherwise(F.lit(10000))).cast("long").alias("precision_bp"),
        F.round(F.when(F.col("tp") + F.col("fn") > 0,
                       10000 * F.col("tp") / (F.col("tp") + F.col("fn")))
                .otherwise(F.lit(10000))).cast("long").alias("recall_bp"))
