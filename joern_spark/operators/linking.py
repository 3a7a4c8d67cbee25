"""Entity linking & canonicalization of cross-file symbols.

The reference resolves cross-file method symbols by exact-fullname hash-map
lookups inside one JVM (StaticCallLinker.scala:23-28, DynamicCallLinker's
methodMap at DynamicCallLinker.scala:40-51) and leaves unresolvable call
sites pointing at external stubs named with sentinel conventions
(`<unresolvedNamespace>.foo:<unresolvedSignature>(2)`, Defines.scala:11-22).
Distributed, we go one step further (this is the north rule's entity-linking
stage): unresolved stub symbols are *candidate-aliased* to compatible
internal definitions of the same bare name, the alias pairs are collapsed
into components, and the per-component canonical id (the lexicographically
first internal definition) is applied back to the CALL edges.

Locality: every candidate pair joins a stub and an internal definition of the
same bare name, so no alias component crosses a name. The whole fixed point
therefore runs as one ``groupBy(m_name).applyInPandas`` task per name — a
union-find inside the task, no driver loop of per-round Spark jobs (resolve
per block, as SparkER does, not by global iteration).

Skew: method names are Zipfian (`get`, `main`, `init`…). Names above
``HOT_NAME_FREQ`` internal definitions are *excluded from linking* before the
group is formed: at corpus scale a name defined in >100 distinct places
carries no linkage signal (any pairing would be a guess), and excluding them
bounds every group at ``HOT_NAME_FREQ`` internals. Applying the canonical map
to the edge relation is an N:1 join against a small mapping whose physical
strategy AQE decides.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from joern_spark import model as M

HOT_NAME_FREQ = 100


def _stub_arity(col):
    """Arity encoded in `<unresolvedSignature>(n)` fullnames, else null
    (regexp_extract yields '' on no match; ANSI mode forbids ''→int casts)."""
    ex = F.regexp_extract(col, r"<unresolvedSignature>\((\d+)\)", 1)
    return F.when(ex != "", ex.cast("int"))


def _canonical_in_name(pdf: pd.DataFrame) -> pd.DataFrame:
    """One bare name's alias components. A stub pairs with every internal
    whose arity matches its recorded arity (any internal when the stub
    records none, or when the internal has no signature); union-find over
    the internals a stub bridges, with the root kept at the smallest
    (m_fn, m_id) so it is the component's canonical symbol.

    Rows for stubs only. A shared stub can bridge two same-name internal
    definitions into one component; a row for an internal member would let
    canonicalize_call_edges move a correctly static-linked CALL edge onto
    another definition, and the reference never re-points a resolved
    internal target (StaticCallLinker.scala:23-28)."""
    ints = pdf[~pdf["is_stub"]].sort_values(["m_fn", "m_id"])
    stubs = pdf[pdf["is_stub"]]
    sig_arity = ints["sig_arity"].to_numpy()
    no_sig = ints["no_sig"].to_numpy()
    parent = list(range(len(ints)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    linked = []  # (stub id, first internal it pairs with)
    for stub_id, arity in zip(stubs["m_id"], stubs["stub_arity"]):
        hits = np.flatnonzero(np.isnan(arity) | no_sig | (sig_arity == arity))
        if not hits.size:
            continue
        root = find(hits[0])
        for h in hits[1:]:
            lo, hi = sorted((find(h), root))
            parent[hi] = root = lo
        linked.append((stub_id, hits[0]))
    roots = [find(h) for _, h in linked]
    out = pd.DataFrame({"m_id": np.array([s for s, _ in linked], dtype=np.int64),
                        "canon_id": ints["m_id"].to_numpy()[roots],
                        "canon_fn": ints["m_fn"].to_numpy()[roots]})
    return out[out["m_id"] != out["canon_id"]]


def canonical_symbol_map(dim: DataFrame) -> DataFrame:
    """(m_id → canon_id, canon_fn) over the method dimension ``dim``
    (m_fn, m_id, m_name, is_external, m_parent, m_sig): per alias component,
    the canonical symbol is the lexicographically-first internal definition.
    Symbols outside any component map to themselves (identity rows are
    omitted — consumers left-join and coalesce).

    Candidates (all exact-name):
      * stubs: external, not `<operator>`, with a fullname carrying
        `<unresolvedNamespace>` / `<unresolvedSignature>` or equal to the
        bare name (C-style);
      * internals: every non-external definition.
    Only names with at least one stub and 1..``HOT_NAME_FREQ`` internals
    reach the per-name task."""
    name = F.col("m_name")
    is_stub = (F.col("is_external") & ~name.startswith("<operator>")
               & (name != "")
               & (F.col("m_fn").contains(M.UNRESOLVED_NAMESPACE)
                  | F.col("m_fn").contains(M.UNRESOLVED_SIGNATURE)
                  | (F.col("m_fn") == name)))
    is_internal = ~F.col("is_external") & (name != "")
    sig_inner = F.regexp_extract("m_sig", r"\((.*)\)", 1)
    sig_arity = F.when(sig_inner == "", F.lit(0)).otherwise(
        F.size(F.split(sig_inner, ",")))
    per_name = Window.partitionBy("m_name")
    # null flags / arities (null names or signatures) become values that
    # never pair, as the null comparisons did in a SQL join filter
    cand = (dim.select("m_fn", "m_id", "m_name",
                       F.coalesce(is_stub, F.lit(False)).alias("is_stub"),
                       F.coalesce(is_internal, F.lit(False)).alias("is_internal"),
                       _stub_arity(F.col("m_fn")).alias("stub_arity"),
                       F.coalesce(sig_arity, F.lit(-1)).alias("sig_arity"),
                       F.coalesce(F.col("m_sig") == "", F.lit(False)).alias("no_sig"))
            .filter(F.col("is_stub") | F.col("is_internal"))
            .withColumn("n_int", F.count(F.when(F.col("is_internal"), 1)).over(per_name))
            .withColumn("has_stub", F.max("is_stub").over(per_name))
            .filter(F.col("has_stub") & F.col("n_int").between(1, HOT_NAME_FREQ)))
    return (cand.select("m_name", "m_fn", "m_id", "is_stub", "stub_arity",
                        "sig_arity", "no_sig")
            .groupBy("m_name").applyInPandas(_canonical_in_name,
                                           "m_id long, canon_id long, canon_fn string"))


def canonicalize_call_edges(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite CALL-edge targets through the canonical map (N:1 join; mapping
    row count is bounded by the stub dimension — still ∝ |methods|, so the
    physical strategy is AQE-decided, not force-broadcast
    (static_call_edges precedent in operators/callgraph.py)."""
    m = mapping.select(F.col("m_id").alias("dst"), "canon_id")
    calls = edges.filter(F.col("label") == M.CALL_EDGE)
    rest = edges.filter(F.col("label") != M.CALL_EDGE)
    rewritten = (calls.join(m, "dst", "left")
                 .select("src",
                         F.coalesce("canon_id", "dst").alias("dst"),
                         "label", "variable"))
    return rest.unionByName(rewritten)
