"""querydb C scanner bundles — the reference's joern-scan C queries as
DataFrame pipelines.

The reference ships ~14 C query bundles (querydb/src/main/scala/io/joern/
scanners/c/*.scala), each a set of `Query` objects with positive/negative
`codeExamples` verified by CQueryTestSuite (querydb/src/test/scala/io/joern/
suites/CQueryTestSuite.scala:13-44): all examples are concatenated into one
translation unit, the CPG is built, and each query's evidence must land in
exactly the expected set of enclosing functions.

Here each bundle is a list of :class:`ScanQuery` whose ``traversal`` maps
(nodes, edges) → a DataFrame of evidence node ids.  Every traversal is built
from the same three scale-safe primitives:

* equi-joins on the node/edge relations (AQE decides the physical join —
  nothing data-proportional is force-broadcast);
* depth-bounded AST-ancestor / dominator-tree / REACHING_DEF walks, each
  one :func:`joern_spark.query.reach_pairs` call — a single grouped pandas
  task, checkpointed once, whatever the depth;
* per-method groupBys (map-side partial aggregation).

No collects; the only Python in a traversal is the walk task.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from joern_spark import model as M
from joern_spark.query import edge_adj, parent_adj, reach_pairs

OP = "<operator>."
ARITHMETIC_OPS = [
    # operatorextension/package.scala:36-43 (allArithmeticTypes, sans the
    # assignment-arithmetic hybrids which C never emits standalone here)
    OP + "addition", OP + "subtraction", OP + "division",
    OP + "multiplication", OP + "exponentiation", OP + "modulo",
]
ARRAY_ACCESS_OPS = [M.OP_INDEX_ACCESS, M.OP_INDIRECT_INDEX_ACCESS,
                    M.OP_COMPUTED_MEMBER_ACCESS]
LOOP_KINDS = [M.CS_FOR, M.CS_WHILE, M.CS_DO]
ASSIGN_OPS = sorted(M.ASSIGNMENT_OPS)


@dataclass(frozen=True)
class ScanQuery:
    """Query.make analogue (console Query: name/author/title/score/tags +
    traversal + codeExamples)."""
    name: str
    author: str
    title: str
    score: float
    traversal: Callable[[DataFrame, DataFrame], DataFrame]  # -> col "id"
    tags: tuple = ()
    positive: tuple = ()   # codeExamples.positive (verbatim transcriptions)
    negative: tuple = ()   # codeExamples.negative


# --------------------------------------------------------------------------- #
# shared plumbing
# --------------------------------------------------------------------------- #

def _seed(df: DataFrame) -> DataFrame:
    """node rows → (fid, nid) walk seeds (fid tracks provenance)."""
    return df.select(F.col("id").alias("fid"), F.col("id").alias("nid"))


def _ancestor_pairs(nodes: DataFrame, seeds: DataFrame,
                    max_depth: int = 32) -> DataFrame:
    """(fid, nid=proper AST ancestor) pairs via the parent_id chain —
    `inAstMinusLeaf` provenance-kept (AstNodeTraversal.scala:44-50). A seed
    that is an ancestor of another seed of the same fid is kept."""
    return reach_pairs(parent_adj(nodes, up=True), seeds, max_depth)


def _descendant_pairs(nodes: DataFrame, seeds: DataFrame,
                      include_self: bool = True,
                      max_depth: int = 32) -> DataFrame:
    """(fid, nid=AST descendant) pairs — `.ast` provenance-kept."""
    down = reach_pairs(parent_adj(nodes, up=False), seeds, max_depth)
    return down.unionByName(seeds.select("fid", "nid")).distinct() \
        if include_self else down


def _edge_closure_pairs(edges: DataFrame, label: str, seeds: DataFrame,
                        forward: bool, max_depth: int = 64) -> DataFrame:
    """(fid, nid) transitive closure over `label` edges, provenance-kept,
    without fid's own seeds. forward=False from a node walks to its
    DOMINATE/POST_DOMINATE tree ancestors (its dominators /
    post-dominators)."""
    return (reach_pairs(edge_adj(edges, label, forward), seeds, max_depth)
            .join(seeds, ["fid", "nid"], "left_anti"))


def _calls_to_method(nodes: DataFrame, edges: DataFrame,
                     regex: str) -> DataFrame:
    """cpg.method(regex).callIn — call-site node rows whose CALL edge lands
    on a method whose NAME full-matches `regex` (regex may carry (?i))."""
    m = nodes.filter((F.col("kind") == M.METHOD)
                     & F.col("name").rlike(f"^(?:{regex})$")).select(
        F.col("id").alias("callee_id"))
    ce = edges.filter(F.col("label") == M.CALL_EDGE).select(
        F.col("src").alias("call_id"), F.col("dst").alias("callee_id"))
    sites = ce.join(m, "callee_id").select("call_id").distinct()
    return nodes.join(sites, nodes["id"] == sites["call_id"]).drop("call_id")


def _args_of(nodes: DataFrame, edges: DataFrame, calls: DataFrame,
             i: int | None = None) -> DataFrame:
    """(fid=call id) → argument node rows (ARGUMENT edges), with `fid`."""
    ae = edges.filter(F.col("label") == M.ARGUMENT).select(
        F.col("src").alias("fid"), F.col("dst").alias("aid"))
    lhs = calls.select(F.col("id").alias("fid")).join(ae, "fid")
    out = lhs.join(nodes, F.col("aid") == nodes["id"]).drop("aid")
    if i is not None:
        out = out.filter(F.col("arg_index") == i)
    return out


def _methods_named(nodes: DataFrame, regex: str) -> DataFrame:
    return nodes.filter((F.col("kind") == M.METHOD)
                        & F.col("name").rlike(f"^(?:{regex})$"))


def _param_count(nodes: DataFrame) -> DataFrame:
    """(mid, n_params) per method — params attach via parent_id."""
    return (nodes.filter(F.col("kind") == M.METHOD_PARAMETER_IN)
            .groupBy(F.col("parent_id").alias("mid"))
            .agg(F.count("*").alias("n_params")))


# --------------------------------------------------------------------------- #
# DangerousFunctions.scala — 7 name-match queries
# --------------------------------------------------------------------------- #

def _calls_query(regex: str):
    def traversal(nodes: DataFrame, edges: DataFrame) -> DataFrame:
        return _calls_to_method(nodes, edges, regex).select("id")
    return traversal


def _printf_format_query(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """DangerousFunctions.scala:57-80 — printf with non-literal arg 1,
    sprintf/vsprintf with non-literal arg 2."""
    def _non_literal_at(regex: str, idx: int) -> DataFrame:
        calls = _calls_to_method(nodes, edges, regex)
        lit = (_args_of(nodes, edges, calls, idx)
               .filter(F.col("kind") == M.LITERAL)
               .select(F.col("fid").alias("id")).distinct())
        return calls.select("id").join(lit, "id", "left_anti")
    return (_non_literal_at("(?i)printf", 1)
            .unionByName(_non_literal_at("(?i)(sprintf|vsprintf)", 2)))


DANGEROUS_FUNCTIONS = [
    ScanQuery("call-to-gets", "suchakra", "Dangerous function gets() used",
              8, _calls_query("(?i)gets"), ("badfn", "default"),
              positive=("""
int insecure_gets() {
  char str[DST_BUFFER_SIZE];
  gets(str);
  printf("%s", str);
  return 0;
}
""",),
              negative=("""
int secure_gets() {
  FILE *fp;
  fp = fopen("file.txt" , "r");
  char str[DST_BUFFER_SIZE];
  fgets(str, DST_BUFFER_SIZE, fp);
  printf("%s", str);
  return 0;
}
""",)),
    ScanQuery("format-controlled-printf", "suchakra",
              "Non-constant format string passed to printf/sprintf/vsprintf",
              4, _printf_format_query, ("badfn", "default"),
              positive=("""
int insecure_printf() {
  printf(argv[1], 4242);

}
""", """
int insecure_sprintf() {
  char buffer [BUFF_SIZE];
  sprintf(buffer, argv[2], 4242);
}
"""),
              negative=("""
int secure_printf() {
  printf("Num: %d", 4242);
}
""", """
int secure_sprintf() {
  char buffer [BUFF_SIZE];
  snprintf(buffer, BUFF_SIZE, argv[2], 4242);
}
""")),
    ScanQuery("call-to-scanf", "suchakra", "Insecure function scanf() used",
              4, _calls_query("(?i)scanf"), ("badfn",),
              positive=("""
int insecure_scanf() {
  char name[12];
  scanf("%s", name);
  printf("Hello %s!\\n", name);
  return 0
}
""",),
              negative=("""
void secure_fgets(char *buf, int size, FILE *stream) {
    fgets(buf, size, stream);
}
""",)),
    ScanQuery("call-to-strcat", "suchakra",
              "Dangerous functions `strcat` or `strncat` used",
              4, _calls_query("(?i)(strcat|strncat)"), ("badfn",),
              positive=("""
void insecure_strcat(char *dest, char *src) {
    strcat(dest, src);
}
""", """
int insecure_strncat() {
  char buf[BUF_SIZE];
  strncat(buf, another_buffer, BUF_SIZE - strlen(buf)); // remediation is (BUFF_SIZE - strlen(buf) - 1)
  return 0
}
"""),
              negative=("""
void secure_strcat_s(char *dest, rsize_t destsz, char *src) {
    strcat_s(dest, destsz, src);
}
""",)),
    ScanQuery("call-to-strcpy", "suchakra",
              "Dangerous functions `strcpy` or `strncpy` used",
              4, _calls_query("(?i)(strcpy|strncpy)"), ("badfn",),
              positive=("""
void insecure_strcpy(char *dest, char *src) {
    strcpy(dest, src);
}
""", """
int insecure_strncpy() {
  char buf[BUF_SIZE];
  strncpy(buf, default_value, BUF_SIZE); // remediation is (BUFF_SIZE - 1)
  return 0
}
"""),
              negative=("""
void secure_strlcpy(char *dest, char *src, size_t size) {
    strlcpy(dest, src, size);
}
""",)),
    ScanQuery("call-to-strtok", "suchakra", "Dangerous function strtok() used",
              4, _calls_query("(?i)strtok"), ("badfn", "default"),
              positive=("""
int insecure_strtok() {
  char *token;
  char *path = getenv("PATH");
  token = strtok(path, ":");
  puts(token);
  printf("PATH: %s\\n", path); // original path string now has '/usr/bin\\0' now and is insecure to use
  return 0;
}
""",),
              negative=("""
void secure_strtok_r(char *src, char *delim, char **saveptr) {
    strtok_r(src, delim, saveptr);
}
""",)),
    ScanQuery("call-to-getwd", "claudiu", "Dangerous function getwd() used",
              4, _calls_query("(?i)getwd"), ("badfn", "default"),
              positive=("""
int insecure_getwd() {
  char dir[12];
  getwd(dir);
  printf("Working directory:%s\\n",dir);
  return 0;
}
""",),
              negative=("""
void secure_getcwd(char *buf, size_t len) {
    getcwd(buf, len);
}
""",)),
]


# --------------------------------------------------------------------------- #
# Metrics.scala — 6 per-method structural metrics
# --------------------------------------------------------------------------- #

def _internal_methods(nodes: DataFrame) -> DataFrame:
    """cpg.method.internal.nameNot("<global>")."""
    return nodes.filter((F.col("kind") == M.METHOD)
                        & ~F.col("is_external")
                        & (F.col("name") != M.GLOBAL))


def _metric_query(agg_fn):
    def traversal(nodes: DataFrame, edges: DataFrame) -> DataFrame:
        return agg_fn(nodes, edges)
    return traversal


def _too_many_params(nodes, edges, n=4):
    counted = _param_count(nodes)
    return (_internal_methods(nodes)
            .join(counted, F.col("id") == F.col("mid"))
            .filter(F.col("n_params") > n).select("id"))


def _too_high_complexity(nodes, edges, n=4):
    cs = (nodes.filter(F.col("kind") == M.CONTROL_STRUCTURE)
          .groupBy(F.col("method_id").alias("agg_mid"))
          .agg(F.count("*").alias("n_cs"))
          .filter(F.col("n_cs") > n))
    return (_internal_methods(nodes)
            .join(cs, F.col("id") == F.col("agg_mid")).select("id"))


def _too_long(nodes, edges, n=1000):
    # numberOfLines = lineNumberEnd - lineNumber + 1 (MethodMethods.scala:30-36)
    return (_internal_methods(nodes)
            .filter((F.col("line") > 0) & (F.col("line_end") > 0)
                    & (F.col("line_end") - F.col("line") + 1 > n))
            .select("id"))


def _multiple_returns(nodes, edges):
    rets = (nodes.filter(F.col("kind") == M.RETURN)
            .groupBy(F.col("method_id").alias("agg_mid"))
            .agg(F.count("*").alias("n_ret"))
            .filter(F.col("n_ret") > 1))
    return (_internal_methods(nodes)
            .join(rets, F.col("id") == F.col("agg_mid")).select("id"))


def _too_many_loops(nodes, edges, n=4):
    loops = (nodes.filter((F.col("kind") == M.CONTROL_STRUCTURE)
                          & F.col("control_structure_type").isin(LOOP_KINDS))
             .groupBy(F.col("method_id").alias("agg_mid"))
             .agg(F.count("*").alias("n_loops"))
             .filter(F.col("n_loops") > n))
    return (_internal_methods(nodes)
            .join(loops, F.col("id") == F.col("agg_mid")).select("id"))


def _too_nested(nodes, edges, n=3):
    # method.depth(_.isControlStructure) — max count of CONTROL_STRUCTURE
    # nodes on any root-to-leaf AST path: per CS node, 1 + #CS ancestors.
    cs = nodes.filter(F.col("kind") == M.CONTROL_STRUCTURE)
    anc = _ancestor_pairs(nodes, _seed(cs))
    cs_anc = (anc.join(cs.select(F.col("id").alias("nid")), "nid")
              .groupBy("fid").agg(F.count("*").alias("n_up")))
    depth = (cs.select(F.col("id").alias("fid"),
                       F.col("method_id").alias("agg_mid"))
             .join(cs_anc, "fid", "left")
             .withColumn("d", F.coalesce(F.col("n_up"), F.lit(0)) + 1)
             .groupBy("agg_mid").agg(F.max("d").alias("depth"))
             .filter(F.col("depth") > n))
    return (_internal_methods(nodes)
            .join(depth, F.col("id") == F.col("agg_mid")).select("id"))


METRICS = [
    ScanQuery("too-many-params", "fabs", "Number of parameters larger than 4",
              1, _metric_query(_too_many_params), ("metrics",),
              positive=("""
int too_many_params(int a, int b, int c, int d, int e) {

}
""",),
              negative=("""
void metrics_good_params(int a, int b, int c, int d) {

}
""",)),
    ScanQuery("too-high-complexity", "fabs", "Cyclomatic complexity higher than 4",
              1, _metric_query(_too_high_complexity), ("metrics",),
              positive=("""
int high_cyclomatic_complexity(int x) {
  while(true) {
    for(int i = 0; i < 10; i++) {
    }
    if(foo()) {}
  }
  if (x > 10) {
    for(int i = 0; i < 10; i++) {

     }
  }
}
""",),
              negative=("""
void metrics_good_cc(int x, int y) {
    if (x > 0) {/* Stuff */ } else { /* Stuff */ }
    if (y > 0) {/* Stuff */ } else { /* Stuff */ }
}
""",)),
    ScanQuery("too-long", "fabs", "More than 13 lines",
              1, _metric_query(lambda n, e: _too_long(n, e, 13)), ("metrics",),
              positive=("""
int func_with_many_lines(int x) {
  x++;
  x++;
  x++;
  x++;
  x++;
  x++;
  x++;
  x++;
  x++;
  x++;
  x++;
  x++;
}
""",),
              negative=("""
int func_with_few_lines(int x) {
  x++;
}
""",)),
    ScanQuery("multiple-returns", "fabs", "Multiple returns",
              1, _metric_query(_multiple_returns), ("metrics",),
              positive=("""
int func_with_multiple_returns (int x) {
  if (x > 10) {
    return 0;
  } else {
    return 1;
  }
}
""",),
              negative=("""
int func_without_multiple_returns() {
  return 0;
}
""",)),
    ScanQuery("too-many-loops", "fabs", "More than 3 loops",
              1, _metric_query(lambda n, e: _too_many_loops(n, e, 3)),
              ("metrics",),
              positive=("""
int high_number_of_loops () {
  for(int i = 0; i < 10; i++){
  }
  int j = 0;
  do {
    j++
  } while(j < 10);
  while(foo()) {}
  while(bar()){}
}
""",),
              negative=("""
int not_many_loops() {
  while (true) {
    // Do something
  }
}
""",)),
    ScanQuery("too-nested", "fabs", "Nesting level higher than 2",
              1, _metric_query(lambda n, e: _too_nested(n, e, 2)), ("metrics",),
              positive=("""
int func_with_nesting_level_of_3(int foo, int bar) {
  if (foo > 10) {
    if (bar > foo) {
      for(int i = 0; i < bar ;i++) {

      }
    }
  }
}
""",),
              negative=("""
int func_with_nesting_level_of_1(int foo) {
  if (foo > 10) {
    // Do something
  }
}
""",)),
]


# --------------------------------------------------------------------------- #
# CredentialDrop.scala — set*uid / set*gid ordering via the dominator tree
# --------------------------------------------------------------------------- #

def _not_dominated_by_call(nodes: DataFrame, edges: DataFrame,
                           calls: DataFrame, dom_regex: str) -> DataFrame:
    """calls whereNot(_.dominatedBy.isCall.name(dom_regex)) — walk each
    call's dominator-tree ancestors (CredentialDrop.scala:34-36,66-68)."""
    doms = _edge_closure_pairs(edges, M.DOMINATE, _seed(calls), forward=False)
    dom_calls = nodes.filter((F.col("kind") == M.CALL)
                             & F.col("name").rlike(f"^(?:{dom_regex})$")) \
        .select(F.col("id").alias("nid"))
    hit = doms.join(dom_calls, "nid").select(F.col("fid").alias("id")).distinct()
    return calls.select("id").join(hit, "id", "left_anti")


def _user_cred_drop(nodes, edges):
    calls = _calls_to_method(nodes, edges, "(?i)set(res|re|e|)uid")
    return _not_dominated_by_call(nodes, edges, calls, "set(res|re|e|)?gid")


def _group_cred_drop(nodes, edges):
    calls = _calls_to_method(nodes, edges, "(?i)set(res|re|e|)gid")
    return _not_dominated_by_call(nodes, edges, calls, "setgroups")


CREDENTIAL_DROP = [
    ScanQuery("setuid-without-setgid", "malte",
              "Process user ID is changed without changing groups first",
              2, _user_cred_drop, ("setxid", "default"),
              positive=("""
void bad1() {
  setresuid();
}

void bad3() {
  setgroups();
  setresuid();
}
""",),
              negative=("""
void cred_good() {
  setgroups();
  setresgid();
  setresuid();
}
""",)),
    ScanQuery("setgid-without-setgroups", "malte",
              "Process group membership is changed without setting ancillary groups first",
              2, _group_cred_drop, ("setxid", "default"),
              positive=("""
void bad2() {
  setresgid();
  setresuid();
}
""",),
              negative=()),
]


# --------------------------------------------------------------------------- #
# SignedLeftShift.scala
# --------------------------------------------------------------------------- #

def _signed_left_shift(nodes, edges):
    """<<= / << where argument(1) is typed int/long and the operands are not
    both literals (SignedLeftShift.scala:23-31)."""
    shifts = nodes.filter(
        (F.col("kind") == M.CALL)
        & F.col("name").isin(OP + "shiftLeft", OP + "assignmentShiftLeft"))
    args = _args_of(nodes, edges, shifts)
    ok1 = (args.filter((F.col("arg_index") == 1)
                       & F.col("type_full_name").isin("int", "long"))
           .select(F.col("fid").alias("id")).distinct())
    both_lit = (args.filter(F.col("kind") == M.LITERAL)
                .groupBy("fid").agg(F.count("*").alias("n_lit"))
                .filter(F.col("n_lit") == 2)
                .select(F.col("fid").alias("id")))
    return shifts.select("id").join(ok1, "id", "left_semi") \
        .join(both_lit, "id", "left_anti")


SIGNED_LEFT_SHIFT = [
    ScanQuery("signed-left-shift", "malte",
              "Signed Shift May Cause Undefined Behavior",
              2, _signed_left_shift, ("integers", "default"),
              positive=("""
void shift_bad1(int val) {
  val <<= 24;
}

void shift_bad2(int val) {
  255 << val;
}

void shift_bad3(int val) {
  val << val;
}
""",),
              negative=("""
void shift_good(unsigned int val) {
  255 << 24; // we ignore signed shift with two literals
  val <<= 24;
  val << val;
}
""",)),
]


# --------------------------------------------------------------------------- #
# IntegerTruncations.scala
# --------------------------------------------------------------------------- #

def _strlen_truncation(nodes, edges):
    """strlen callIn.inAssignment.target.evalType("(g?)int") — evidence is
    the assignment TARGET identifier (IntegerTruncations.scala:29-37)."""
    strlens = _calls_to_method(nodes, edges, "(?i)strlen")
    anc = _ancestor_pairs(nodes, _seed(strlens))
    asg_nodes = nodes.filter(F.col("name").isin(ASSIGN_OPS)).select(
        F.col("id").alias("nid"))
    asg = anc.join(asg_nodes, "nid").select(F.col("nid").alias("id")).distinct()
    targets = _args_of(nodes, edges, asg, 1)
    return (targets.filter(F.col("type_full_name").rlike("^(g?)int$"))
            .select("id").distinct())


INTEGER_TRUNCATIONS = [
    ScanQuery("strlen-truncation", "fabs",
              "Truncation in assignment involving `strlen` call",
              2, _strlen_truncation, ("integers", "default"),
              positive=("""
int strlen_vulnerable(char *str) {
  int len;
  len = strlen(str);
}
""",),
              negative=("""
int strlen_non_vulnerable(char *str) {
  size_t len;
  len = strlen(str);
}
""",)),
]


# --------------------------------------------------------------------------- #
# RetvalChecks.scala / SocketApi.scala — returnValueNotChecked
# --------------------------------------------------------------------------- #

def _return_value_not_checked(nodes: DataFrame, edges: DataFrame,
                              calls: DataFrame) -> DataFrame:
    """QueryLangExtensions.scala:11-29 — three sieves:
    1. drop calls whose ancestor control structure's condition code contains
       the call code (directly checked);
    2. drop calls whose enclosing assignment's target code appears among the
       method's condition identifiers / condition call codes;
    3. drop calls under a RETURN."""
    anc = _ancestor_pairs(nodes, _seed(calls))
    ancn = anc.join(nodes.select(F.col("id").alias("nid"),
                                 F.col("kind").alias("akind"),
                                 F.col("name").alias("aname")), "nid")
    call_codes = calls.select(F.col("id").alias("fid"),
                              F.col("code").alias("ccode"),
                              F.col("method_id").alias("cmid"))

    # (1) ancestor CS → CONDITION child code contains call code
    cs_anc = ancn.filter(F.col("akind") == M.CONTROL_STRUCTURE) \
        .select("fid", "nid")
    cond_e = edges.filter(F.col("label") == M.CONDITION).select(
        F.col("src").alias("nid"), F.col("dst").alias("cond_id"))
    cond = (cs_anc.join(cond_e, "nid")
            .join(nodes.select(F.col("id").alias("cond_id"),
                               F.col("code").alias("cond_code")), "cond_id"))
    direct = (cond.join(call_codes, "fid")
              .filter(F.expr("contains(cond_code, ccode)"))
              .select(F.col("fid").alias("id")).distinct())

    # (2) enclosing-assignment target vs condition vars of the method
    asg_anc = ancn.filter(F.col("aname").isin(ASSIGN_OPS)).select("fid", "nid")
    asg_ids = asg_anc.select(F.col("nid").alias("id")).distinct()
    tgt = (_args_of(nodes, edges, asg_ids, 1)
           .select(F.col("fid").alias("nid"), F.col("code").alias("tcode")))
    call_targets = (asg_anc.join(tgt, "nid")
                    .join(call_codes, "fid")
                    .select("fid", "tcode", "cmid"))
    cs_all = nodes.filter(F.col("kind") == M.CONTROL_STRUCTURE).select(
        F.col("id").alias("nid"), F.col("method_id").alias("cmid"))
    all_cond = (cs_all.join(cond_e, "nid")
                .select(F.col("cond_id").alias("id"), "cmid"))
    cond_sub = _descendant_pairs(nodes, _seed(all_cond)) \
        .join(all_cond.select(F.col("id").alias("fid"), "cmid"), "fid") \
        .join(nodes.select(F.col("id").alias("nid"),
                           F.col("kind").alias("dkind"),
                           F.col("name").alias("dname"),
                           F.col("code").alias("dcode")), "nid")
    tokens = (cond_sub.filter(F.col("dkind") == M.IDENTIFIER)
              .select("cmid", F.col("dname").alias("token"))
              .unionByName(cond_sub.filter(F.col("dkind") == M.CALL)
                           .select("cmid", F.col("dcode").alias("token")))
              .distinct())
    checked = (call_targets.join(
        tokens, (call_targets["cmid"] == tokens["cmid"])
        & (call_targets["tcode"] == tokens["token"]))
        .select(F.col("fid").alias("id")).distinct())

    # (3) directly returned
    returned = (ancn.filter(F.col("akind") == M.RETURN)
                .select(F.col("fid").alias("id")).distinct())

    return (calls.select("id")
            .join(direct, "id", "left_anti")
            .join(checked, "id", "left_anti")
            .join(returned, "id", "left_anti"))


def _unchecked_read_recv_malloc(nodes, edges):
    calls = _calls_to_method(nodes, edges, "(?i)(read|recv|malloc)")
    return _return_value_not_checked(nodes, edges, calls)


def _unchecked_send(nodes, edges):
    """cpg.method("send").filter(_.parameter.size == 4).callIn
    .returnValueNotChecked (SocketApi.scala:24-32)."""
    sends = _methods_named(nodes, "send")
    pc = _param_count(nodes)
    sends4 = sends.join(pc, sends["id"] == pc["mid"]).filter(
        F.col("n_params") == 4).select(F.col("id").alias("callee_id"))
    ce = edges.filter(F.col("label") == M.CALL_EDGE).select(
        F.col("src").alias("call_id"), F.col("dst").alias("callee_id"))
    sites = ce.join(sends4, "callee_id").select("call_id").distinct()
    calls = nodes.join(sites, nodes["id"] == sites["call_id"]).drop("call_id")
    return _return_value_not_checked(nodes, edges, calls)


RETVAL_CHECKS = [
    ScanQuery("unchecked-read-recv-malloc", "fabs", "Unchecked read/recv/malloc",
              3, _unchecked_read_recv_malloc, ("default",),
              positive=("""
void unchecked_read() {
  read(fd, buf, sizeof(buf));
}

void checks_something_else() {
  int nbytes = read(fd, buf, sizeof(buf));
  if( foo != sizeof(buf)) {

  }
}
""",),
              negative=("""
void checked_after_assignment() {
  int nbytes = read(fd, buf, sizeof(buf));
  if( nbytes != sizeof(buf)) {

  }
}

void immediately_checked() {
  if ( (read(fd, buf, sizeof(buf))) != sizeof(buf)) {

  }
}

int notCheckedButDirectlyReturned() {
  return read(fd, buf, sizeof(buf));
}
""",)),
]

SOCKET_API = [
    ScanQuery("socket-send", "fabs", "Unchecked call to send",
              2, _unchecked_send, ("default", "posix"),
              positive=("""
void return_not_checked(int sockfd, void *buf, size_t len, int flags) {
    send(sockfd, buf, len, flags);
}
""",),
              negative=("""
void return_checked(int sockfd, void *buf, size_t len, int flags) {
    if (send(sockfd, buf, len, flags) <= 0) {
        // Do something
    }
}
""", """
void return_var_checked(int sockfd, void *buf, size_t len, int flags) {
    ssize_t ret = send(sockfd, buf, len, flags);

    if (ret <= 0) {
        // Do something
    }
}
""")),
]


# --------------------------------------------------------------------------- #
# CopyLoops.scala
# --------------------------------------------------------------------------- #

def _is_copy_loop(nodes, edges):
    """Indexed writes whose subscript identifiers intersect the enclosing
    for-statement's non-body assignment targets (CopyLoops.scala:23-39).
    Evidence: the array expression (access.array)."""
    asg = nodes.filter(F.col("name").isin(ASSIGN_OPS))
    tgt1 = _args_of(nodes, edges, asg, 1).select(F.col("id").alias("tid"))
    acc_all = nodes.filter((F.col("kind") == M.CALL)
                           & F.col("name").isin(ARRAY_ACCESS_OPS))
    # target.arrayAccess — array accesses in the target subtree (astDown)
    acc_in_tgt = (_descendant_pairs(
        nodes, tgt1.select(F.col("tid").alias("fid"),
                           F.col("tid").alias("nid")))
        .join(acc_all.select(F.col("id").alias("nid")), "nid")
        .select(F.col("nid").alias("id")).distinct())
    acc = nodes.join(acc_in_tgt, "id", "left_semi").filter(
        (F.col("kind") == M.CALL) & F.col("name").isin(ARRAY_ACCESS_OPS))

    arr = _args_of(nodes, edges, acc, 1).select(
        "fid", F.col("id").alias("arr_id"))
    off = _args_of(nodes, edges, acc, 2).select(
        "fid", F.col("id").alias("off_id"))
    # subscript = identifiers within the offset expression
    # (ArrayAccessMethods.scala:14-15)
    sub = (_descendant_pairs(nodes, off.select("fid", F.col("off_id")
                                               .alias("nid")))
           .join(nodes.select(F.col("id").alias("nid"),
                              F.col("kind").alias("skind"),
                              F.col("code").alias("scode")), "nid")
           .filter(F.col("skind") == M.IDENTIFIER)
           .select("fid", F.col("scode").alias("sub_code")).distinct())
    # buf.inAst.isControlStructure.isFor
    fors = nodes.filter((F.col("kind") == M.CONTROL_STRUCTURE)
                        & (F.col("control_structure_type") == M.CS_FOR))
    arr_anc = _ancestor_pairs(
        nodes, arr.select("fid", F.col("arr_id").alias("nid")))
    for_anc = arr_anc.join(fors.select(F.col("id").alias("nid")), "nid") \
        .select("fid", F.col("nid").alias("for_id"))
    # .astChildren.filterNot(_.isBlock).assignment.target.code
    kids = (for_anc.join(
        nodes.select(F.col("parent_id").alias("for_id"),
                     F.col("id").alias("kid"),
                     F.col("kind").alias("kkind")), "for_id")
        .filter(F.col("kkind") != M.BLOCK)
        .select("fid", F.col("kid").alias("nid")))
    kid_asg = (_descendant_pairs(nodes, kids)
               .join(asg.select(F.col("id").alias("nid")), "nid")
               .select("fid", F.col("nid").alias("aid")).distinct())
    inc_tgt = (_args_of(nodes, edges,
                        kid_asg.select(F.col("aid").alias("id")).distinct(), 1)
               .select(F.col("fid").alias("aid"),
                       F.col("code").alias("inc_code")))
    inc = kid_asg.join(inc_tgt, "aid").select("fid", "inc_code").distinct()
    hit = (sub.join(inc, (sub["fid"] == inc["fid"])
                    & (sub["sub_code"] == inc["inc_code"]))
           .select(sub["fid"].alias("fid")).distinct())
    return hit.join(arr, "fid").select(F.col("arr_id").alias("id")).distinct()


COPY_LOOPS = [
    ScanQuery("copy-loop", "fabs", "Copy loop detected",
              2, _is_copy_loop, ("default",),
              positive=("""
int index_into_dst_array (char *dst, char *src, int offset) {
  for(i = 0; i < strlen(src); i++) {
    dst[i + + j*8 + offset] = src[i];
  }
}
""",),
              negative=("""
// We do not want to detect this one because the
// index only specifies where to read from
int index_into_src_array() {
  for(i = 0; i < strlen(src); i++) {
    dst[k] = src[i];
  }
}
""",)),
]


# --------------------------------------------------------------------------- #
# HeapBasedOverflow.scala — malloc/memcpy size-mismatch via the DDG
# --------------------------------------------------------------------------- #

def _malloc_memcpy_int_overflow(nodes, edges):
    """malloc with arithmetic arg 1 whose assignment target flows into
    memcpy's arg 1, and memcpy's arg 3 differs from malloc's arg 1
    (HeapBasedOverflow.scala:24-41, the 31C3 CVE-2014-9626 query).
    Dataflow is the REACHING_DEF closure from the malloc's enclosing
    assignment to memcpy's first argument."""
    mallocs = _calls_to_method(nodes, edges, ".*malloc")
    m_arg1 = _args_of(nodes, edges, mallocs, 1)
    arith = nodes.filter(F.col("name").isin(ARITHMETIC_OPS)).select(
        F.col("id").alias("nid"))
    arith_fids = (_descendant_pairs(
        nodes, m_arg1.select("fid", F.col("id").alias("nid")))
        .join(arith, "nid").select("fid").distinct())
    m_ok = mallocs.join(arith_fids, mallocs["id"] == arith_fids["fid"],
                        "left_semi")
    # enclosing assignment + its target code (src.inAssignment.target)
    anc = _ancestor_pairs(nodes, _seed(m_ok))
    asg_nodes = nodes.filter(F.col("name").isin(ASSIGN_OPS)).select(
        F.col("id").alias("nid"))
    m_asg = anc.join(asg_nodes, "nid").select(
        "fid", F.col("nid").alias("asg_id"))
    asg_tgt = (_args_of(nodes, edges,
                        m_asg.select(F.col("asg_id").alias("id")).distinct(), 1)
               .select(F.col("fid").alias("asg_id"),
                       F.col("code").alias("tgt_code")))
    m_info = (m_asg.join(asg_tgt, "asg_id")
              .join(m_arg1.select(F.col("fid"),
                                  F.col("code").alias("m1_code")), "fid")
              .join(mallocs.select(F.col("id").alias("fid"),
                                   F.col("method_id").alias("mmid")), "fid")
              .select(F.col("fid").alias("malloc_id"), "asg_id", "tgt_code",
                      "m1_code", "mmid"))

    memcpys = _calls_to_method(nodes, edges, "(?i)memcpy")
    c_arg1 = _args_of(nodes, edges, memcpys, 1).select(
        F.col("fid").alias("memcpy_id"), F.col("id").alias("dst_id"),
        F.col("code").alias("dst_code"))
    c_arg3 = _args_of(nodes, edges, memcpys, 3).select(
        F.col("fid").alias("memcpy_id"), F.col("code").alias("c3_code"))
    c_info = (c_arg1.join(c_arg3, "memcpy_id")
              .join(memcpys.select(F.col("id").alias("memcpy_id"),
                                   F.col("method_id").alias("cmid")),
                    "memcpy_id"))

    cand = (m_info.join(c_info, (m_info["mmid"] == c_info["cmid"])
                        & (m_info["tgt_code"] == c_info["dst_code"])
                        & (m_info["m1_code"] != c_info["c3_code"])))
    # DDG conjunct: the malloc's def chain reaches memcpy's arg-1 use
    # (malloc → assignment target identifier → downstream uses)
    reach = _edge_closure_pairs(
        edges, M.REACHING_DEF,
        cand.select(F.col("malloc_id").alias("fid"),
                    F.col("malloc_id").alias("nid")).distinct(),
        forward=True, max_depth=16)
    flowed = (cand.join(reach, (cand["malloc_id"] == reach["fid"])
                        & (cand["dst_id"] == reach["nid"]), "left_semi"))
    return flowed.select(F.col("memcpy_id").alias("id")).distinct()


HEAP_BASED_OVERFLOW = [
    ScanQuery("malloc-memcpy-int-overflow", "fabs",
              "Dangerous copy-operation into heap-allocated buffer",
              4, _malloc_memcpy_int_overflow, ("integers", "default"),
              positive=("""
int heap_vulnerable(size_t len, char *src) {
  char *dst = malloc(len + 8);
  memcpy(dst, src, len + 7);
}
""",),
              negative=("""
int heap_non_vulnerable(size_t len, char *src) {
 char *dst = malloc(len + 8);
 memcpy(dst, src,len + 8);
}

int heap_non_vulnerable2(size_t len, char *src) {
 char *dst = malloc( some_size );
 assert(dst);
 memcpy(dst, src, some_size );
}
""",)),
]


# --------------------------------------------------------------------------- #
# NullTermination.scala
# --------------------------------------------------------------------------- #

def _strncpy_no_null_term(nodes, edges):
    """strncpy(dst, src, size) where dst flows from malloc(size) exactly and
    no explicit `dst[...] = ...0...` termination exists in the method
    (NullTermination.scala:31-47). Evidence: strncpy's arg 1."""
    strncpys = _calls_to_method(nodes, edges, "(?i)strncpy")
    s_arg1 = _args_of(nodes, edges, strncpys, 1).select(
        F.col("fid").alias("sid"), F.col("id").alias("dst_id"),
        F.col("code").alias("dst_code"))
    s_arg3 = _args_of(nodes, edges, strncpys, 3).select(
        F.col("fid").alias("sid"), F.col("code").alias("size_code"))
    s_info = (s_arg1.join(s_arg3, "sid")
              .join(strncpys.select(F.col("id").alias("sid"),
                                    F.col("method_id").alias("smid")), "sid"))

    mallocs = _calls_to_method(nodes, edges, ".*malloc")
    m_arg1 = _args_of(nodes, edges, mallocs, 1).select(
        F.col("fid").alias("malloc_id"), F.col("code").alias("alloc_code"))
    m_info = m_arg1.join(mallocs.select(F.col("id").alias("malloc_id"),
                                        F.col("method_id").alias("mmid")),
                         "malloc_id")
    cand = s_info.join(m_info, (s_info["smid"] == m_info["mmid"])
                       & (s_info["size_code"] == m_info["alloc_code"]))
    # dst reachableBy the allocation: REACHING_DEF closure malloc → dst use
    # (malloc → assignment target identifier → the strncpy arg-1 use)
    reach = _edge_closure_pairs(
        edges, M.REACHING_DEF,
        cand.select(F.col("malloc_id").alias("fid"),
                    F.col("malloc_id").alias("nid")).distinct(),
        forward=True, max_depth=16)
    flowed = cand.join(
        reach, (cand["malloc_id"] == reach["fid"])
        & (cand["dst_id"] == reach["nid"]), "left_semi")

    # whereNot: method has assignment target `dst...[...` with a 0-literal
    # source (explicit termination)
    asg = nodes.filter(F.col("name").isin(ASSIGN_OPS))
    a_tgt = _args_of(nodes, edges, asg, 1).select(
        F.col("fid").alias("aid"), F.col("code").alias("at_code"))
    a_src = _args_of(nodes, edges, asg, 2).select(
        F.col("fid").alias("aid"), F.col("kind").alias("as_kind"),
        F.col("code").alias("as_code"))
    term = (a_tgt.join(a_src, "aid")
            .join(asg.select(F.col("id").alias("aid"),
                             F.col("method_id").alias("tmid")), "aid")
            .filter((F.col("as_kind") == M.LITERAL)
                    & F.col("as_code").rlike(".*0.*")))
    # `.target.arrayAccess.code(s"${dst.code}.*\\[.*")` — target code begins
    # with the dst expression and indexes into it
    killed = (flowed.join(term, flowed["smid"] == term["tmid"])
              .filter(F.col("at_code").startswith(F.col("dst_code"))
                      & F.col("at_code").contains("["))
              .select(F.col("sid").alias("kill_sid")).distinct())
    out = flowed.join(killed, flowed["sid"] == killed["kill_sid"], "left_anti")
    return out.select(F.col("dst_id").alias("id")).distinct()


NULL_TERMINATION = [
    ScanQuery("strncpy-no-null-term", "fabs",
              "strncpy is used and no null termination is nearby",
              4, _strncpy_no_null_term, ("strings", "default"),
              positive=("""
// If src points to a string that is at least `asize` long,
// then `ptr` will not be null-terminated after the `strncpy`
// call.
int nullterm_bad() {
  char *ptr = malloc(asize);
  strncpy(ptr, src, asize);
}
""",),
              negative=("""
// Null-termination is ensured if we can only copy
// less than `asize + 1` into the buffer
int nullterm_good() {
  char *ptr = malloc(asize + 1);
  strncpy(ptr, src, asize);
}

 // Null-termination is also ensured if it is performed
 // explicitly
int nullterm_alsogood() {
  char *ptr = malloc(asize);
  strncpy(ptr, src, asize);
  ptr[asize -1] = '\\0';
}
""",)),
]


# --------------------------------------------------------------------------- #
# FileOpRace.scala
# --------------------------------------------------------------------------- #

_FILE_OPS = {
    "access": [1], "chdir": [1], "chmod": [1], "chown": [1], "creat": [1],
    "faccessat": [2], "fchmodat": [2], "fopen": [1], "fstatat": [2],
    "lchown": [1], "linkat": [2, 4], "link": [1, 2], "lstat": [1],
    "mkdirat": [2], "mkdir": [1], "mkfifoat": [2], "mkfifo": [1],
    "mknodat": [2], "mknod": [1], "openat": [2], "open": [1],
    "readlinkat": [2], "readlink": [1], "renameat": [2, 4],
    "rename": [1, 2], "rmdir": [1], "stat": [1], "unlinkat": [2],
    "unlink": [1],
}


def _file_operation_race(nodes, edges):
    """Two path-taking file operations in one function sharing a non-literal
    path argument (FileOpRace.scala:27-77). The op→argument-index map is a
    constant dimension — broadcast is size-bounded by the literal table, not
    the data."""
    spark = nodes.sparkSession
    ops = spark.createDataFrame(
        [(k, i) for k, v in _FILE_OPS.items() for i in v],
        "name string, op_idx int")
    calls = nodes.filter((F.col("kind") == M.CALL)
                         & F.col("name").isin(list(_FILE_OPS)))
    args = (_args_of(nodes, edges, calls)
            .filter(F.col("kind") != M.LITERAL)
            .select(F.col("fid").alias("call_id"),
                    F.col("arg_index"), F.col("code").alias("acode")))
    keyed = (calls.select(F.col("id").alias("call_id"), "name",
                          F.col("method_id").alias("mid"))
             .join(args, "call_id")
             .join(F.broadcast(ops), ["name"])
             .filter(F.col("arg_index") == F.col("op_idx"))
             .select("call_id", "mid", "acode"))
    other = keyed.select(F.col("call_id").alias("oid"),
                         F.col("mid"), F.col("acode"))
    hits = (keyed.join(other, ["mid", "acode"])
            .filter(F.col("call_id") != F.col("oid"))
            .select(F.col("call_id").alias("id")).distinct())
    return hits


FILE_OP_RACE = [
    ScanQuery("file-operation-race", "malte",
              "Two file operations on the same path can act on different files",
              3, _file_operation_race, ("raceCondition", "default"),
              positive=("""
void insecure_race(char *path) {
    chmod(path, 0);
    rename(path, "/some/new/path");
}
""",),
              negative=("""
void secure_handle(char *path) {
    FILE *file = fopen(path, "r");
    fchown(fileno(file), 0, 0);
}
""",)),
]


# --------------------------------------------------------------------------- #
# UseAfterFree.scala — three dominance/dataflow queries
# --------------------------------------------------------------------------- #

def _free_field_no_reassign(nodes, edges):
    """free(param->field) where the freed field access still reaches the
    METHOD_RETURN (i.e. some path exits without reassignment) and the whole
    struct is not itself freed/cleared (UseAfterFree.scala:17-60).
    Evidence: the free call."""
    frees = _calls_to_method(nodes, edges, "free")
    fa = nodes.filter((F.col("kind") == M.CALL)
                      & F.col("name").rlike("^<operator>\\..*[fF]ieldAccess.*$"))
    arg1 = _args_of(nodes, edges, frees, 1)
    f_fa = (arg1.join(fa.select(F.col("id").alias("faid")),
                      arg1["id"] == F.col("faid"), "left_semi")
            .select(F.col("fid").alias("free_id"),
                    F.col("id").alias("fa_id"),
                    F.col("method_id").alias("mid")))
    # struct expression = fieldAccess.argument(1); must be a parameter name
    struct1 = (_args_of(nodes, edges,
                        f_fa.select(F.col("fa_id").alias("id")).distinct(), 1)
               .select(F.col("fid").alias("fa_id"),
                       F.col("code").alias("struct_code")))
    params = nodes.filter(F.col("kind") == M.METHOD_PARAMETER_IN).select(
        F.col("parent_id").alias("mid"), F.col("name").alias("pname"))
    cand = (f_fa.join(struct1, "fa_id")
            .join(params, (f_fa["mid"] == params["mid"])
                  & (struct1["struct_code"] == params["pname"]), "left_semi"))
    # whereNot: the whole struct is freed / memset / bzero'd in the method
    clears = nodes.filter((F.col("kind") == M.CALL)
                          & F.col("name").rlike("^(.*free|memset|bzero)$"))
    clr1 = (_args_of(nodes, edges, clears, 1)
            .join(clears.select(F.col("id").alias("fid"),
                                F.col("method_id").alias("cmid")), "fid")
            .select("cmid", F.col("code").alias("ccode")))
    whole = cand.join(clr1, (cand["mid"] == clr1["cmid"])
                      & (cand["struct_code"] == clr1["ccode"]), "left_semi") \
        .select(F.col("free_id").alias("wid")).distinct()
    cand = cand.join(whole, cand["free_id"] == whole["wid"], "left_anti")
    # methodReturn.reachableBy(arg): the freed field's def must survive to
    # the exit — a DIRECT REACHING_DEF edge from the field-access node to
    # METHOD_RETURN. (Reassignments on a path kill the def; the DDG already
    # encodes the kill, so the edge exists iff some path exits without a
    # reassignment. A transitive walk would leak through the *reassigning*
    # occurrences and flag the reassigned-on-all-paths case too.)
    mrets = nodes.filter(F.col("kind") == M.METHOD_RETURN).select(
        F.col("id").alias("ret_id"), F.col("method_id").alias("mid"))
    rd = edges.filter(F.col("label") == M.REACHING_DEF).select(
        F.col("src").alias("fa_id"), F.col("dst").alias("ret_id"))
    hit = (cand.join(rd, "fa_id")
           .join(mrets, ["ret_id", "mid"], "left_semi"))
    return hit.select(F.col("free_id").alias("id")).distinct()


def _free_returned_value(nodes, edges):
    """Out-parameter field set to a local that is later freed on a dominated
    path — CVE-2019-18902 shape (UseAfterFree.scala:82-140). Evidence: the
    assignment's source identifier."""
    ref_e = edges.filter(F.col("label") == M.REF).select(
        F.col("src").alias("ident_id"), F.col("dst").alias("decl_id"))
    idents = nodes.filter(F.col("kind") == M.IDENTIFIER)

    # outParams: pointer-typed params never reassigned / address-taken
    params = nodes.filter((F.col("kind") == M.METHOD_PARAMETER_IN)
                          & F.col("code").rlike("^.+\\*.+$")).select(
        F.col("id").alias("decl_id"), F.col("parent_id").alias("mid"))
    p_idents = (params.join(ref_e, "decl_id")
                .join(idents.select(F.col("id").alias("ident_id"),
                                    F.col("arg_index"),
                                    F.col("parent_id").alias("ipid")),
                      "ident_id"))
    bad_parent = nodes.filter(F.col("name").isin(
        [M.OP_ASSIGNMENT, M.OP_ADDRESS_OF])).select(
        F.col("id").alias("ipid"))
    reassigned = (p_idents.filter(F.col("arg_index") == 1)
                  .join(bad_parent, "ipid", "left_semi")
                  .select("decl_id").distinct())
    out_params = params.join(reassigned, "decl_id", "left_anti")

    # referencingIdentifiers.argumentIndex(1).inCall named indirect access
    deref_parent = nodes.filter(F.col("name").isin(
        [M.OP_INDIRECT_FIELD_ACCESS, M.OP_INDIRECTION,
         M.OP_INDIRECT_INDEX_ACCESS])).select(
        F.col("id").alias("ipid"), F.col("arg_index").alias("p_arg_index"),
        F.col("parent_id").alias("gpid"))
    asg_parent = nodes.filter(F.col("name") == M.OP_ASSIGNMENT).select(
        F.col("id").alias("gpid"))
    # the deref must itself be argument 1 of an assignment
    field_sets = (out_params.join(ref_e, "decl_id")
                  .join(idents.select(F.col("id").alias("ident_id"),
                                      F.col("arg_index"),
                                      F.col("parent_id").alias("ipid")),
                        "ident_id")
                  .filter(F.col("arg_index") == 1)
                  .join(deref_parent, "ipid")
                  .filter(F.col("p_arg_index") == 1)
                  .join(asg_parent, "gpid", "left_semi")
                  .select(F.col("gpid").alias("asg_id")).distinct())
    # assignment source (arg 2) identifiers = X
    xs = (_args_of(nodes, edges,
                   field_sets.select(F.col("asg_id").alias("id")), 2)
          .filter(F.col("kind") == M.IDENTIFIER)
          .select(F.col("id").alias("x_id"),
                  F.col("method_id").alias("mid")))
    # X.refsTo → referencing identifiers → inCall named (.*_)?free
    x_decl = xs.join(ref_e, xs["x_id"] == ref_e["ident_id"]).select(
        "x_id", "mid", "decl_id")
    co_refs = (x_decl.join(ref_e, "decl_id")
               .select("x_id", "mid", F.col("ident_id").alias("use_id")))
    free_calls = nodes.filter((F.col("kind") == M.CALL)
                              & F.col("name").rlike("^(.*_)?free$"))
    arg_e = edges.filter(F.col("label") == M.ARGUMENT).select(
        F.col("src").alias("free_id"), F.col("dst").alias("use_id"))
    freed = (co_refs.join(arg_e, "use_id")
             .join(free_calls.select(F.col("id").alias("free_id")),
                   "free_id", "left_semi")
             .select("x_id", "free_id").distinct())
    # freeCall.dominatedBy contains the X identifier occurrence
    doms = _edge_closure_pairs(
        edges, M.DOMINATE,
        freed.select(F.col("free_id").alias("fid"),
                     F.col("free_id").alias("nid")).distinct(),
        forward=False)
    hit = freed.join(doms, (freed["free_id"] == doms["fid"])
                     & (freed["x_id"] == doms["nid"]), "left_semi")
    return hit.select(F.col("x_id").alias("id")).distinct()


def _free_post_dominates_usage(nodes, edges):
    """Identifiers that post-dominate a free of the same name without an
    intervening post-dominating reassignment — CVE-2019-18903 shape
    (UseAfterFree.scala:160-195). Evidence: the reused identifiers."""
    pc = _param_count(nodes)
    free_m = (_methods_named(nodes, "(.*_)?free")
              .join(pc, F.col("id") == F.col("mid"))
              .filter(F.col("n_params") == 1)
              .select(F.col("id").alias("callee_id")))
    ce = edges.filter(F.col("label") == M.CALL_EDGE).select(
        F.col("src").alias("call_id"), F.col("dst").alias("callee_id"))
    sites = ce.join(free_m, "callee_id").select("call_id").distinct()
    frees = nodes.join(sites, nodes["id"] == sites["call_id"]).drop("call_id")
    f_arg = (_args_of(nodes, edges, frees, 1)
             .filter(F.col("kind") == M.IDENTIFIER)
             .select(F.col("fid").alias("free_id"),
                     F.col("code").alias("freed_code")))
    frees = frees.join(f_arg, frees["id"] == f_arg["free_id"], "left_semi")

    # postDom(f): nodes that post-dominate the free call (backward closure)
    postdom = _edge_closure_pairs(edges, M.POST_DOMINATE, _seed(frees),
                                  forward=False) \
        .withColumnRenamed("fid", "free_id")
    pd_idents = (postdom.join(
        nodes.filter(F.col("kind") == M.IDENTIFIER)
        .select(F.col("id").alias("nid"), F.col("code").alias("icode"),
                F.col("parent_id").alias("ipid")), "nid")
        .join(f_arg, "free_id")
        .filter(F.col("icode") == F.col("freed_code")))
    # assignedPostDom: those inside an assignment, plus their own
    # post-dominators
    asg_anc = _ancestor_pairs(nodes, pd_idents.select(
        F.col("nid").alias("fid"), F.col("nid").alias("nid")).distinct())
    asg_nodes = nodes.filter(F.col("name").isin(ASSIGN_OPS)).select(
        F.col("id").alias("nid"))
    in_asg = (asg_anc.join(asg_nodes, "nid")
              .select(F.col("fid").alias("nid")).distinct())
    assigned = pd_idents.join(in_asg, "nid", "left_semi") \
        .select("free_id", "nid")
    assigned_pd = _edge_closure_pairs(
        edges, M.POST_DOMINATE,
        assigned.select(F.col("nid").alias("fid"),
                        F.col("nid").alias("nid")).distinct(),
        forward=False)
    shadow = (assigned.join(assigned_pd,
                            assigned["nid"] == assigned_pd["fid"])
              .select("free_id", assigned_pd["nid"].alias("nid"))
              .unionByName(assigned).distinct())
    reused = pd_idents.select("free_id", "nid") \
        .join(shadow, ["free_id", "nid"], "left_anti")
    return reused.select(F.col("nid").alias("id")).distinct()


USE_AFTER_FREE = [
    ScanQuery("free-field-no-reassign", "fabs",
              "A field of a parameter is free'd and not reassigned on all paths",
              5, _free_field_no_reassign, ("uaf", "default"),
              positive=("""
void free_field_reassigned(a_struct_type *a_struct) {
  free(a_struct->ptr);
  if (something) {
    return;
  }
  a_struct->ptr = foo;
}
""",),
              negative=("""
void not_free_field_reassigned(a_struct_type *a_struct) {
  free(a_struct->ptr);
  if (something) {
    a_struct->ptr = NULL;
    return;
  }
  a_struct->ptr = foo;
}
""",)),
    ScanQuery("free-returned-value", "malte",
              "A value that is returned through a parameter is free'd in a path",
              5, _free_returned_value, ("uaf",),
              positive=("""
void uaf_ret_bad(a_struct_type *a_struct) {
  void *x = NULL;
  a_struct->foo = x;
  free(x);
}
""",),
              negative=("""
void uaf_ret_good1(a_struct_type *a_struct) {
  void *x = NULL, *y = NULL;
  a_struct->foo = x;
  free(y);
}

void uaf_ret_good2(a_struct_type *a_struct) {
  void *x = NULL;
  free(a_struct->foo);
  a_struct->foo = x;
}

void uaf_ret_bad_not_covered(a_struct_type *a_struct) {
  void *x = NULL;
  a_struct->foo = x;
  free(a_struct->foo);
}
""",)),
    ScanQuery("free-follows-value-reuse", "malte",
              "A value that is free'd is reused without reassignment.",
              5, _free_post_dominates_usage, ("uaf",),
              positive=("""
void *uaf_pd_bad() {
  void *x = NULL;
  if (cond)
    free(x);
  return x;
}

void *uaf_pd_false_positive() {
  void *x = NULL;
  free(x);
  if (cond)
    x = NULL;
  else
    x = NULL;
  return x;
}
""",),
              negative=("""
void *uaf_pd_false_negative() {
  void *x = NULL;
  if (cond) {
    free(x);
    if (cond2)
      return x; // doesn't post-dominate the free call
    x = NULL;
  }
  return x;
}

void *uaf_pd_good() {
  void *x = NULL;
  if (cond)
    free(x);
  x = NULL;
  return x;
}
""",)),
]


# --------------------------------------------------------------------------- #
# registry + runner
# --------------------------------------------------------------------------- #

BUNDLES: dict[str, list[ScanQuery]] = {
    "DangerousFunctions": DANGEROUS_FUNCTIONS,
    "Metrics": METRICS,
    "CredentialDrop": CREDENTIAL_DROP,
    "SignedLeftShift": SIGNED_LEFT_SHIFT,
    "IntegerTruncations": INTEGER_TRUNCATIONS,
    "RetvalChecks": RETVAL_CHECKS,
    "SocketApi": SOCKET_API,
    "CopyLoops": COPY_LOOPS,
    "HeapBasedOverflow": HEAP_BASED_OVERFLOW,
    "NullTermination": NULL_TERMINATION,
    "FileOpRace": FILE_OP_RACE,
    "UseAfterFree": USE_AFTER_FREE,
}


def bundle_code(bundle: list[ScanQuery]) -> str:
    """CQueryTestSuite.concatQueryCodeExamples — positives then negatives,
    per query, concatenated (CQueryTestSuite.scala:18-29)."""
    parts = []
    for q in bundle:
        parts.append("\n".join(q.positive) + "\n" + "\n".join(q.negative))
    return "\n".join(parts)


def evidence_methods(nodes: DataFrame, edges: DataFrame,
                     q: ScanQuery) -> set[str]:
    """findMatchingCalls analogue — the enclosing method names of the
    query's evidence nodes (METHOD evidence maps to itself)."""
    ids = q.traversal(nodes, edges).select("id").distinct()
    ev = nodes.join(ids, "id")
    methods = nodes.filter(F.col("kind") == M.METHOD).select(
        F.col("id").alias("m_id"), F.col("name").alias("m_name"))
    named = (ev.filter(F.col("kind") != M.METHOD)
             .join(methods, ev["method_id"] == methods["m_id"])
             .select("m_name")
             .unionByName(ev.filter(F.col("kind") == M.METHOD)
                          .select(F.col("name").alias("m_name"))))
    return {r["m_name"] for r in named.collect()}


def run_bundles(nodes: DataFrame, edges: DataFrame,
                bundles: dict[str, list[ScanQuery]] | None = None) -> DataFrame:
    """All bundles → findings(bundle, query_name, score, method_name, line,
    code) — the joern-scan FINDING projection."""
    bundles = bundles if bundles is not None else BUNDLES
    methods = nodes.filter(F.col("kind") == M.METHOD).select(
        F.col("id").alias("m_id"), F.col("name").alias("m_name"))
    out = None
    for bname, bundle in bundles.items():
        for q in bundle:
            ids = q.traversal(nodes, edges).select("id").distinct()
            ev = nodes.join(ids, "id")
            rows = (ev.withColumn(
                "method_name",
                F.when(F.col("kind") == M.METHOD, F.col("name")))
                .join(methods, ev["method_id"] == methods["m_id"], "left")
                .select(F.lit(bname).alias("bundle"),
                        F.lit(q.name).alias("query_name"),
                        F.lit(float(q.score)).alias("score"),
                        F.coalesce("method_name", "m_name", F.lit(""))
                        .alias("method_name"),
                        F.col("line").cast("long").alias("line"),
                        F.col("code").alias("code")))
            out = rows if out is None else out.unionByName(rows)
    return out.distinct()


# --------------------------------------------------------------------------- #
# driver suite — all bundles over one combined fixture corpus
# --------------------------------------------------------------------------- #

# UseAfterFreeTests.scala overrides the suite cpg for the field query (the
# bundle concat cross-contaminates free/reassign pairs across examples, so
# the reference pins this query to its own two-function fixture).
UAF_FIELD_FIXTURE = """
void uaf_good(a_struct_type *a_struct) {
  free(a_struct->ptr);
  if (something) {
    a_struct->ptr = NULL;
    return;
  }
  a_struct->ptr = foo;
}

void uaf_bad(a_struct_type *a_struct) {
 free(a_struct->ptr);
 if (something) {
   return;
 }
 a_struct->ptr = foo;
}
"""

SUITE_OVERRIDES: dict[tuple[str, str], str] = {
    ("UseAfterFree", "free-field-no-reassign"): "UseAfterFreeTests.c",
}

# Expected (bundle, query_name) -> enclosing-method sets, transcribed from
# the reference suites (querydb/src/test/scala/io/joern/scanners/c/*Tests
# .scala, CQueryTestSuite.findMatchingCalls).  free-follows-value-reuse's
# uaf_pd_false_positive hit is the reference's own documented FP
# (UseAfterFree.scala:109-116 codeExamples keep it in the positive set).
SUITE_EXPECTED: dict[tuple[str, str], frozenset[str]] = {
    ("DangerousFunctions", "call-to-gets"): frozenset({"insecure_gets"}),
    ("DangerousFunctions", "format-controlled-printf"):
        frozenset({"insecure_printf", "insecure_sprintf"}),
    ("DangerousFunctions", "call-to-scanf"): frozenset({"insecure_scanf"}),
    ("DangerousFunctions", "call-to-strcat"):
        frozenset({"insecure_strcat", "insecure_strncat"}),
    ("DangerousFunctions", "call-to-strcpy"):
        frozenset({"insecure_strcpy", "insecure_strncpy"}),
    ("DangerousFunctions", "call-to-strtok"): frozenset({"insecure_strtok"}),
    ("DangerousFunctions", "call-to-getwd"): frozenset({"insecure_getwd"}),
    ("Metrics", "too-many-params"): frozenset({"too_many_params"}),
    ("Metrics", "too-high-complexity"):
        frozenset({"high_cyclomatic_complexity"}),
    ("Metrics", "too-long"): frozenset({"func_with_many_lines"}),
    ("Metrics", "multiple-returns"):
        frozenset({"func_with_multiple_returns"}),
    ("Metrics", "too-many-loops"): frozenset({"high_number_of_loops"}),
    ("Metrics", "too-nested"): frozenset({"func_with_nesting_level_of_3"}),
    ("CredentialDrop", "setuid-without-setgid"):
        frozenset({"bad1", "bad3"}),
    ("CredentialDrop", "setgid-without-setgroups"): frozenset({"bad2"}),
    ("SignedLeftShift", "signed-left-shift"):
        frozenset({"shift_bad1", "shift_bad2", "shift_bad3"}),
    ("IntegerTruncations", "strlen-truncation"):
        frozenset({"strlen_vulnerable"}),
    ("RetvalChecks", "unchecked-read-recv-malloc"):
        frozenset({"unchecked_read", "checks_something_else"}),
    ("SocketApi", "socket-send"): frozenset({"return_not_checked"}),
    ("CopyLoops", "copy-loop"): frozenset({"index_into_dst_array"}),
    ("HeapBasedOverflow", "malloc-memcpy-int-overflow"):
        frozenset({"heap_vulnerable"}),
    ("NullTermination", "strncpy-no-null-term"): frozenset({"nullterm_bad"}),
    ("FileOpRace", "file-operation-race"): frozenset({"insecure_race"}),
    ("UseAfterFree", "free-field-no-reassign"): frozenset({"uaf_bad"}),
    ("UseAfterFree", "free-returned-value"): frozenset({"uaf_ret_bad"}),
    ("UseAfterFree", "free-follows-value-reuse"):
        frozenset({"uaf_pd_bad", "uaf_pd_false_positive"}),
}


def suite_source_rows() -> list[tuple[str, str, str, str, str]]:
    """One translation unit per bundle (CQueryTestSuite concat) plus the
    UseAfterFree field-query override fixture — (repo, path, commit, lang,
    content) rows for the standard pipeline source schema."""
    rows = [("fixtures/querydb", f"{n}.c", "c" * 40, "c", bundle_code(b))
            for n, b in BUNDLES.items()]
    rows.append(("fixtures/querydb", "UseAfterFreeTests.c", "c" * 40, "c",
                 UAF_FIELD_FIXTURE))
    return rows


def suite_expected_rows() -> list[tuple[str, str, str]]:
    """SUITE_EXPECTED flattened to (bundle, query_name, method_name)."""
    return sorted((b, q, m) for (b, q), ms in SUITE_EXPECTED.items()
                  for m in ms)


def suite_findings(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """-> (bundle, query_name, method_name) distinct — every bundle run
    against its own translation unit inside one combined CPG.  Node ids are
    content-hashed per (path, …) so cross-file edges cannot exist; filtering
    the node relation to the bundle's file (plus the path-less external
    stubs — MethodStubCreator emits one `gets`/`free`/… stub for the whole
    corpus, and call-site resolution walks CALL edges into them) is exactly
    the per-suite cpg of the reference harness."""
    # Materialize both relations up front, and each file's node slice once,
    # for the first query on it: a traversal reads them in many plan
    # branches and in each of its `reach_pairs` jobs, and from local
    # checkpoints those reads skip re-scanning and re-filtering the graph
    # tables (without them the suite ran about a third slower).
    nodes = nodes.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    stubs = nodes.filter(F.col("path") == "")
    slices: dict[str, DataFrame] = {}
    out = None
    for bname, bundle in BUNDLES.items():
        for q in bundle:
            fpath = SUITE_OVERRIDES.get((bname, q.name), f"{bname}.c")
            if fpath not in slices:
                slices[fpath] = (nodes.filter(F.col("path") == fpath)
                                 .unionByName(stubs).localCheckpoint(eager=True))
            n_f = slices[fpath]
            methods = n_f.filter(F.col("kind") == M.METHOD).select(
                F.col("id").alias("m_id"), F.col("name").alias("m_name"))
            ids = q.traversal(n_f, edges).select("id").distinct()
            ev = n_f.join(ids, "id")
            named = (ev.filter(F.col("kind") != M.METHOD)
                     .join(methods, ev["method_id"] == methods["m_id"])
                     .select("m_name")
                     .unionByName(ev.filter(F.col("kind") == M.METHOD)
                                  .select(F.col("name").alias("m_name"))))
            rows = named.select(F.lit(bname).alias("bundle"),
                                F.lit(q.name).alias("query_name"),
                                F.col("m_name").alias("method_name"))
            out = rows if out is None else out.unionByName(rows)
    return out.distinct()
