"""Data model for the PySpark-native CPG engine.

The reference (tonghuaroot/joern) stores the code property graph in a
columnar in-memory layout ("flatgraph", changelog/4.0.0-flatgraph.md:7) with a
closed, code-generated schema.  We re-express that layout as two distributed
DataFrames:

* ``nodes`` — one row per CPG node, one nullable column per property
  (closed schema per reference ``PropertyDefaults``; see SURVEY.md §1.3).
* ``edges`` — ``(src, dst, label, variable)`` ≡ the (subj, pred, obj) triple
  table; ``variable`` is the single optional edge property the reference uses
  (on REACHING_DEF edges, DdgGenerator.scala:224).

Node ids are deterministic content-derived hashes (xxhash64 over
(repo, path, commit, node_idx)) so re-running any stage is idempotent —
the reference's sequence ids (fine single-machine) are replaced by a
distributed-safe scheme.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------- #
# Node kinds (reference: io.shiftleft.codepropertygraph.generated.NodeTypes,
# creation sites catalogued in SURVEY.md §1.3)
# --------------------------------------------------------------------------- #
META_DATA = "META_DATA"
FILE = "FILE"
NAMESPACE_BLOCK = "NAMESPACE_BLOCK"
NAMESPACE = "NAMESPACE"
TYPE_DECL = "TYPE_DECL"
TYPE = "TYPE"
MEMBER = "MEMBER"
METHOD = "METHOD"
METHOD_PARAMETER_IN = "METHOD_PARAMETER_IN"
METHOD_PARAMETER_OUT = "METHOD_PARAMETER_OUT"
METHOD_RETURN = "METHOD_RETURN"
BLOCK = "BLOCK"
CALL = "CALL"
IDENTIFIER = "IDENTIFIER"
FIELD_IDENTIFIER = "FIELD_IDENTIFIER"
LITERAL = "LITERAL"
LOCAL = "LOCAL"
METHOD_REF = "METHOD_REF"
TYPE_REF = "TYPE_REF"
RETURN = "RETURN"
CONTROL_STRUCTURE = "CONTROL_STRUCTURE"
JUMP_TARGET = "JUMP_TARGET"
JUMP_LABEL = "JUMP_LABEL"
MODIFIER = "MODIFIER"
UNKNOWN = "UNKNOWN"
COMMENT = "COMMENT"
BINDING = "BINDING"  # vtable entry: (name, signature) -> METHOD (BindingTableAdapterImpls.scala)
IMPORT = "IMPORT"
FINDING = "FINDING"
ANNOTATION = "ANNOTATION"
ANNOTATION_PARAMETER_ASSIGN = "ANNOTATION_PARAMETER_ASSIGN"
ANNOTATION_PARAMETER = "ANNOTATION_PARAMETER"
ANNOTATION_LITERAL = "ANNOTATION_LITERAL"

# --------------------------------------------------------------------------- #
# Edge labels (reference: EdgeTypes.*, SURVEY.md §1.4)
# --------------------------------------------------------------------------- #
AST = "AST"
CFG = "CFG"
REF = "REF"
ARGUMENT = "ARGUMENT"
RECEIVER = "RECEIVER"
CONDITION = "CONDITION"
CALL_EDGE = "CALL"
CONTAINS = "CONTAINS"
REACHING_DEF = "REACHING_DEF"
CDG = "CDG"
DOMINATE = "DOMINATE"
POST_DOMINATE = "POST_DOMINATE"
EVAL_TYPE = "EVAL_TYPE"
INHERITS_FROM = "INHERITS_FROM"
ALIAS_OF = "ALIAS_OF"
BINDS = "BINDS"
SOURCE_FILE = "SOURCE_FILE"
PARAMETER_LINK = "PARAMETER_LINK"
CAPTURE = "CAPTURE"
DECLARES = "DECLARES"  # extracted from astParent links (SURVEY.md §2A footnote)
TAGGED_BY = "TAGGED_BY"

# Typed shortcut edges from control structures to their parts
# (reference Ast.scala:23-42 typedEdgeKinds; consumed by CfgCreator to avoid
# order-based guessing). We carry them as a `role` column set at parse time.
ROLE_CONDITION = "CONDITION"
ROLE_WHEN_TRUE = "WHEN_TRUE"
ROLE_WHEN_FALSE = "WHEN_FALSE"
ROLE_FOR_INIT = "FOR_INIT"
ROLE_FOR_UPDATE = "FOR_UPDATE"
ROLE_FOR_BODY = "FOR_BODY"
ROLE_DO_BODY = "DO_BODY"
ROLE_TRY_BODY = "TRY_BODY"
ROLE_CATCH_BODY = "CATCH_BODY"
ROLE_FINALLY_BODY = "FINALLY_BODY"
ROLE_JUMP_ARGUMENT = "JUMP_ARGUMENT"
ROLE_RECEIVER = "RECEIVER"

ROLE_EDGE_LABELS = {
    ROLE_CONDITION: "CONDITION",
    ROLE_WHEN_TRUE: "TRUE_BODY",
    ROLE_WHEN_FALSE: "FALSE_BODY",
    ROLE_FOR_INIT: "FOR_INIT",
    ROLE_FOR_UPDATE: "FOR_UPDATE",
    ROLE_FOR_BODY: "FOR_BODY",
    ROLE_DO_BODY: "DO_BODY",
    ROLE_TRY_BODY: "TRY_BODY",
    ROLE_CATCH_BODY: "CATCH_BODY",
    ROLE_FINALLY_BODY: "FINALLY_BODY",
    ROLE_JUMP_ARGUMENT: "JUMP_ARGUMENT",
    ROLE_RECEIVER: "RECEIVER",
}

# --------------------------------------------------------------------------- #
# Control structure types (reference ControlStructureTypes, CfgCreator.scala:155-187)
# --------------------------------------------------------------------------- #
CS_IF = "IF"
CS_ELSE = "ELSE"
CS_WHILE = "WHILE"
CS_DO = "DO"
CS_FOR = "FOR"
CS_GOTO = "GOTO"
CS_SWITCH = "SWITCH"
CS_TRY = "TRY"
CS_CATCH = "CATCH"
CS_FINALLY = "FINALLY"
CS_BREAK = "BREAK"
CS_CONTINUE = "CONTINUE"
CS_THROW = "THROW"
CS_MATCH = "MATCH"

# --------------------------------------------------------------------------- #
# Dispatch types (reference DispatchTypes)
# --------------------------------------------------------------------------- #
STATIC_DISPATCH = "STATIC_DISPATCH"
DYNAMIC_DISPATCH = "DYNAMIC_DISPATCH"
INLINED = "INLINED"

# --------------------------------------------------------------------------- #
# Sentinels (reference x2cpg Defines.scala:4-44)
# --------------------------------------------------------------------------- #
ANY = "ANY"
EMPTY = "<empty>"
GLOBAL = "<global>"
UNKNOWN_FULL_NAME = "<unknownFullName>"
UNRESOLVED_NAMESPACE = "<unresolvedNamespace>"
UNRESOLVED_SIGNATURE = "<unresolvedSignature>"
# x2cpg Defines.scala:43 — unresolvable record/field component name
UNKNOWN_FIELD = "<unknownField>"
CONSTRUCTOR = "<init>"
CONST_SUFFIX = "<const>"  # const member-function signature tag (c2cpg Defines.ConstSuffix)
STATIC_INIT = "<clinit>"
LAMBDA_PREFIX = "<lambda>"
PROGRAM_METHOD = ":program"  # jssrc per-file pseudo method

# --------------------------------------------------------------------------- #
# Operator lowering vocabulary (reference Operators.*; the C/C++ mapping table
# lives at c2cpg/.../AstForExpressionsCreator.scala:33-81). Shared across all
# frontends — names are part of triple equality.
# --------------------------------------------------------------------------- #
OP = "<operator>."
OP_ASSIGNMENT = OP + "assignment"
OP_FIELD_ACCESS = OP + "fieldAccess"
OP_INDIRECT_FIELD_ACCESS = OP + "indirectFieldAccess"
OP_INDEX_ACCESS = OP + "indexAccess"
OP_INDIRECT_INDEX_ACCESS = OP + "indirectIndexAccess"
OP_COMPUTED_MEMBER_ACCESS = OP + "computedMemberAccess"
OP_LOGICAL_AND = OP + "logicalAnd"
OP_LOGICAL_OR = OP + "logicalOr"
OP_LOGICAL_NOT = OP + "logicalNot"
OP_CONDITIONAL = OP + "conditional"
OP_ALLOC = OP + "alloc"
OP_NEW = OP + "new"
OP_CAST = OP + "cast"
OP_ARRAY_INITIALIZER = OP + "arrayInitializer"
OP_SIZEOF = OP + "sizeOf"
# call through a function-pointer expression (c2cpg Defines.OperatorPointerCall)
OP_POINTER_CALL = OP + "pointerCall"
OP_ADDRESS_OF = OP + "addressOf"
OP_INDIRECTION = OP + "indirection"
OP_INSTANCE_OF = OP + "instanceOf"
OP_FORMAT_STRING = OP + "formatString"
OP_DELETE = OP + "delete"
OP_NOT_NULL_ASSERT = OP + "notNullAssert"
# C++ `decltype(x)` (c2cpg Defines.OperatorTypeOf; AstCreationPassTests
# "decl assignment with typedecl")
OP_TYPE_OF = OP + "typeOf"

BINARY_OPERATOR_MAP = {
    # c2cpg AstForExpressionsCreator.scala:33-68 (OperatorMap)
    "*": OP + "multiplication",
    "/": OP + "division",
    "%": OP + "modulo",
    "+": OP + "addition",
    "-": OP + "subtraction",
    "<<": OP + "shiftLeft",
    ">>": OP + "arithmeticShiftRight",
    "<": OP + "lessThan",
    ">": OP + "greaterThan",
    "<=": OP + "lessEqualsThan",
    ">=": OP + "greaterEqualsThan",
    "&": OP + "and",
    "^": OP + "xor",
    "|": OP + "or",
    "&&": OP_LOGICAL_AND,
    "||": OP_LOGICAL_OR,
    "=": OP_ASSIGNMENT,
    "*=": OP + "assignmentMultiplication",
    "/=": OP + "assignmentDivision",
    "%=": OP + "assignmentModulo",
    "+=": OP + "assignmentPlus",
    "-=": OP + "assignmentMinus",
    "<<=": OP + "assignmentShiftLeft",
    ">>=": OP + "assignmentArithmeticShiftRight",
    "&=": OP + "assignmentAnd",
    "^=": OP + "assignmentXor",
    "|=": OP + "assignmentOr",
    "==": OP + "equals",
    "!=": OP + "notEquals",
}

ASSIGNMENT_OPS = frozenset(
    v for k, v in BINARY_OPERATOR_MAP.items() if k.endswith("=") and k not in ("==", "!=", "<=", ">=")
)

UNARY_OPERATOR_MAP = {
    # c2cpg AstForExpressionsCreator.scala:70-81 (UnaryOperatorMap)
    "++": OP + "preIncrement",
    "--": OP + "preDecrement",
    "+": OP + "plus",
    "-": OP + "minus",
    "*": OP_INDIRECTION,
    "&": OP_ADDRESS_OF,
    "~": OP + "not",
    "!": OP_LOGICAL_NOT,
    "sizeof": OP_SIZEOF,
}
POSTFIX_OPERATOR_MAP = {
    "++": OP + "postIncrement",
    "--": OP + "postDecrement",
}
OP_NOT_EQUALS = OP + "notEquals"

# --------------------------------------------------------------------------- #
# Evaluation strategies
# --------------------------------------------------------------------------- #
BY_VALUE = "BY_VALUE"
BY_REFERENCE = "BY_REFERENCE"
BY_SHARING = "BY_SHARING"

# --------------------------------------------------------------------------- #
# Spark schemas
# --------------------------------------------------------------------------- #

# Input table — exactly the BASELINE.json input_hint shape.
SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

# Raw parser output: one row per node, file-local indices; global ids are
# derived JVM-side with xxhash64 (deterministic, distributed-safe).
RAW_NODE_FIELDS = [
    ("repo", T.StringType()),
    ("path", T.StringType()),
    ("commit", T.StringType()),
    ("lang", T.StringType()),
    ("sha256", T.StringType()),       # per-row invariant vs input content
    ("node_idx", T.LongType()),       # preorder index within the file
    ("parent_idx", T.LongType()),     # -1 for roots
    ("method_idx", T.LongType()),     # enclosing METHOD node_idx, -1 outside
    ("ref_idx", T.LongType()),        # parse-time REF target (ident→local/param), -1
    ("kind", T.StringType()),
    ("name", T.StringType()),
    ("full_name", T.StringType()),
    ("signature", T.StringType()),
    ("code", T.StringType()),
    ("order", T.IntegerType()),       # 1-based child position
    ("arg_index", T.IntegerType()),   # ARGUMENT index; -1 = not an argument
    ("role", T.StringType()),         # typed shortcut edge kind, '' = plain AST child
    ("dispatch_type", T.StringType()),
    ("type_full_name", T.StringType()),
    ("method_full_name", T.StringType()),
    ("control_structure_type", T.StringType()),
    ("jump_label", T.StringType()),   # GOTO/labeled break target; '*' = computed goto
    ("canonical_name", T.StringType()),
    ("ast_parent_type", T.StringType()),
    ("ast_parent_full_name", T.StringType()),
    ("inherits_from", T.ArrayType(T.StringType())),
    ("alias_type_full_name", T.StringType()),
    ("evaluation_strategy", T.StringType()),
    ("param_index", T.IntegerType()),  # METHOD_PARAMETER_IN index; -1 unset
    ("is_variadic", T.BooleanType()),
    ("is_external", T.BooleanType()),
    ("nargs", T.IntegerType()),       # CALL rows: max ARGUMENT index (0 = none); -1 elsewhere.
                                      # Recorded at parse time so MethodStubCreator's arg-count
                                      # reconciliation (MethodStubCreator.scala:59-66) is a plain
                                      # groupBy over call sites instead of a 1.6M-row child
                                      # aggregation + join against the full node table.
    ("generic_signature", T.StringType()),  # JVM-style generic signature on
                                      # METHOD/TYPE_DECL/LOCAL/MEMBER (javasrc;
                                      # GenericSignatureTests.scala semantics:
                                      # declared source types, simple names)
    ("line", T.IntegerType()),
    ("line_end", T.IntegerType()),    # METHOD rows: closing-brace line (-1 unset);
                                      # numberOfLines = line_end - line + 1
                                      # (MethodMethods.scala:30-36)
    ("parse_error", T.StringType()),  # non-empty => file-level parse failure row
    # fused intraprocedural edges (CFG/DOMINATE/POST_DOMINATE/CDG/REACHING_DEF)
    # attached to METHOD rows as file-local idx pairs; exploded JVM-side.
    # Avoids re-shuffling the AST for the per-method passes: the parser already
    # holds the whole file (reference parallelism axis: per-method ForkJoin
    # parts, CfgCreationPass.scala:19 — here the file partition subsumes it).
    # Encoded as PARALLEL PRIMITIVE ARRAYS, not array<struct>: pandas→Arrow
    # conversion of list<int64>/list<int32> is a vectorized C path, whereas an
    # object column of Python dicts serializes one field at a time (measured
    # ~7s of a 16s parse stage on a 12k-file corpus before the change).
    ("ie_src", T.ArrayType(T.LongType())),
    ("ie_dst", T.ArrayType(T.LongType())),
    ("ie_label", T.ArrayType(T.IntegerType())),   # index into IE_LABELS
    ("ie_var", T.ArrayType(T.StringType())),      # REACHING_DEF variable, else None
]

# Label dictionary for the fused intraprocedural edge arrays; ie_label holds
# the array index (decoded JVM-side via element_at).
IE_LABELS = [CFG, DOMINATE, POST_DOMINATE, CDG, REACHING_DEF]
IE_CODE = {lbl: i for i, lbl in enumerate(IE_LABELS)}

RAW_NODE_SCHEMA = T.StructType([T.StructField(n, t, True) for n, t in RAW_NODE_FIELDS])

# Canonical nodes table (ids resolved). Partition keys (repo, lang) at sink.
NODE_ID_COLS = ["id", "parent_id", "method_id", "ref_id"]

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("variable", T.StringType(), True),
    ]
)

# CFG edge rows produced by the per-method control-flow stage: name-keyed so
# parity can be scored without ids (reference succOf oracle compares code
# strings, CfgTestFixture.scala:45-57).
CFG_EDGE_FIELDS = [
    ("repo", T.StringType()),
    ("path", T.StringType()),
    ("commit", T.StringType()),
    ("lang", T.StringType()),
    ("method_idx", T.LongType()),
    ("method_full_name", T.StringType()),
    ("src_idx", T.LongType()),
    ("dst_idx", T.LongType()),
    ("src_code", T.StringType()),
    ("dst_code", T.StringType()),
    ("edge_kind", T.StringType()),  # AlwaysEdge/TrueEdge/FalseEdge/CaseEdge
    ("label", T.StringType()),      # CFG / DOMINATE / POST_DOMINATE / CDG / REACHING_DEF
    ("variable", T.StringType()),   # REACHING_DEF variable property
]
CFG_EDGE_SCHEMA = T.StructType([T.StructField(n, t, True) for n, t in CFG_EDGE_FIELDS])


def raw_node(**kw):
    """A dict with every RAW_NODE_SCHEMA field, defaulted."""
    row = {
        "repo": None,
        "path": None,
        "commit": None,
        "lang": None,
        "sha256": None,
        "node_idx": -1,
        "parent_idx": -1,
        "method_idx": -1,
        "ref_idx": -1,
        "kind": None,
        "name": "",
        "full_name": "",
        "signature": "",
        "code": "",
        "order": 0,
        "arg_index": -1,
        "role": "",
        "dispatch_type": "",
        "type_full_name": ANY,
        "method_full_name": "",
        "control_structure_type": "",
        "jump_label": "",
        "canonical_name": "",
        "ast_parent_type": "",
        "ast_parent_full_name": "",
        "inherits_from": None,
        "alias_type_full_name": "",
        "evaluation_strategy": "",
        "param_index": -1,
        "is_variadic": False,
        "is_external": False,
        "nargs": -1,
        "generic_signature": "",
        "line": 0,
        "line_end": -1,
        "parse_error": "",
        "ie_src": None,
        "ie_dst": None,
        "ie_label": None,
        "ie_var": None,
    }
    row.update(kw)
    return row
