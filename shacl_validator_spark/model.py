"""Columnar data model: the fixed StructTypes every stage agrees on.

The reference keeps RDF quads as arrays of RDF/JS term objects
(``{termType, value, datatype?, language?}``; see reference
src/services/RDFService.ts:46-56 and
src/services/DataDiscoveryService.ts:103-106).  At Spark scale the same
information is one long-format **triples table** with the term fields
flattened to nullable string columns (SURVEY.md §1.3), and the
``sh:ValidationReport`` result rows (reference src/types.ts:27-50)
become a **violations table** with exactly the ``sh:ValidationResult``
fields the north star requires (focusNode, resultPath,
sourceConstraintComponent, ...).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- RDF vocabulary constants (public W3C namespaces) -----------------------

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
SH = "http://www.w3.org/ns/shacl#"
DCAT = "http://www.w3.org/ns/dcat#"
DCT = "http://purl.org/dc/terms/"
FOAF = "http://xmlns.com/foaf/0.1/"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"

SEVERITY_VIOLATION = "Violation"

# Sentinel constraint components emitted for degenerate inputs —
# reference SHACLValidationService.ts:359-396 & AppRouter.tsx:46-59.
SENTINEL_NO_SHAPES = "system:NoShapes"
SENTINEL_EMPTY_CONTENT = "system:EmptyContent"
SENTINEL_PARSE_ERROR = "system:ParseError"

# --- Triples table (the data graph) ----------------------------------------

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subject", T.StringType(), False),
        T.StructField("predicate", T.StringType(), False),
        T.StructField("object_value", T.StringType(), False),
        T.StructField("object_type", T.StringType(), False),  # iri|bnode|literal
        T.StructField("object_datatype", T.StringType(), True),
        T.StructField("object_lang", T.StringType(), True),
        T.StructField("graph", T.StringType(), True),  # source url
    ]
)

TRIPLE_COLUMNS = [f.name for f in TRIPLE_SCHEMA.fields]

# --- Violations table (sh:ValidationResult rows) ----------------------------

MESSAGE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )
)

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("focusNode", T.StringType(), True),
        T.StructField("resultPath", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("message", MESSAGE_SCHEMA, True),
        T.StructField("resultSeverity", T.StringType(), False),
        T.StructField("sourceConstraintComponent", T.StringType(), True),
        T.StructField("sourceShape", T.StringType(), True),
        # documentation link joined from the shapes graph (J4: foaf:page —
        # reference SHACLValidationService.ts:249-269)
        T.StructField("foafPage", T.StringType(), True),
    ]
)

VIOLATION_COLUMNS = [f.name for f in VIOLATION_SCHEMA.fields]

# --- Pages table (Common-Crawl-style input; BASELINE.json input_hint) -------

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# --- Constraint table (compiled shapes graph; FIXTURES.md §3) ---------------

# A "branch" is the compiled form of an inline/referenced shape used inside a
# logical constraint (sh:or / sh:and / sh:xone / sh:not), sh:node, or
# sh:qualifiedValueShape.  Simple per-value facets compile to the scalar
# fields; a shape with its own sh:property children compiles to nested
# definition rows (``nested_under``) and the branch carries only ``node_ref``
# — the validator resolves conformance via a recursive pass over the value
# nodes (operators/validate.py).  This replaces the reference's delegation
# to ``shacl-engine`` for full SHACL core
# (reference src/services/SHACLValidationService.ts:398-408).
BRANCH_SCHEMA = T.StructType(
    [
        T.StructField("datatype", T.StringType(), True),
        T.StructField("node_kind", T.StringType(), True),
        T.StructField("class_iri", T.StringType(), True),
        T.StructField("pattern", T.StringType(), True),
        T.StructField("min_length", T.IntegerType(), True),
        T.StructField("max_length", T.IntegerType(), True),
        # IRI/bnode id of a nested node shape with sh:property children;
        # conformance = zero results when validating the value node against
        # that shape's compiled rows
        T.StructField("node_ref", T.StringType(), True),
    ]
)

CONSTRAINT_SCHEMA = T.StructType(
    [
        T.StructField("constraint_id", T.LongType(), False),
        T.StructField("shape_iri", T.StringType(), False),
        # exactly one targeting mode is set per row: class-based (the
        # dominant DCAT-AP mode), subjects-of / objects-of a predicate, or
        # an explicit node
        T.StructField("target_class", T.StringType(), True),
        T.StructField("target_subjects_of", T.StringType(), True),
        T.StructField("target_objects_of", T.StringType(), True),
        T.StructField("target_node", T.StringType(), True),
        T.StructField("path", T.StringType(), True),  # rendered (F3): 'a/b', '(a | b)'
        # evaluable form: sequence of steps, each step a set of alternative
        # predicate IRIs — [[p]] for a direct path, [[a,b]] for (a | b),
        # [[p],[q]] for p/q sequence paths
        T.StructField("path_steps", T.ArrayType(T.ArrayType(T.StringType())), True),
        T.StructField("min_count", T.IntegerType(), True),
        T.StructField("max_count", T.IntegerType(), True),
        T.StructField("datatype", T.StringType(), True),
        # sh:or of pure-datatype branches (the common DCAT-AP
        # date-or-dateTime pattern) compiles to a datatype alternative list;
        # violations report sh:OrConstraintComponent
        T.StructField("datatype_in", T.ArrayType(T.StringType()), True),
        T.StructField("node_kind", T.StringType(), True),  # IRI|Literal|BlankNode
        T.StructField("pattern", T.StringType(), True),
        T.StructField("flags", T.StringType(), True),
        T.StructField("in_list", T.ArrayType(T.StringType()), True),
        T.StructField("class_iri", T.StringType(), True),
        T.StructField("min_inclusive", T.DoubleType(), True),
        T.StructField("max_inclusive", T.DoubleType(), True),
        T.StructField("min_exclusive", T.DoubleType(), True),
        T.StructField("max_exclusive", T.DoubleType(), True),
        # temporal forms of the four range facets (xsd:date/xsd:dateTime
        # literals, e.g. DCAT-AP issued-date floors): ISO lexical string,
        # cast with to_timestamp at evaluation; exactly one of the numeric/
        # temporal column pair is set per facet
        T.StructField("min_inclusive_ts", T.StringType(), True),
        T.StructField("max_inclusive_ts", T.StringType(), True),
        T.StructField("min_exclusive_ts", T.StringType(), True),
        T.StructField("max_exclusive_ts", T.StringType(), True),
        # sh:lessThan / sh:lessThanOrEquals — sibling property IRI whose
        # values every value node must be less than (/ or equal to); the
        # comparison follows SPARQL '<' domains (numeric, dateTime, string)
        T.StructField("less_than", T.StringType(), True),
        T.StructField("less_than_or_equals", T.StringType(), True),
        # sh:equals / sh:disjoint — sibling property IRI whose value SET
        # must equal / not intersect the path's value set (RDF-term identity)
        T.StructField("equals", T.StringType(), True),
        T.StructField("disjoint", T.StringType(), True),
        T.StructField("unique_lang", T.BooleanType(), True),
        T.StructField("language_in", T.ArrayType(T.StringType()), True),
        T.StructField("has_value", T.StringType(), True),
        T.StructField("min_length", T.IntegerType(), True),
        T.StructField("max_length", T.IntegerType(), True),
        # --- nested / logical SHACL surface (SHACL core §4.6-4.7) ---------
        # sh:node on the property shape (value nodes must conform)
        T.StructField("node_branch", BRANCH_SCHEMA, True),
        # general sh:or / sh:and / sh:xone branch lists (pure-datatype sh:or
        # lists keep compiling to datatype_in — the cheaper column-only path)
        T.StructField("or_branches", T.ArrayType(BRANCH_SCHEMA), True),
        T.StructField("and_branches", T.ArrayType(BRANCH_SCHEMA), True),
        T.StructField("xone_branches", T.ArrayType(BRANCH_SCHEMA), True),
        T.StructField("not_branch", BRANCH_SCHEMA, True),
        # sh:qualifiedValueShape with qualifiedMin/MaxCount
        T.StructField("qvs_branch", BRANCH_SCHEMA, True),
        T.StructField("q_min_count", T.IntegerType(), True),
        T.StructField("q_max_count", T.IntegerType(), True),
        # sh:qualifiedValueShapesDisjoint: when true, a value node counts
        # toward the qualified cardinality only if it does NOT conform to
        # any sibling qualified value shape (the qualified shapes of the
        # parent node shape's OTHER property shapes, SHACL core §4.5.3) —
        # the compiler wires the sibling branches onto the row
        T.StructField("qvs_disjoint", T.BooleanType(), True),
        T.StructField("qvs_sibling_branches", T.ArrayType(BRANCH_SCHEMA), True),
        # sh:closed node-shape row (no path): every (focus, p, o) whose p is
        # outside ``closed_allowed`` (the shape's property paths plus
        # sh:ignoredProperties) is a violation with resultPath = p
        T.StructField("closed", T.BooleanType(), True),
        T.StructField("closed_allowed", T.ArrayType(T.StringType()), True),
        # set on definition rows of a nested node shape: the shape IRI/bnode
        # this row belongs to; such rows have no target_* and are evaluated
        # only via node_ref references (dynamic targets = parent value nodes)
        T.StructField("nested_under", T.StringType(), True),
        # sh:sparql SELECT constraint (SHACL §5.3): the query text plus the
        # resolved prefix table it compiles under (shapes/sparql.py).  Kept
        # in the exported schema so constraints_df round-trips sh:sparql
        # rows instead of silently dropping them (r3 ADVICE #2)
        T.StructField("sparql_select", T.StringType(), True),
        T.StructField(
            "sparql_prefixes", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField("severity", T.StringType(), False),
        T.StructField("messages", MESSAGE_SCHEMA, True),
        T.StructField("foaf_page", T.StringType(), True),
    ]
)
