"""shacl_validator_spark — PySpark-native KG-construction + SHACL conformance engine.

A from-scratch rebuild of the *semantics* of mjanez/shacl-validator (a
single-threaded browser SHACL validator, see /root/reference) as an
idiomatic Spark DataFrame pipeline designed for 10^12-document scale:

- ``model``        — fixed columnar schemas for triples / violations / pages
                     (flattening the RDF/JS term model of
                     reference src/services/RDFService.ts:46-56).
- ``shapes``       — driver-side SHACL shape compiler: Turtle-subset parser →
                     broadcastable constraint table (reference
                     src/services/SHACLValidationService.ts:101-158).
- ``operators``    — the relational core: validation rule executor, report
                     analytics, dataset discovery joins, entity linking and
                     connected components.
- ``sources``      — pages synthesis, text/triple extraction (vectorized
                     Arrow UDFs), report Turtle/CSV sinks and parser.
- ``plans``        — end-to-end pipeline: extract → link → canonicalize →
                     validate → idempotent MERGE with lineage + checkpoints.

Everything is pure DataFrame/SQL except the explicitly-vectorized
extraction UDFs; no per-row Python anywhere on the hot path.
"""

__version__ = "0.1.0"
