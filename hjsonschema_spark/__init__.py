"""hjsonschema_spark — a PySpark-native constraint-validation engine.

Recasts the Draft-4 JSON-Schema validation vocabulary of the reference
(seagreen/hjsonschema, see /root/reference/src/JSONSchema/) as columnar
checks over large tables of multi-turn transcripts:

- row-level predicates (type / enum / pattern / bounds / length) compiled
  to Spark SQL expressions and fused into ONE pass per
  partition (reference analogue: ``JSONSchema.Types.validate`` concatMap,
  src/JSONSchema/Types.hs:20-26 — all validators run, all failures kept);
- table-scope checks (uniqueness, referential integrity, ordering,
  per-column stats, distribution drift) as aggregation / broadcast-join
  passes;
- a from-scratch Draft-4 validator (``hjsonschema_spark.draft4``) for
  pass/fail parity with the reference's JSON-Schema-Test-Suite corpus,
  also exposed as a vectorized pandas UDF for JSON columns.

Nothing here is a port: the reference is a single-threaded Haskell tree
interpreter; this engine compiles a check suite once on the driver into
a handful of Catalyst-optimized DataFrame jobs.
"""

from hjsonschema_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
