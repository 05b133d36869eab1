"""Check IR — the engine's schema language.

The analogue of the reference's ``Schema`` record
(src/JSONSchema/Draft4/Schema.hs:15-65): a JSON-round-trippable tree of
check nodes, self-validated before compilation (the meta-schema
analogue, src/JSONSchema/Draft4.hs:134-148), with named-suite ``Ref``
nodes resolved at compile time with lateral cycle detection (the $ref
analogue, src/JSONSchema/Validator/Draft4/Any.hs:56-98).

Row-level checks compile to guarded boolean Spark SQL expressions and
are fused into ONE projection per table pass; table-level checks
compile to aggregation / window / broadcast-join passes. Keyword
semantics mirror the reference per SURVEY.md §2 (e.g. NULL input =>
vacuous pass, the columnar analogue of type-mismatch => pass,
src/JSONSchema/Validator/Draft4.hs:28-33).
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass, field, fields
from typing import Any, ClassVar


class ConfigInvalid(Exception):
    """Check-suite config failed self-validation (SchemaInvalid analogue)."""


_KIND_REGISTRY: dict[str, type] = {}


def _register(cls):
    _KIND_REGISTRY[cls.kind] = cls
    return cls


@dataclass(frozen=True)
class Check:
    kind: ClassVar[str] = "abstract"

    def to_dict(self) -> dict[str, Any]:
        d: dict[str, Any] = {"kind": self.kind}
        for f in fields(self):
            v = getattr(self, f.name)
            if isinstance(v, Check):
                v = v.to_dict()
            elif isinstance(v, (list, tuple)) and v and isinstance(v[0], Check):
                v = [c.to_dict() for c in v]
            elif isinstance(v, tuple):
                v = list(v)
            d[f.name] = v
        return d

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "Check":
        d = dict(d)
        kind = d.pop("kind", None)
        cls = _KIND_REGISTRY.get(kind)
        if cls is None:
            raise ConfigInvalid(f"unknown check kind: {kind!r}")
        kw = {}
        for f in fields(cls):
            if f.name not in d:
                continue
            v = d[f.name]
            if isinstance(v, dict) and "kind" in v:
                v = Check.from_dict(v)
            elif isinstance(v, list) and v and isinstance(v[0], dict) and "kind" in v[0]:
                v = tuple(Check.from_dict(x) for x in v)
            elif isinstance(v, list):
                v = tuple(v)
            kw[f.name] = v
        extra = set(d) - {f.name for f in fields(cls)}
        if extra:
            raise ConfigInvalid(f"{kind}: unknown fields {sorted(extra)}")
        try:
            return cls(**kw)
        except TypeError as e:
            raise ConfigInvalid(f"{kind}: {e}") from e

    def validate_config(self) -> None:
        """Self-check; subclasses extend. Raises ConfigInvalid."""

    def children(self) -> tuple["Check", ...]:
        return ()

    def map_children(self, fn) -> "Check":
        """This node with ``fn`` applied to every child check: each
        Check field and each member of a tuple-of-Check field. A node
        without children is returned as is."""
        new = {}
        for f in fields(self):
            v = getattr(self, f.name)
            if isinstance(v, Check):
                new[f.name] = fn(v)
            elif isinstance(v, tuple) and v and isinstance(v[0], Check):
                new[f.name] = tuple(map(fn, v))
        return dataclasses.replace(self, **new) if new else self


# --------------------------------------------------------------------------
# row-level checks (compile to one fused Column pass)
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class RowCheck(Check):
    """Base: checks evaluable per-row from that row's columns alone."""


@_register
@dataclass(frozen=True)
class Required(RowCheck):
    """Column must be non-null (reference `required`, Object.hs:96-106)."""
    kind: ClassVar[str] = "required"
    column: str = ""

    def validate_config(self):
        if not self.column:
            raise ConfigInvalid("required: column must be set")


@_register
@dataclass(frozen=True)
class Enum(RowCheck):
    """Value in an inline vocabulary (reference `enum`, Any.hs:239-243).
    Non-unique vocabulary => vacuous pass, matching the reference quirk.
    NULL => vacuous pass. For big vocabularies use RefIntegrity."""
    kind: ClassVar[str] = "enum"
    column: str = ""
    values: tuple = ()

    def validate_config(self):
        if not self.column:
            raise ConfigInvalid("enum: column must be set")
        if not self.values:
            raise ConfigInvalid("enum: values must be non-empty")


@_register
@dataclass(frozen=True)
class Bounds(RowCheck):
    """min/max with exclusivity flags (Number.hs:49-83). Either side
    optional. NULL => pass."""
    kind: ClassVar[str] = "bounds"
    column: str = ""
    min: float | int | None = None
    max: float | int | None = None
    exclusive_min: bool = False
    exclusive_max: bool = False

    def validate_config(self):
        if not self.column:
            raise ConfigInvalid("bounds: column must be set")
        if self.min is None and self.max is None:
            raise ConfigInvalid("bounds: at least one of min/max")


@_register
@dataclass(frozen=True)
class Length(RowCheck):
    """String length in code points (String.hs:25-49; Spark `length`
    counts code points too)."""
    kind: ClassVar[str] = "length"
    column: str = ""
    min_len: int | None = None
    max_len: int | None = None

    def validate_config(self):
        if not self.column:
            raise ConfigInvalid("length: column must be set")
        if self.min_len is None and self.max_len is None:
            raise ConfigInvalid("length: at least one of min_len/max_len")


@_register
@dataclass(frozen=True)
class Pattern(RowCheck):
    """Unanchored regex search (String.hs:68-77). mode='rlike' uses the
    JVM regex (codegen, fast path); mode='pcre' uses a vectorized
    pandas UDF with Python `re` precompiled once per batch — the parity
    mode for PCRE-specific syntax."""
    kind: ClassVar[str] = "pattern"
    column: str = ""
    regex: str = ""
    mode: str = "rlike"

    def validate_config(self):
        if not self.column or not self.regex:
            raise ConfigInvalid("pattern: column and regex must be set")
        if self.mode not in ("rlike", "pcre"):
            raise ConfigInvalid(f"pattern: bad mode {self.mode!r}")
        import re

        try:
            re.compile(self.regex)
        except re.error as e:
            # reference surfaces uncompilable `pattern` as a failure at
            # validation time; config-time rejection is our stricter
            # schema-check analogue
            raise ConfigInvalid(f"pattern: unusable regex {self.regex!r}: {e}")


@_register
@dataclass(frozen=True)
class MultipleOf(RowCheck):
    """x is an integer multiple of n; n <= 0 => vacuous pass
    (Number.hs:25-29). Decimal math to keep 0.0075 % 0.0001 exact."""
    kind: ClassVar[str] = "multiple_of"
    column: str = ""
    n: float | int = 1

    def validate_config(self):
        if not self.column:
            raise ConfigInvalid("multiple_of: column must be set")


@_register
@dataclass(frozen=True)
class NotNullIf(RowCheck):
    """Property dependency (Object.hs:177-183): when `when_column` ==
    `equals`, `column` must be non-null; and when `only` is True, the
    converse: `column` must be null otherwise."""
    kind: ClassVar[str] = "not_null_if"
    column: str = ""
    when_column: str = ""
    equals: Any = None
    only: bool = False

    def validate_config(self):
        if not self.column or not self.when_column:
            raise ConfigInvalid("not_null_if: column and when_column must be set")


@_register
@dataclass(frozen=True)
class DependentSchema(RowCheck):
    """Schema-form dependency (Object.hs:160-183): when `when_column`
    is present (non-null — the columnar analogue of "key k present"),
    the WHOLE ROW must satisfy every child check; when absent, vacuous
    pass. First-class IR (config-validated, stable check id) replacing
    the raw-SQL `Custom` escape hatch for this shape. Child checks may
    reference any column, not just `when_column` — mirroring the
    reference validating the whole object against the subschema
    (Object.hs:173-176)."""
    kind: ClassVar[str] = "dependent_schema"
    when_column: str = ""
    checks: tuple = ()

    def children(self):
        return self.checks

    def validate_config(self):
        if not self.when_column:
            raise ConfigInvalid("dependent_schema: when_column must be set")
        if not self.checks:
            raise ConfigInvalid("dependent_schema: checks must be non-empty")
        for c in self.checks:
            if not isinstance(c, RowCheck):
                raise ConfigInvalid(
                    "dependent_schema: children must be row checks, got "
                    f"{type(c).__name__}"
                )


@_register
@dataclass(frozen=True)
class ArraySize(RowCheck):
    """maxItems/minItems on an array column (Array.hs:28-55).
    NULL array => vacuous pass."""
    kind: ClassVar[str] = "array_size"
    column: str = ""
    min_items: int | None = None
    max_items: int | None = None

    def validate_config(self):
        if not self.column:
            raise ConfigInvalid("array_size: column must be set")
        if self.min_items is None and self.max_items is None:
            raise ConfigInvalid("array_size: at least one bound")


@_register
@dataclass(frozen=True)
class ArrayUnique(RowCheck):
    """uniqueItems at row scope (Array.hs:73-77): all elements of the
    array column distinct. Spark equality is typed; set
    numeric_canonical=True to compare after decimal canonicalization,
    giving the reference's MATHEMATICAL equality (1 == 1.0 == 1.00,
    Utils.hs:94-119 / the uniqueItems.json corpus case) on numeric or
    numeric-string arrays."""
    kind: ClassVar[str] = "array_unique"
    column: str = ""
    numeric_canonical: bool = False

    def validate_config(self):
        if not self.column:
            raise ConfigInvalid("array_unique: column must be set")


@_register
@dataclass(frozen=True)
class ArrayForAll(RowCheck):
    """`items` (object form, Array.hs:156-161): every element satisfies
    a SQL predicate over the element variable `x`."""
    kind: ClassVar[str] = "array_forall"
    column: str = ""
    element_predicate: str = ""  # SQL expr over `x`, e.g. "x > 0"

    def validate_config(self):
        if not self.column or not self.element_predicate:
            raise ConfigInvalid("array_forall: column and element_predicate must be set")


@_register
@dataclass(frozen=True)
class NonNullCount(RowCheck):
    """max/minProperties lifted to fixed-schema rows (Object.hs:34-67):
    the number of non-null values among `columns` (the row's "present
    properties") must lie within [min_count, max_count]."""
    kind: ClassVar[str] = "non_null_count"
    columns: tuple = ()
    min_count: int | None = None
    max_count: int | None = None

    def validate_config(self):
        if not self.columns:
            raise ConfigInvalid("non_null_count: columns must be non-empty")
        if self.min_count is None and self.max_count is None:
            raise ConfigInvalid("non_null_count: at least one bound")


@_register
@dataclass(frozen=True)
class MapSize(RowCheck):
    """max/minProperties on a MapType column (Object.hs:34-67): the
    entry count must lie within [min_props, max_props]. NULL map =>
    vacuous pass (type-mismatch => pass, Draft4.hs:28-33)."""
    kind: ClassVar[str] = "map_size"
    column: str = ""
    min_props: int | None = None
    max_props: int | None = None

    def validate_config(self):
        if not self.column:
            raise ConfigInvalid("map_size: column must be set")
        if self.min_props is None and self.max_props is None:
            raise ConfigInvalid("map_size: at least one bound")


@_register
@dataclass(frozen=True)
class MapRequiredKeys(RowCheck):
    """`required` over MapType DATA keys (Object.hs:96-106): every key
    in `keys` must be present in the map column. NULL map => vacuous
    pass (type-mismatch => pass, Draft4.hs:28-33); the violation value
    reports the missing keys (the reference's `RequiredInvalid _
    leftovers _` detail)."""
    kind: ClassVar[str] = "map_required_keys"
    column: str = ""
    keys: tuple = ()

    def validate_config(self):
        if not self.column or not self.keys:
            raise ConfigInvalid("map_required_keys: column and keys must be set")


@_register
@dataclass(frozen=True)
class MapKeysAllowed(RowCheck):
    """additionalProperties over MapType DATA keys (Properties.hs:
    175-209): the remainder — entries whose key is in neither `keys`
    nor matched by any `patterns` regex (the patternProperties
    remainder rule, "additional" = matched by NEITHER) — is governed by
    `additional`: 'none' (fail iff the remainder is non-empty,
    additionalProperties=false) or a SQL predicate over the entry VALUE
    variable `x` applied to every remainder value
    (additionalProperties=schema, Properties.hs:199-209).

    Uncompilable `patterns` regexes are skipped silently
    (Properties.hs:150-155) — they simply match nothing. NULL map =>
    vacuous pass. The violation value reports the offending keys."""
    kind: ClassVar[str] = "map_keys_allowed"
    column: str = ""
    keys: tuple = ()
    patterns: tuple = ()
    additional: str = "none"

    def validate_config(self):
        if not self.column:
            raise ConfigInvalid("map_keys_allowed: column must be set")
        if not self.keys and not self.patterns:
            raise ConfigInvalid("map_keys_allowed: keys or patterns must be set")
        if not self.additional:
            raise ConfigInvalid(
                "map_keys_allowed: additional must be 'none' or a SQL predicate over x"
            )


@_register
@dataclass(frozen=True)
class MapPatternValues(RowCheck):
    """patternProperties over MapType DATA keys (Properties.hs:119-172):
    every entry whose KEY matches `key_regex` must have a VALUE
    satisfying the SQL predicate over `x`. An uncompilable regex makes
    the check vacuous (that pattern is skipped silently,
    Properties.hs:150-155 — contrast `pattern` on data, which fails).
    NULL map => vacuous pass. The violation value reports the keys
    whose values failed."""
    kind: ClassVar[str] = "map_pattern_values"
    column: str = ""
    key_regex: str = ""
    value_predicate: str = ""  # SQL expr over `x`, e.g. "cast(x as bigint) >= 0"

    def validate_config(self):
        if not self.column or not self.key_regex or not self.value_predicate:
            raise ConfigInvalid(
                "map_pattern_values: column, key_regex, value_predicate must be set"
            )


@_register
@dataclass(frozen=True)
class ArrayPositional(RowCheck):
    """items (array form) + additionalItems (Array.hs:162-167,
    209-225): the i-th SQL predicate (over element variable `x`)
    validates the i-th element when present — a missing element passes.
    Elements beyond the list are governed by `additional`: 'any' (pass,
    additionalItems=true), 'none' (fail iff any remainder exists,
    additionalItems=false), or a SQL predicate over `x` applied to
    every remaining element (additionalItems=schema)."""
    kind: ClassVar[str] = "array_positional"
    column: str = ""
    element_predicates: tuple = ()
    additional: str = "any"

    def validate_config(self):
        if not self.column:
            raise ConfigInvalid("array_positional: column must be set")
        if not self.element_predicates and self.additional == "any":
            raise ConfigInvalid("array_positional: no predicates and additional='any'")


#: draft-4 `type` names → predicate over a Spark simpleString. `integer`
#: is any integral Spark type; `number` additionally admits the floating
#: and decimal families (a Spark int column IS a JSON number, mirroring
#: Any.hs:338-341 where integer is a Number with isInteger).
_JSON_TYPE_FAMILIES = {
    "string": lambda t: t == "string",
    "boolean": lambda t: t == "boolean",
    "integer": lambda t: t in ("tinyint", "smallint", "int", "bigint"),
    "number": lambda t: t in ("tinyint", "smallint", "int", "bigint", "float", "double")
    or t.startswith("decimal"),
    "array": lambda t: t.startswith("array<"),
    "object": lambda t: t.startswith("map<") or t.startswith("struct<"),
    "null": lambda t: t == "void",
}


def json_type_matches(json_type: str, spark_simple: str) -> bool:
    """Does a Spark type (simpleString) belong to a draft-4 type family?"""
    return _JSON_TYPE_FAMILIES[json_type](spark_simple)


@_register
@dataclass(frozen=True)
class TypeIs(RowCheck):
    """`type` keyword lifted to schema conformance: the column's
    declared Spark type must match (checked at compile time against
    df.schema — a static check, no per-row work, like the reference
    classifying the value's type, Any.hs:320-341). Either an exact
    Spark simpleString (`type_name`) or a draft-4 type family
    (`json_type`, e.g. "integer" matches any integral Spark type)."""
    kind: ClassVar[str] = "type_is"
    column: str = ""
    type_name: str = ""  # Spark simpleString, e.g. "string", "int", "array<float>"
    json_type: str = ""  # draft-4 family name; mutually exclusive with type_name

    def validate_config(self):
        if not self.column or not (bool(self.type_name) ^ bool(self.json_type)):
            raise ConfigInvalid(
                "type_is: column and exactly one of type_name/json_type must be set"
            )
        if self.json_type and self.json_type not in _JSON_TYPE_FAMILIES:
            raise ConfigInvalid(f"type_is: unknown json_type {self.json_type!r}")


@_register
@dataclass(frozen=True)
class Custom(RowCheck):
    """Escape hatch: a SQL boolean expression over the row. The
    analogue of the reference's user-composable Specs (README.md:3)."""
    kind: ClassVar[str] = "custom"
    name: str = ""
    expr: str = ""

    def validate_config(self):
        if not self.name or not self.expr:
            raise ConfigInvalid("custom: name and expr must be set")


@_register
@dataclass(frozen=True)
class AllOf(RowCheck):
    kind: ClassVar[str] = "all_of"
    checks: tuple = ()

    def children(self):
        return self.checks

    def validate_config(self):
        if not self.checks:
            raise ConfigInvalid("all_of: checks must be non-empty")


@_register
@dataclass(frozen=True)
class AnyOf(RowCheck):
    kind: ClassVar[str] = "any_of"
    checks: tuple = ()

    def children(self):
        return self.checks

    def validate_config(self):
        if not self.checks:
            raise ConfigInvalid("any_of: checks must be non-empty")


@_register
@dataclass(frozen=True)
class OneOf(RowCheck):
    """Exactly one branch passes (Any.hs:435-482)."""
    kind: ClassVar[str] = "one_of"
    checks: tuple = ()

    def children(self):
        return self.checks

    def validate_config(self):
        if not self.checks:
            raise ConfigInvalid("one_of: checks must be non-empty")


@_register
@dataclass(frozen=True)
class Not(RowCheck):
    kind: ClassVar[str] = "not"
    check: Check | None = None

    def children(self):
        return (self.check,) if self.check else ()

    def validate_config(self):
        if self.check is None:
            raise ConfigInvalid("not: check must be set")


@_register
@dataclass(frozen=True)
class Ref(RowCheck):
    """Reference to a named suite in the registry ($ref analogue).
    Siblings-excluded by construction (a Ref node has no other fields,
    mirroring disableIfRefPresent, Spec.hs:129-133)."""
    kind: ClassVar[str] = "ref"
    suite: str = ""

    def validate_config(self):
        if not self.suite:
            raise ConfigInvalid("ref: suite must be set")


# --------------------------------------------------------------------------
# schema-scope checks (resolved statically against df.schema — no rows)
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class SchemaCheck(Check):
    """Base: checks resolved at compile time against the table's
    schema, producing schema-scope verdicts or expanded row checks —
    zero per-row work."""


@_register
@dataclass(frozen=True)
class ColumnsAllowed(SchemaCheck):
    """additionalProperties=false lifted to schema scope
    (Properties.hs:175-209): every table column must be declared in
    `columns` or matched by one of the `patterns` regexes (the
    patternProperties remainder rule — "additional" = matched by
    NEITHER). A non-empty remainder fails the check; this catches the
    most common production schema regression, an undeclared column
    appearing. Uncompilable patterns are skipped silently
    (Properties.hs:150-155)."""
    kind: ClassVar[str] = "columns_allowed"
    columns: tuple = ()
    patterns: tuple = ()

    def validate_config(self):
        if not self.columns and not self.patterns:
            raise ConfigInvalid("columns_allowed: columns or patterns must be set")


@_register
@dataclass(frozen=True)
class PatternColumns(SchemaCheck):
    """patternProperties lifted to compile time (Properties.hs:119-172):
    the row-check template `check` is instantiated once per table
    column whose NAME matches `name_regex` (regex applied to column
    names, not data). An uncompilable regex is skipped silently,
    mirroring the reference (contrast `pattern` on data, which
    fails)."""
    kind: ClassVar[str] = "pattern_columns"
    name_regex: str = ""
    check: Check | None = None

    def validate_config(self):
        # children() deliberately returns (): the template's `column`
        # is empty until expansion, so it is validated here with a
        # placeholder instead of by the generic suite walk
        if not self.name_regex or self.check is None:
            raise ConfigInvalid("pattern_columns: name_regex and check must be set")
        if not isinstance(self.check, RowCheck) or "column" not in {
            f.name for f in fields(type(self.check))
        }:
            raise ConfigInvalid(
                "pattern_columns: check must be a row check with a `column` field"
            )
        dataclasses.replace(self.check, column="_template_").validate_config()


@_register
@dataclass(frozen=True)
class RemainderColumns(SchemaCheck):
    """additionalProperties=SCHEMA lifted to column scope
    (Properties.hs:199-209): the row-check template `check` is
    instantiated at compile time for every table column matched by
    NEITHER `columns` nor any `patterns` regex (the same remainder rule
    ColumnsAllowed enforces for additionalProperties=false).
    Uncompilable patterns are skipped silently (Properties.hs:150-155).
    """
    kind: ClassVar[str] = "remainder_columns"
    columns: tuple = ()
    patterns: tuple = ()
    check: Check | None = None

    def validate_config(self):
        # same template convention as PatternColumns: `column` is empty
        # until expansion, validated with a placeholder
        if self.check is None:
            raise ConfigInvalid("remainder_columns: check must be set")
        if not isinstance(self.check, RowCheck) or "column" not in {
            f.name for f in fields(type(self.check))
        }:
            raise ConfigInvalid(
                "remainder_columns: check must be a row check with a `column` field"
            )
        dataclasses.replace(self.check, column="_template_").validate_config()


# --------------------------------------------------------------------------
# table-level checks (aggregation / window / join passes)
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class TableCheck(Check):
    """Base: checks requiring cross-row context."""


@_register
@dataclass(frozen=True)
class UniqueKey(TableCheck):
    """Table-wide uniqueness on a key tuple — `uniqueItems` lifted to
    table scope (Array.hs:73-77 → groupBy-having)."""
    kind: ClassVar[str] = "unique_key"
    columns: tuple = ()

    def validate_config(self):
        if not self.columns:
            raise ConfigInvalid("unique_key: columns must be non-empty")


@_register
@dataclass(frozen=True)
class RefIntegrity(TableCheck):
    """Referential integrity of column(s) against a vocabulary table —
    `enum` lifted to a broadcast left-anti join (Any.hs:239-243 lifted).
    NULLs pass (use Required for null policy)."""
    kind: ClassVar[str] = "ref_integrity"
    columns: tuple = ()
    ref_name: str = ""  # key into the engine's vocab-table dict
    ref_columns: tuple = ()  # defaults to `columns`

    def validate_config(self):
        if not self.columns or not self.ref_name:
            raise ConfigInvalid("ref_integrity: columns and ref_name must be set")


@_register
@dataclass(frozen=True)
class Contiguous(TableCheck):
    """Per-group order column must be exactly start..start+n-1 with no
    gaps/dups. Aggregate-only formulation (no window, partial-agg
    friendly): min==start AND max-min+1==count AND count==distinct."""
    kind: ClassVar[str] = "contiguous"
    order_column: str = ""
    group_by: tuple = ()
    start: int = 0

    def validate_config(self):
        if not self.order_column or not self.group_by:
            raise ConfigInvalid("contiguous: order_column and group_by must be set")


@_register
@dataclass(frozen=True)
class Monotonic(TableCheck):
    """Column non-decreasing (or strictly increasing) per group in the
    order of `order_by` — window lag pass."""
    kind: ClassVar[str] = "monotonic"
    column: str = ""
    group_by: tuple = ()
    order_by: tuple = ()
    strict: bool = False

    def validate_config(self):
        if not self.column or not self.group_by or not self.order_by:
            raise ConfigInvalid("monotonic: column, group_by, order_by must be set")


@_register
@dataclass(frozen=True)
class FunctionalDependency(TableCheck):
    """determinant → dependent: every distinct determinant tuple must
    map to exactly ONE distinct dependent tuple (the classic FD /
    consistency check — "a conv_id has one user", "an order has one
    status"). The `dependencies` keyword (Object.hs:160-183) ties keys
    within one document; this is its table lift: agreement of the
    dependent columns ACROSS all rows sharing a determinant.

    Violations are GROUP-scoped (one row per inconsistent determinant
    group, like Contiguous): key columns not in the determinant are
    NULL, value = the number of distinct dependent tuples observed.
    Output is bounded by #groups, never by #rows.

    NULL semantics: a dependent tuple whose fields are NULL is a value
    (two rows with dependent NULL agree; NULL vs 'x' disagree) —
    grouping-style equality in both Spark and the DuckDB oracle.
    """
    kind: ClassVar[str] = "functional_dependency"
    determinant: tuple = ()
    dependent: tuple = ()

    def validate_config(self):
        if not self.determinant or not self.dependent:
            raise ConfigInvalid(
                "functional_dependency: determinant and dependent must be non-empty"
            )
        overlap = set(self.determinant) & set(self.dependent)
        if overlap:
            raise ConfigInvalid(
                f"functional_dependency: columns {sorted(overlap)} appear on both sides"
            )


@_register
@dataclass(frozen=True)
class SequencePattern(TableCheck):
    """Per-group ORDERED value sequence must match a regex — `pattern`
    (String.hs:37-53) lifted from one string to a conversation's shape:
    concatenate `column` per `group_by` group in `order_by` order with
    `separator`, then apply the regex. The transcript-native check the
    whole engine exists for: "roles must go system? then (user,
    assistant|tool)*", "no purchase event before signup", etc.

    Draft-4 pattern semantics kept: UNANCHORED search (anchor with ^$
    yourself), violation when the regex does NOT match. NULL values do
    not contribute a token (collect_list and the SQL string_agg oracle
    both skip NULLs — the reference's NULL => vacuous element rule).
    Keep regexes in the Java/RE2 common subset for oracle parity.

    Scale shape: ONE hash aggregation on group_by (collect_list is not
    partial-agg-friendly, but the shuffled payload is one value+order
    tuple per row — same order of bytes as any per-group sort); the
    regex runs once per GROUP, not per row. Violations are group-scoped
    (other key columns NULL), value = the sequence truncated to
    `max_value_len`. Ordering inside a group is made total by
    tie-breaking on the value itself (sort_array over
    struct(order_by..., value)); give a total order_by for stable
    sequences.
    """
    kind: ClassVar[str] = "sequence_pattern"
    column: str = ""
    group_by: tuple = ()
    order_by: tuple = ()
    regex: str = ""
    separator: str = ","
    max_value_len: int = 256

    def validate_config(self):
        if not self.column or not self.group_by or not self.order_by:
            raise ConfigInvalid(
                "sequence_pattern: column, group_by, order_by must be set"
            )
        if not self.regex:
            raise ConfigInvalid("sequence_pattern: regex must be set")
        import re as _re

        try:
            _re.compile(self.regex)
        except _re.error as e:
            raise ConfigInvalid(f"sequence_pattern: bad regex: {e}")
        if self.max_value_len <= 0:
            raise ConfigInvalid("sequence_pattern: max_value_len must be positive")


@_register
@dataclass(frozen=True)
class GroupAggBounds(TableCheck):
    """Per-GROUP aggregate bound: agg(column) within [min, max] for
    every group — AggBounds sharded by group_by ("every conversation
    has <= 4096 turns", "per-conversation token sum <= budget").
    `maximum`/`minimum` (Number.hs:49-83) lifted to group statistics.

    One hash aggregation (map-side partial for all supported aggs);
    violations are GROUP-scoped rows (bounded by #groups), value = the
    offending statistic. NULL statistic (all-NULL group) => vacuous
    pass, the reference's type-mismatch rule (Draft4.hs:28-33).
    """
    kind: ClassVar[str] = "group_agg_bounds"
    column: str = ""
    agg: str = "count"  # avg | min | max | sum | count | count_distinct | stddev
    group_by: tuple = ()
    min: float | None = None
    max: float | None = None

    _AGGS = ("avg", "min", "max", "sum", "count", "count_distinct", "stddev")

    def validate_config(self):
        if not self.column or not self.group_by:
            raise ConfigInvalid("group_agg_bounds: column and group_by must be set")
        if self.agg not in self._AGGS:
            raise ConfigInvalid(f"group_agg_bounds: agg must be one of {self._AGGS}")
        if self.min is None and self.max is None:
            raise ConfigInvalid("group_agg_bounds: at least one of min/max must be set")
        if self.min is not None and self.max is not None and self.min > self.max:
            raise ConfigInvalid("group_agg_bounds: min must be <= max")


@_register
@dataclass(frozen=True)
class NullRateMax(TableCheck):
    """Aggregate-level null-rate bound on a column."""
    kind: ClassVar[str] = "null_rate_max"
    column: str = ""
    max_rate: float = 0.0

    def validate_config(self):
        if not self.column:
            raise ConfigInvalid("null_rate_max: column must be set")
        if not (0.0 <= self.max_rate <= 1.0):
            raise ConfigInvalid("null_rate_max: max_rate must be in [0,1]")


@_register
@dataclass(frozen=True)
class AggBounds(TableCheck):
    """Aggregate-level bound on a column statistic: agg(column) must
    lie within [min, max] — `maximum`/`minimum` (Number.hs:49-83)
    lifted from a row value to a table statistic ("mean discount in
    [0.02, 0.08]", "distinct orders >= 1000"). One table-scope verdict
    row; ALL AggBounds + NullRateMax checks in a suite fold into ONE
    lazy aggregation pass (column-pruned scan, partial+final agg).

    NULL statistic (empty table, or all-NULL column for avg/min/max)
    ⇒ vacuous pass, mirroring the reference's type-mismatch rule
    (Draft4.hs:28-33); use Required/NullRateMax for null policy.
    """
    kind: ClassVar[str] = "agg_bounds"
    column: str = ""
    agg: str = "avg"  # avg | min | max | sum | count | count_distinct | stddev
    #                 # | quantile | approx_quantile (set `quantile` too)
    min: float | None = None
    max: float | None = None
    # for agg in {quantile, approx_quantile}: which quantile (0..1).
    # `quantile` is exact linear-interpolation percentile (SQL
    # percentile / quantile_cont) — one extra shuffle of the column's
    # values, use for oracled small/medium tables. `approx_quantile` is
    # the 100-TB path: Greenwald-Khanna sketch (percentile_approx,
    # relative error 1/accuracy), map-side combinable, no value shuffle.
    quantile: float | None = None
    accuracy: int = 10000  # approx_quantile sketch accuracy knob

    _AGGS = (
        "avg", "min", "max", "sum", "count", "count_distinct", "stddev",
        "quantile", "approx_quantile",
    )

    def validate_config(self):
        if not self.column:
            raise ConfigInvalid("agg_bounds: column must be set")
        if self.agg not in self._AGGS:
            raise ConfigInvalid(f"agg_bounds: agg must be one of {self._AGGS}")
        if self.min is None and self.max is None:
            raise ConfigInvalid("agg_bounds: at least one of min/max must be set")
        if self.min is not None and self.max is not None and self.min > self.max:
            raise ConfigInvalid("agg_bounds: min must be <= max")
        if self.agg in ("quantile", "approx_quantile"):
            if self.quantile is None or not 0.0 <= self.quantile <= 1.0:
                raise ConfigInvalid("agg_bounds: quantile must be set in [0,1]")
        elif self.quantile is not None:
            raise ConfigInvalid(f"agg_bounds: quantile is not valid for agg={self.agg!r}")


@_register
@dataclass(frozen=True)
class ChiSquareDrift(TableCheck):
    """Pearson chi² drift of `column`'s categorical histogram against a
    reference histogram supplied as vocab table `ref_name` with columns
    (`column`, n). North-star coverage: "chi-squared distribution-drift
    checks on role histograms" as a first-class suite check (one
    table-scope verdict row; passed = p_value >= alpha). Compiles to a
    single distributed groupBy + an O(#categories) join — the p-value
    is a JVM expression over the ONE resulting row. A reference category
    absent from the observed side contributes its expected count; an
    observed category absent from the reference drives the statistic to
    +inf (p=0), matching operators.drift.chi_squared_drift."""
    kind: ClassVar[str] = "chi2_drift"
    column: str = ""
    ref_name: str = ""
    alpha: float = 0.001

    def validate_config(self):
        if not self.column or not self.ref_name:
            raise ConfigInvalid("chi2_drift: column and ref_name must be set")
        if not (0.0 < self.alpha < 1.0):
            raise ConfigInvalid("chi2_drift: alpha must be in (0,1)")


@_register
@dataclass(frozen=True)
class KSDrift(TableCheck):
    """Two-sample Kolmogorov–Smirnov drift of numeric `column` against
    reference values in vocab table `ref_name` (same-named column).
    North-star coverage: "KS drift checks on turn-length" as a
    first-class suite check. Compiles to one width-bucketed groupBy per
    side (shared [lo,hi] from a lazy 1-row bounds agg), cumulative-sum
    windows over O(buckets) rows, and a JVM-expression p-value on the
    ONE resulting row — no sample ever reaches the driver. The bucketed D
    underestimates exact D by at most one bucket's mass."""
    kind: ClassVar[str] = "ks_drift"
    column: str = ""
    ref_name: str = ""
    alpha: float = 0.001
    buckets: int = 1024

    def validate_config(self):
        if not self.column or not self.ref_name:
            raise ConfigInvalid("ks_drift: column and ref_name must be set")
        if not (0.0 < self.alpha < 1.0):
            raise ConfigInvalid("ks_drift: alpha must be in (0,1)")
        if self.buckets < 2:
            raise ConfigInvalid("ks_drift: buckets must be >= 2")


# --------------------------------------------------------------------------
# suite + registry
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class CheckSuite:
    """A named collection of checks over one table, plus the key
    columns that identify a row in violation output (stable ordering
    contract: violations are sorted by these)."""

    name: str
    key_columns: tuple
    checks: tuple = ()

    def to_json(self) -> str:
        return json.dumps(
            {
                "name": self.name,
                "key_columns": list(self.key_columns),
                "checks": [c.to_dict() for c in self.checks],
            },
            sort_keys=True,
        )

    @staticmethod
    def from_json(s: str) -> "CheckSuite":
        d = json.loads(s)
        return CheckSuite(
            name=d["name"],
            key_columns=tuple(d["key_columns"]),
            checks=tuple(Check.from_dict(c) for c in d["checks"]),
        )

    def validate_config(self) -> None:
        if not self.name:
            raise ConfigInvalid("suite: name must be set")
        if not self.key_columns:
            raise ConfigInvalid("suite: key_columns must be set")
        seen: set[int] = set()

        def walk(c: Check):
            if id(c) in seen:
                return
            seen.add(id(c))
            c.validate_config()
            for ch in c.children():
                walk(ch)

        for c in self.checks:
            walk(c)


@dataclass
class SuiteRegistry:
    """Named-suite registry — the URISchemaMap analogue. Ref resolution
    happens at compile time with lateral-only cycle detection (a Ref
    chain that revisits a suite at the same row is a config error,
    mirroring RefLoop, Any.hs:69-71)."""

    suites: dict[str, CheckSuite] = field(default_factory=dict)

    def add(self, suite: CheckSuite) -> "SuiteRegistry":
        suite.validate_config()
        self.suites[suite.name] = suite
        return self

    def resolve(self, name: str, _visiting: frozenset = frozenset()) -> tuple:
        """Flatten a suite's row checks, inlining Refs; cycle => error."""
        if name in _visiting:
            raise ConfigInvalid(f"ref loop through suite {name!r}")
        if name not in self.suites:
            raise ConfigInvalid(f"unresolvable suite ref {name!r}")
        out: list[Check] = []
        for c in self.suites[name].checks:
            out.extend(self._resolve_check(c, _visiting | {name}))
        return tuple(out)

    def _resolve_check(self, c: Check, visiting: frozenset) -> tuple:
        """``c`` with every Ref inlined. Where checks are a conjunction
        (a suite, AllOf, DependentSchema) a Ref splices its suite's
        checks in; anywhere else a $ref is one schema (Ref.hs), so it
        becomes one check: the AllOf of its suite's checks when there
        are several."""
        if isinstance(c, Ref):
            return self.resolve(c.suite, visiting)
        if isinstance(c, (AllOf, DependentSchema)):
            kids = tuple(k for ch in c.checks for k in self._resolve_check(ch, visiting))
            return (dataclasses.replace(c, checks=kids),)

        def one(ch: Check) -> Check:
            got = self._resolve_check(ch, visiting)
            return got[0] if len(got) == 1 else AllOf(checks=got)

        return (c.map_children(one),)

    @staticmethod
    def _ref_targets(suite: "CheckSuite") -> set[str]:
        out: set[str] = set()

        def walk(c: Check):
            if isinstance(c, Ref):
                out.add(c.suite)
            for ch in c.children():
                walk(ch)

        for c in suite.checks:
            walk(c)
        return out

    @classmethod
    def from_files(cls, root_path: str) -> "SuiteRegistry":
        """Recursive-ref discovery to fixpoint — the
        referencesViaFilesystem analogue (Fetch.hs:119-158 /
        Draft4.hs:126-129): load the root suite JSON, walk every Ref
        edge, fetch `<suite-name>.json` from the SAME directory for
        each not-yet-loaded target, repeat until no new refs appear.
        A missing or unparsable file raises ConfigInvalid (the
        FSReadFailure analogue, test/Local/Validation.hs:33-58); a ref
        cycle is surfaced by the final resolve()."""
        import os

        base = os.path.dirname(os.path.abspath(root_path))
        reg = cls()
        root = cls._load_suite_file(root_path)
        reg.add(root)
        pending = cls._ref_targets(root) - set(reg.suites)
        while pending:
            name = pending.pop()
            s = cls._load_suite_file(os.path.join(base, f"{name}.json"))
            if s.name != name:
                raise ConfigInvalid(
                    f"suite file {name}.json declares name {s.name!r} (must match)"
                )
            reg.add(s)
            pending |= cls._ref_targets(s) - set(reg.suites)
        reg.resolve(root.name)  # surfaces cycles / anything unresolvable
        return reg

    @classmethod
    def from_dir(cls, path: str) -> "SuiteRegistry":
        """Load every *.json suite in a directory and verify the whole
        registry resolves (unresolvable refs / cycles => ConfigInvalid)."""
        import glob
        import os

        reg = cls()
        files = sorted(glob.glob(os.path.join(path, "*.json")))
        if not files:
            raise ConfigInvalid(f"no suite files in {path!r}")
        for f in files:
            reg.add(cls._load_suite_file(f))
        for name in reg.suites:
            reg.resolve(name)
        return reg

    @staticmethod
    def _load_suite_file(path: str) -> "CheckSuite":
        try:
            with open(path) as fh:
                raw = fh.read()
        except OSError as e:
            raise ConfigInvalid(f"cannot read suite file {path!r}: {e}") from e
        try:
            return CheckSuite.from_json(raw)
        except (json.JSONDecodeError, KeyError, TypeError) as e:
            raise ConfigInvalid(f"bad suite file {path!r}: {e}") from e


_SINGLE_COL_FIELDS = ("column", "order_column", "when_column")
_MULTI_COL_FIELDS = ("columns", "group_by", "order_by", "determinant", "dependent")


def referenced_columns(check: Check) -> set[str]:
    """Input-table columns a check reads, by field-name convention
    (single-column fields, tuple-of-column fields, nested check/checks),
    so the engine can fail fast on misspelled columns. Deliberately
    excluded: Custom (opaque SQL), ColumnsAllowed (declares ALLOWED
    names — absence is fine), PatternColumns (regex over names),
    RefIntegrity.ref_columns (vocab-table side), RemainderColumns
    (declares DECLARED names — the remainder is whatever else exists),
    and TypeIs (absence is a failing schema VERDICT, not a config
    error)."""
    if isinstance(
        check, (Custom, ColumnsAllowed, PatternColumns, RemainderColumns, TypeIs)
    ):
        return set()
    out: set[str] = set()
    for f in _SINGLE_COL_FIELDS:
        v = getattr(check, f, "")
        if v:
            out.add(v)
    for f in _MULTI_COL_FIELDS:
        if isinstance(check, RefIntegrity) and f != "columns":
            continue
        for v in getattr(check, f, ()) or ():
            out.add(v)
    nested = getattr(check, "checks", None)
    if nested:
        for k in nested:
            out |= referenced_columns(k)
    inner = getattr(check, "check", None)
    if isinstance(inner, Check):
        out |= referenced_columns(inner)
    return out
