"""Compile a JSON Schema Draft 4 document into a columnar CheckSuite.

This is the switch-over path for a user of the reference validator: the
same schema document that drove per-document validation
(/root/reference/src/JSONSchema/Draft4/Schema.hs:15-65 — the 30-keyword
record) is compiled ONCE into the engine's check IR, where each
property subschema becomes a set of per-column checks evaluated in the
fused row pass. The table row plays the role of the JSON object; a
column plays the role of a property (SURVEY §2.3's mapping, applied
mechanically).

Semantics preserved from the reference:
- `$ref` is resolved structurally by JSON Pointer into the root
  document, with LATERAL cycle detection (a pointer chain that revisits
  a target without consuming a keyword is a config error — the RefLoop
  analogue, Any.hs:69-71); `$ref` siblings are ignored
  (disableIfRefPresent, Spec.hs:129-133).
- draft-4 `exclusiveMinimum`/`exclusiveMaximum` are BOOLEAN modifiers
  of minimum/maximum (Number.hs:49-83), not standalone bounds.
- `enum` members must be scalars here (a column cell is a scalar);
  non-unique enums stay as-written (the engine treats them per the
  reference quirk).
- `items`/`additionalItems` keep the object/array duality
  (Array.hs:156-167, 209-225) via ArrayForAll / ArrayPositional.
- unknown keywords are ignored (the `_schemaOther` catch-all,
  Schema.hs:22-30).

Columnar-lift extensions:
- nested object schemas (a property whose subschema has its own
  `properties`/`required`) flatten onto StructType dotted paths
  (`col.field`), any depth; nested `required` is guarded on the parent
  struct being present (DependentSchema);
- `type` as a LIST of names compiles to AnyOf of TypeIs row predicates
  (Any.hs:260-291 string-or-array semantics).

- `additionalProperties` as a SCHEMA expands over the UNDECLARED
  columns at compile time (RemainderColumns — the Properties.hs:199-209
  remainder rule at column scope); for MapType DATA keys use
  MapKeysAllowed / MapPatternValues / MapRequiredKeys in the check IR.

Documented divergences (inherent to the columnar lift, raised as
ConfigInvalid rather than silently mis-validated):
- `dependencies` under a nested property are not lifted;
- `minProperties`/`maxProperties` count non-null DECLARED columns
  (NonNullCount) — a fixed-width row has no "absent" keys, so null is
  the absence analogue (SURVEY §2.3).
"""

from __future__ import annotations

from typing import Any

from hjsonschema_spark.checks.compile import compile_row_predicate
from hjsonschema_spark.checks.ir import (
    AllOf,
    AnyOf,
    ArrayForAll,
    ArrayPositional,
    ArraySize,
    ArrayUnique,
    Bounds,
    Check,
    CheckSuite,
    ColumnsAllowed,
    ConfigInvalid,
    Custom,
    DependentSchema,
    Enum,
    Length,
    MultipleOf,
    Not,
    NonNullCount,
    OneOf,
    Pattern,
    PatternColumns,
    RemainderColumns,
    Required,
    RowCheck,
    TypeIs,
    UniqueKey,
)

_SCALAR = (str, int, float, bool, type(None))


def _resolve_pointer(root: dict, ref: str) -> dict:
    """Local JSON Pointer ('#/a/b') resolution with ~0/~1 unescaping
    (Pointers.hs semantics). Remote/absolute refs are not supported in
    the columnar compiler — inject those schemas yourself."""
    if not ref.startswith("#"):
        raise ConfigInvalid(f"from_schema: only local '#/...' refs supported, got {ref!r}")
    node: Any = root
    frag = ref[1:]
    for raw in [p for p in frag.split("/") if p != ""]:
        tok = raw.replace("~1", "/").replace("~0", "~")
        if isinstance(node, list):
            try:
                node = node[int(tok)]
            except (ValueError, IndexError):
                raise ConfigInvalid(f"from_schema: unresolvable ref {ref!r} at {tok!r}")
        elif isinstance(node, dict) and tok in node:
            node = node[tok]
        else:
            raise ConfigInvalid(f"from_schema: unresolvable ref {ref!r} at {tok!r}")
    if not isinstance(node, dict):
        raise ConfigInvalid(f"from_schema: ref {ref!r} does not point at a schema")
    return node


def _deref(sub: dict, root: dict, visiting: frozenset) -> tuple[dict, frozenset]:
    """Follow a $ref chain (siblings dropped, cycle = ConfigInvalid)."""
    while "$ref" in sub:
        ref = sub["$ref"]
        if ref in visiting:
            raise ConfigInvalid(f"from_schema: ref loop through {ref!r}")
        visiting = visiting | {ref}
        sub = _resolve_pointer(root, ref)
    return sub, visiting


def _element_predicate(sub: dict, root: dict, visiting: frozenset) -> str:
    """SQL predicate over element variable `x` for an items subschema:
    its keywords lift to checks on a column named `x`, which binds to
    the lambda variable. Supports the scalar keyword subset; anything
    else is ConfigInvalid (the element of an array column is a scalar)."""
    sub, visiting = _deref(sub, root, visiting)
    unsupported = set(sub) - {
        "minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum",
        "minLength", "maxLength", "pattern", "enum", "multipleOf",
        "$ref", "id", "title", "description", "default", "type",
    }
    if unsupported:
        raise ConfigInvalid(
            f"from_schema: items keywords not liftable to an element predicate: "
            f"{sorted(unsupported)}"
        )
    vals = sub.get("enum", ())
    if not all(isinstance(v, _SCALAR) and v is not None for v in vals):
        raise ConfigInvalid("from_schema: items.enum members must be scalars")
    checks = _lift_column("x", {k: v for k, v in sub.items() if k != "type"}, root, visiting)
    if vals and len(set(vals)) == len(vals):
        # a NULL element is the JSON value null, which a unique enum of
        # scalars does not hold (a NULL column is an absent property)
        checks.append(Required(column="x"))
    for c in checks:
        c.validate_config()
    return compile_row_predicate(AllOf(checks=tuple(checks)))


def _lift_column(col: str, sub: dict, root: dict, visiting: frozenset) -> list[RowCheck]:
    """Lift one property subschema to checks on column `col`."""
    sub, visiting = _deref(sub, root, visiting)
    out: list[RowCheck] = []

    if "type" in sub:
        t = sub["type"]
        if isinstance(t, str):
            out.append(TypeIs(column=col, json_type=t))
        elif isinstance(t, list) and t and all(isinstance(x, str) for x in t):
            # TypeValidator accepts string-or-array (Any.hs:260-291):
            # the value's type must match ANY listed name. AnyOf of
            # TypeIs — the engine rewrites nested TypeIs to per-row
            # predicates against the actual column type (1.0 IS a
            # draft-4 integer), so type arrays work on any column.
            out.append(
                AnyOf(checks=tuple(TypeIs(column=col, json_type=x) for x in t))
            )
        else:
            raise ConfigInvalid(
                f"from_schema: type for column {col!r} must be a string or a "
                "non-empty list of strings"
            )
    if "enum" in sub:
        vals = sub["enum"]
        if not all(isinstance(v, _SCALAR) for v in vals):
            raise ConfigInvalid(f"from_schema: enum for {col!r} must be scalars")
        out.append(Enum(column=col, values=tuple(vals)))
    if "minimum" in sub or "maximum" in sub:
        out.append(
            Bounds(
                column=col,
                min=sub.get("minimum"),
                max=sub.get("maximum"),
                exclusive_min=bool(sub.get("exclusiveMinimum")),
                exclusive_max=bool(sub.get("exclusiveMaximum")),
            )
        )
    if "minLength" in sub or "maxLength" in sub:
        out.append(
            Length(column=col, min_len=sub.get("minLength"), max_len=sub.get("maxLength"))
        )
    if "pattern" in sub:
        out.append(Pattern(column=col, regex=sub["pattern"]))
    if "multipleOf" in sub:
        out.append(MultipleOf(column=col, n=sub["multipleOf"]))
    if "minItems" in sub or "maxItems" in sub:
        out.append(
            ArraySize(column=col, min_items=sub.get("minItems"), max_items=sub.get("maxItems"))
        )
    if sub.get("uniqueItems"):
        out.append(ArrayUnique(column=col, numeric_canonical=True))
    if "items" in sub:
        items = sub["items"]
        if isinstance(items, dict):
            pred = _element_predicate(items, root, visiting)
            if pred != "true":
                out.append(ArrayForAll(column=col, element_predicate=pred))
        else:
            add = sub.get("additionalItems", True)
            if add is True:
                additional = "any"
            elif add is False:
                additional = "none"
            else:
                additional = _element_predicate(add, root, visiting)
            out.append(
                ArrayPositional(
                    column=col,
                    element_predicates=tuple(
                        _element_predicate(s, root, visiting) for s in items
                    ),
                    additional=additional,
                )
            )
    if "dependencies" in sub:
        raise ConfigInvalid(
            f"from_schema: dependencies under nested property {col!r} are not "
            "liftable — model that object as its own table"
        )
    if "properties" in sub or "required" in sub:
        # nested object schema (Schema.hs properties recursion):
        # flatten onto StructType dotted paths — `col.field` resolves
        # to the struct field in Spark. `required` fields fire only
        # when the parent struct is PRESENT (DependentSchema guard),
        # matching the reference running a nested schema only on an
        # existing object; other nested checks are vacuous on NULL
        # fields anyway (and a NULL parent nulls every field).
        req = tuple(Required(column=f"{col}.{f}") for f in sub.get("required", ()))
        if req:
            out.append(DependentSchema(when_column=col, checks=req))
        for f, fsub in sub.get("properties", {}).items():
            out.extend(_lift_column(f"{col}.{f}", fsub, root, visiting))
    for kw, cls in (("allOf", AllOf), ("anyOf", AnyOf), ("oneOf", OneOf)):
        if kw in sub:
            branches = []
            for b in sub[kw]:
                kids = _lift_column(col, b, root, visiting)
                if not kids:
                    branches.append(Custom(name=f"{kw}:{col}:trivial", expr="true"))
                elif len(kids) == 1:
                    branches.append(kids[0])
                else:
                    branches.append(AllOf(checks=tuple(kids)))
            if kw == "allOf":
                out.extend(branches)  # conjunction flattens
            else:
                out.append(cls(checks=tuple(branches)))
    if "not" in sub:
        kids = _lift_column(col, sub["not"], root, visiting)
        if not kids:
            raise ConfigInvalid(
                f"from_schema: `not` of an empty schema for {col!r} rejects every "
                "row — surely a config error"
            )
        out.append(Not(check=kids[0] if len(kids) == 1 else AllOf(checks=tuple(kids))))
    return out



def suite_from_schema(
    schema: dict,
    name: str,
    key_columns: tuple[str, ...],
    unique_key: bool = False,
) -> CheckSuite:
    """Compile a draft-4 OBJECT schema into a CheckSuite over a table
    whose columns are the object's properties.

    ``unique_key=True`` additionally lifts `uniqueItems` to table scope
    (UniqueKey on ``key_columns``) — the SURVEY §2.3 "array of rows"
    reading where the table is the instance array.
    """
    if schema.get("type", "object") != "object":
        raise ConfigInvalid("from_schema: top-level schema must describe an object (a row)")
    checks: list[Check] = []
    props: dict = schema.get("properties", {})
    visiting: frozenset = frozenset()

    for col in schema.get("required", ()):
        checks.append(Required(column=col))
    for col, sub in props.items():
        checks.extend(_lift_column(col, sub, schema, visiting))
    for rx, sub in schema.get("patternProperties", {}).items():
        lifted = _lift_column("", sub, schema, visiting)
        for c in lifted:
            checks.append(PatternColumns(name_regex=rx, check=c))
    ap = schema.get("additionalProperties", True)
    declared = tuple(dict.fromkeys(list(props) + list(schema.get("required", ()))))
    if ap is False:
        checks.append(
            ColumnsAllowed(
                columns=declared,
                patterns=tuple(schema.get("patternProperties", {})),
            )
        )
    elif ap is not True and ap != {}:
        # additionalProperties=SCHEMA (Properties.hs:199-209): every
        # UNDECLARED column (matched by neither properties nor any
        # patternProperties regex) gets the subschema's checks,
        # expanded against the actual table columns at compile time
        # a subschema lifting no checks (only annotations) is the empty
        # schema — everything passes, same as additionalProperties=true
        lifted = _lift_column("", ap, schema, visiting)
        for c in lifted:
            checks.append(
                RemainderColumns(
                    columns=declared,
                    patterns=tuple(schema.get("patternProperties", {})),
                    check=c,
                )
            )
    if "minProperties" in schema or "maxProperties" in schema:
        if not props:
            raise ConfigInvalid("from_schema: min/maxProperties needs declared properties")
        checks.append(
            NonNullCount(
                columns=tuple(props),
                min_count=schema.get("minProperties"),
                max_count=schema.get("maxProperties"),
            )
        )
    for key, dep in schema.get("dependencies", {}).items():
        if isinstance(dep, list):
            # property form (Object.hs:177-183): key present => deps present
            checks.append(
                DependentSchema(
                    when_column=key, checks=tuple(Required(column=d) for d in dep)
                )
            )
        else:
            # schema form (Object.hs:160-176): key present => whole row
            # satisfies the subschema (its properties are row columns)
            dep, v2 = _deref(dep, schema, visiting)
            kids: list[RowCheck] = []
            for col in dep.get("required", ()):
                kids.append(Required(column=col))
            for col, sub in dep.get("properties", {}).items():
                kids.extend(_lift_column(col, sub, schema, v2))
            if kids:
                checks.append(DependentSchema(when_column=key, checks=tuple(kids)))
    if unique_key:
        checks.append(UniqueKey(columns=tuple(key_columns)))

    suite = CheckSuite(name=name, key_columns=tuple(key_columns), checks=tuple(checks))
    suite.validate_config()
    return suite
