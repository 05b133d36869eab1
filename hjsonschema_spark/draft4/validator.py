"""From-scratch JSON Schema Draft-4 validator.

Behavioral spec is the reference's validator corpus (seagreen/hjsonschema;
semantics cited per file:line in SURVEY.md §2) — the code is a new design:
one recursive function over (schema, instance) with a keyword dispatch
table, not a port of the reference's profunctor Spec machinery.

Semantics replicated exactly (cross-checked against the vendored
JSON-Schema-Test-Suite draft4 corpus):

- numbers are mathematical: ``1``, ``1.0``, ``1.00`` are equal; booleans
  are NOT numbers (reference: Scientific + OrdValue,
  src/JSONSchema/Validator/Utils.hs:94-119);
- type-mismatch => vacuous pass for every keyword (reference ``run``,
  src/JSONSchema/Validator/Draft4.hs:28-33);
- ``$ref`` siblings ignored (src/JSONSchema/Draft4/Spec.hs:129-133);
- ref-loop detection is lateral-only: the visited set carries through
  allOf/anyOf/oneOf/not/$ref at the same data level and resets when
  descending into items/properties (src/JSONSchema/Draft4/Spec.hs:146-150);
- ``multipleOf`` with n <= 0 and non-unique ``enum`` lists are vacuous
  passes (Number.hs:25-29, Any.hs:239-243);
- ``pattern`` is an unanchored substring search (String.hs:68-77);
  an uncompilable regex is itself a failure, while uncompilable
  patternProperties keys are skipped silently (Properties.hs:150-155).

Numbers are canonicalized to ``fractions.Fraction`` via decimal literal
interpretation, mirroring aeson's ``Scientific`` arbitrary-precision
decimals (floats that reach us as Python floats are read back through
``repr`` — i.e. their shortest decimal form — which matches how the
JSON text would have been parsed).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from decimal import Decimal
from fractions import Fraction
from typing import Any
from urllib.parse import unquote, urljoin


def loads_json(s: str | bytes) -> Any:
    """Parse JSON preserving decimal semantics (floats -> Decimal)."""
    return json.loads(s, parse_float=Decimal)


class SchemaInvalid(Exception):
    """Raised when a schema fails meta-schema validation (analogue of
    the reference's HVSchema / SchemaInvalid error path)."""


@dataclass(frozen=True)
class Failure:
    """One leaf validation failure — the engine's violation row.

    keyword: which check failed; schema_path: JSON pointer into the
    schema; instance_path: JSON pointer into the data; message: human
    detail; value: the offending datum (JSON-encoded for stability).
    """

    keyword: str
    instance_path: str
    schema_path: str
    message: str
    value: str

    def as_row(self) -> tuple[str, str, str, str, str]:
        return (self.keyword, self.instance_path, self.schema_path, self.message, self.value)


# ---------------------------------------------------------------------------
# value model: types + mathematical equality
# ---------------------------------------------------------------------------

def _is_number(v: Any) -> bool:
    return isinstance(v, (int, float, Decimal)) and not isinstance(v, bool)


def _to_fraction(v: Any) -> Fraction:
    if isinstance(v, float):
        # shortest decimal representation == what the JSON text said
        return Fraction(Decimal(repr(v)))
    return Fraction(v)


def _json_type(v: Any) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if _is_number(v):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    if isinstance(v, dict):
        return "object"
    raise TypeError(f"not a JSON value: {type(v)}")


def _type_matches(v: Any, t: str) -> bool:
    jt = _json_type(v)
    if t == "integer":
        # integral numbers are integers; 1.0 is an integer (reference
        # Any.hs:338-341 via SCI.isInteger; the contrary
        # zeroTerminatedFloats.json is optional and skipped)
        return jt == "number" and _to_fraction(v).denominator == 1
    return jt == t


def canonical(v: Any) -> Any:
    """Hashable canonical form under deep mathematical equality."""
    if v is None:
        return ("z",)
    if isinstance(v, bool):
        return ("b", v)
    if _is_number(v):
        return ("n", _to_fraction(v))
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, list):
        return ("a", tuple(canonical(x) for x in v))
    return ("o", frozenset((k, canonical(x)) for k, x in v.items()))


def _dump(v: Any) -> str:
    try:
        return json.dumps(v, default=str, sort_keys=True)[:512]
    except Exception:
        return repr(v)[:512]


# ---------------------------------------------------------------------------
# $ref machinery: document index, scope resolution, pointer descent
# ---------------------------------------------------------------------------

def _strip_fragment(uri: str) -> str:
    return uri.split("#", 1)[0]


def _index_ids(doc: Any, base: str, out: dict[str, tuple[Any, str]]) -> None:
    """Map every resolvable URI (base + inline ``id`` re-basings) to
    (subschema, PRE-id scope). ``_v`` is the single place a node's own
    ``id`` is applied, so stored scopes must not include it (a relative
    id like ``"folder/"`` is not idempotent under urljoin)."""
    scope = base
    if isinstance(doc, dict):
        sid = doc.get("id")
        if isinstance(sid, str) and sid:
            scope = urljoin(base, sid)
            out.setdefault(scope, (doc, base))
            out.setdefault(_strip_fragment(scope) or scope, (doc, base))
        for v in doc.values():
            _index_ids(v, scope, out)
    elif isinstance(doc, list):
        for v in doc:
            _index_ids(v, scope, out)


def _pointer_escape(token: str) -> str:
    return unquote(token).replace("~1", "/").replace("~0", "~")


class _Registry:
    """URI -> document store with id-index, the analogue of the
    reference's URISchemaMap (Fetch.hs:31-33) resolved at compile time."""

    def __init__(self, root: Any, root_uri: str, documents: dict[str, Any] | None = None):
        self.docs: dict[str, Any] = dict(documents or {})
        self.root = root
        self.root_uri = _strip_fragment(root_uri)
        self.docs.setdefault(self.root_uri, root)
        self.id_index: dict[str, tuple[Any, str]] = {}
        for uri, doc in self.docs.items():
            self.id_index.setdefault(uri, (doc, uri))
            _index_ids(doc, uri, self.id_index)

    def resolve(self, ref: str, scope: str) -> tuple[Any, str] | None:
        """Return (subschema, new_scope) or None if unresolvable."""
        abs_uri = urljoin(scope, ref) if scope else ref
        if abs_uri in self.id_index:
            return self.id_index[abs_uri]
        base, _, frag = abs_uri.partition("#")
        start: tuple[Any, str] | None = None
        if base in self.id_index:
            start = self.id_index[base]
        elif base == "" or base == self.root_uri:
            start = (self.root, self.root_uri)
        if start is None:
            return None
        node, node_scope = start
        for token in [t for t in frag.split("/") if frag][1:] if frag.startswith("/") else []:
            # apply this node's own id before descending PAST it; the
            # final node's id is left for _v to apply
            if isinstance(node, dict) and isinstance(node.get("id"), str) and node["id"]:
                node_scope = urljoin(node_scope, node["id"])
            tok = _pointer_escape(token)
            if isinstance(node, dict):
                if tok not in node:
                    return None
                node = node[tok]
            elif isinstance(node, list):
                try:
                    node = node[int(tok)]
                except (ValueError, IndexError):
                    return None
            else:
                return None
        if frag and not frag.startswith("/"):
            # plain-name fragment that wasn't in the id index
            return None
        return node, node_scope


# ---------------------------------------------------------------------------
# the validator
# ---------------------------------------------------------------------------

_LATERAL = ("allOf", "anyOf", "oneOf", "not")  # visited set carries through


class Draft4Validator:
    """Compile once (driver-side), validate many (pure, reusable) —
    the analogue of the reference's two-step checkSchema flow
    (examples/TwoStep.hs:35-48)."""

    def __init__(
        self,
        schema: Any,
        registry: dict[str, Any] | None = None,
        base_uri: str = "",
        check_schema: bool = False,
    ):
        if not isinstance(schema, (dict,)):
            raise SchemaInvalid(f"schema must be an object, got {type(schema).__name__}")
        self.schema = schema
        root_id = schema.get("id") if isinstance(schema.get("id"), str) else ""
        self.base_uri = _strip_fragment(urljoin(base_uri, root_id)) if (base_uri or root_id) else ""
        self.registry = _Registry(schema, self.base_uri, registry)
        self._regex_cache: dict[str, re.Pattern | None] = {}
        self._enums: dict[int, tuple[dict, frozenset | None]] = {}
        if check_schema:
            self._check_schema()

    def _check_schema(self) -> None:
        from hjsonschema_spark.draft4.metaschema import META_SCHEMA

        meta = Draft4Validator(META_SCHEMA)
        errs = meta.validate(self.schema)
        if errs:
            raise SchemaInvalid("; ".join(f.message for f in errs[:5]))

    # -- public API ----------------------------------------------------

    def validate(self, instance: Any) -> list[Failure]:
        return self._v(self.schema, instance, self.base_uri, frozenset(), "", "")

    def is_valid(self, instance: Any) -> bool:
        return not self.validate(instance)

    # -- internals -------------------------------------------------------

    def _compile_re(self, pattern: str) -> re.Pattern | None:
        if pattern not in self._regex_cache:
            try:
                self._regex_cache[pattern] = re.compile(pattern)
            except re.error:
                self._regex_cache[pattern] = None
        return self._regex_cache[pattern]

    def _enum_members(self, schema: dict) -> frozenset | None:
        """The canonical forms of ``schema``'s enum members, or None when
        two of them are equal (a non-unique enum is vacuous), computed
        once per schema node. The entry holds the node, so no other
        node can take its id."""
        hit = self._enums.get(id(schema))
        if hit is None:
            cans = [canonical(v) for v in schema["enum"]]
            members = frozenset(cans) if len(set(cans)) == len(cans) else None
            hit = self._enums[id(schema)] = (schema, members)
        return hit[1]

    def _v(
        self,
        schema: Any,
        instance: Any,
        scope: str,
        visited: frozenset,
        ipath: str,
        spath: str,
    ) -> list[Failure]:
        if not isinstance(schema, dict):
            return []  # non-object schema validates nothing
        if isinstance(schema.get("id"), str) and schema["id"]:
            scope = urljoin(scope, schema["id"])
        if "$ref" in schema and isinstance(schema["$ref"], str):
            # $ref disables all sibling keywords (Spec.hs:129-133)
            return self._ref(schema["$ref"], instance, scope, visited, ipath, spath)

        fails: list[Failure] = []
        add = fails.extend
        t = _json_type(instance)

        # ---- any-type keywords
        if "type" in schema:
            req = schema["type"]
            types = [req] if isinstance(req, str) else list(req)
            if not any(isinstance(x, str) and _type_matches(instance, x) for x in types):
                fails.append(Failure("type", ipath, spath + "/type", f"expected {types}, got {t}", _dump(instance)))
        if "enum" in schema and isinstance(schema["enum"], list):
            members = self._enum_members(schema)
            if members is not None and canonical(instance) not in members:
                fails.append(Failure("enum", ipath, spath + "/enum", "value not in enum", _dump(instance)))
        for kw in _LATERAL:
            if kw in schema:
                add(self._combinator(kw, schema[kw], instance, scope, visited, ipath, spath))

        # ---- numbers
        if _is_number(instance):
            x = _to_fraction(instance)
            if "multipleOf" in schema and _is_number(schema["multipleOf"]):
                n = _to_fraction(schema["multipleOf"])
                if n > 0 and (x / n).denominator != 1:
                    fails.append(Failure("multipleOf", ipath, spath + "/multipleOf", f"not a multiple of {schema['multipleOf']}", _dump(instance)))
            if "maximum" in schema and _is_number(schema["maximum"]):
                m = _to_fraction(schema["maximum"])
                if schema.get("exclusiveMaximum", False):
                    if x >= m:
                        fails.append(Failure("maximum", ipath, spath + "/maximum", f">= exclusive maximum {schema['maximum']}", _dump(instance)))
                elif x > m:
                    fails.append(Failure("maximum", ipath, spath + "/maximum", f"> maximum {schema['maximum']}", _dump(instance)))
            if "minimum" in schema and _is_number(schema["minimum"]):
                m = _to_fraction(schema["minimum"])
                if schema.get("exclusiveMinimum", False):
                    if x <= m:
                        fails.append(Failure("minimum", ipath, spath + "/minimum", f"<= exclusive minimum {schema['minimum']}", _dump(instance)))
                elif x < m:
                    fails.append(Failure("minimum", ipath, spath + "/minimum", f"< minimum {schema['minimum']}", _dump(instance)))

        # ---- strings
        elif isinstance(instance, str):
            if "maxLength" in schema and _is_number(schema["maxLength"]):
                if len(instance) > schema["maxLength"]:
                    fails.append(Failure("maxLength", ipath, spath + "/maxLength", f"length {len(instance)} > {schema['maxLength']}", _dump(instance)))
            if "minLength" in schema and _is_number(schema["minLength"]):
                if len(instance) < schema["minLength"]:
                    fails.append(Failure("minLength", ipath, spath + "/minLength", f"length {len(instance)} < {schema['minLength']}", _dump(instance)))
            if "pattern" in schema and isinstance(schema["pattern"], str):
                rx = self._compile_re(schema["pattern"])
                if rx is None:
                    fails.append(Failure("pattern", ipath, spath + "/pattern", f"unusable regex {schema['pattern']!r}", _dump(instance)))
                elif rx.search(instance) is None:
                    fails.append(Failure("pattern", ipath, spath + "/pattern", f"does not match {schema['pattern']!r}", _dump(instance)))

        # ---- arrays (descend => visited resets, Spec.hs:146-150)
        elif isinstance(instance, list):
            add(self._array(schema, instance, scope, ipath, spath))

        # ---- objects
        elif isinstance(instance, dict):
            add(self._object(schema, instance, scope, visited, ipath, spath))

        return fails

    def _ref(self, ref: str, instance: Any, scope: str, visited: frozenset, ipath: str, spath: str) -> list[Failure]:
        abs_uri = urljoin(scope, ref) if scope else ref
        if abs_uri in visited:
            return [Failure("$ref", ipath, spath + "/$ref", f"ref loop at {ref!r}", _dump(instance))]
        resolved = self.registry.resolve(ref, scope)
        if resolved is None:
            return [Failure("$ref", ipath, spath + "/$ref", f"could not resolve {ref!r} in scope {scope!r}", _dump(instance))]
        target, new_scope = resolved
        return self._v(target, instance, new_scope, visited | {abs_uri}, ipath, spath + "/$ref")

    def _combinator(self, kw: str, sub: Any, instance: Any, scope: str, visited: frozenset, ipath: str, spath: str) -> list[Failure]:
        sp = f"{spath}/{kw}"
        if kw == "not":
            inner = self._v(sub, instance, scope, visited, ipath, sp)
            if not inner:
                return [Failure("not", ipath, sp, "matched disallowed schema", _dump(instance))]
            return []
        if not isinstance(sub, list):
            return []
        branch_fails = [self._v(s, instance, scope, visited, ipath, f"{sp}/{i}") for i, s in enumerate(sub)]
        n_pass = sum(1 for b in branch_fails if not b)
        if kw == "allOf":
            return [f for b in branch_fails for f in b]
        if kw == "anyOf":
            if n_pass == 0:
                return [f for b in branch_fails for f in b] or [
                    Failure("anyOf", ipath, sp, "no branch matched", _dump(instance))
                ]
            return []
        if kw == "oneOf":
            if n_pass == 0:
                return [Failure("oneOf", ipath, sp, "no branch matched", _dump(instance))]
            if n_pass > 1:
                return [Failure("oneOf", ipath, sp, f"{n_pass} branches matched", _dump(instance))]
        return []

    def _array(self, schema: dict, xs: list, scope: str, ipath: str, spath: str) -> list[Failure]:
        fails: list[Failure] = []
        fresh: frozenset = frozenset()  # descend resets the visited set
        if "maxItems" in schema and _is_number(schema["maxItems"]) and len(xs) > schema["maxItems"]:
            fails.append(Failure("maxItems", ipath, spath + "/maxItems", f"{len(xs)} items > {schema['maxItems']}", _dump(xs)))
        if "minItems" in schema and _is_number(schema["minItems"]) and len(xs) < schema["minItems"]:
            fails.append(Failure("minItems", ipath, spath + "/minItems", f"{len(xs)} items < {schema['minItems']}", _dump(xs)))
        if schema.get("uniqueItems") is True:
            if len({canonical(x) for x in xs}) != len(xs):
                fails.append(Failure("uniqueItems", ipath, spath + "/uniqueItems", "duplicate items", _dump(xs)))
        items = schema.get("items")
        if isinstance(items, dict):
            for i, x in enumerate(xs):
                fails.extend(self._v(items, x, scope, fresh, f"{ipath}/{i}", spath + "/items"))
        elif isinstance(items, list):
            for i, x in enumerate(xs):
                if i < len(items):
                    fails.extend(self._v(items[i], x, scope, fresh, f"{ipath}/{i}", f"{spath}/items/{i}"))
            extra = xs[len(items):]
            add = schema.get("additionalItems")
            if extra and add is False:
                fails.append(Failure("additionalItems", ipath, spath + "/additionalItems", f"{len(extra)} additional items not allowed", _dump(extra)))
            elif isinstance(add, dict):
                for j, x in enumerate(extra, start=len(items)):
                    fails.extend(self._v(add, x, scope, fresh, f"{ipath}/{j}", spath + "/additionalItems"))
        return fails

    def _object(self, schema: dict, obj: dict, scope: str, visited: frozenset, ipath: str, spath: str) -> list[Failure]:
        fails: list[Failure] = []
        fresh: frozenset = frozenset()
        if "maxProperties" in schema and _is_number(schema["maxProperties"]) and len(obj) > schema["maxProperties"]:
            fails.append(Failure("maxProperties", ipath, spath + "/maxProperties", f"{len(obj)} props > {schema['maxProperties']}", _dump(obj)))
        if "minProperties" in schema and _is_number(schema["minProperties"]) and len(obj) < schema["minProperties"]:
            fails.append(Failure("minProperties", ipath, spath + "/minProperties", f"{len(obj)} props < {schema['minProperties']}", _dump(obj)))
        if isinstance(schema.get("required"), list):
            missing = [k for k in schema["required"] if isinstance(k, str) and k not in obj]
            if missing:
                fails.append(Failure("required", ipath, spath + "/required", f"missing required {missing}", _dump(obj)))

        props = schema.get("properties") if isinstance(schema.get("properties"), dict) else {}
        pprops = schema.get("patternProperties") if isinstance(schema.get("patternProperties"), dict) else {}
        for k, v in obj.items():
            matched = False
            if k in props:
                matched = True
                fails.extend(self._v(props[k], v, scope, fresh, f"{ipath}/{k}", f"{spath}/properties/{k}"))
            for pat, sub in pprops.items():
                rx = self._compile_re(pat)
                if rx is None:
                    continue  # uncompilable patternProperties keys skipped silently
                if rx.search(k):
                    matched = True
                    fails.extend(self._v(sub, v, scope, fresh, f"{ipath}/{k}", f"{spath}/patternProperties/{pat}"))
            if not matched:
                add = schema.get("additionalProperties")
                if add is False:
                    fails.append(Failure("additionalProperties", f"{ipath}/{k}", spath + "/additionalProperties", f"unexpected property {k!r}", _dump(v)))
                elif isinstance(add, dict):
                    fails.extend(self._v(add, v, scope, fresh, f"{ipath}/{k}", spath + "/additionalProperties"))

        deps = schema.get("dependencies")
        if isinstance(deps, dict):
            for k, dep in deps.items():
                if k not in obj:
                    continue
                if isinstance(dep, list):
                    miss = [d for d in dep if d not in obj]
                    if miss:
                        fails.append(Failure("dependencies", ipath, f"{spath}/dependencies/{k}", f"{k!r} requires missing {miss}", _dump(obj)))
                elif isinstance(dep, dict):
                    # schema-form dependency is lateral over the whole object
                    fails.extend(self._v(dep, obj, scope, visited, ipath, f"{spath}/dependencies/{k}"))
        return fails
