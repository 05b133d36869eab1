"""From-scratch JSON Schema Draft-4 validator, compiled once per schema.

Behavioral spec is the reference's validator corpus (seagreen/hjsonschema;
semantics cited per file:line in SURVEY.md §2) — the code is a new design,
not a port of the reference's profunctor Spec machinery. It keeps the
reference's two steps (examples/TwoStep.hs:35-48): the constructor
compiles each (schema node, resolution scope) into one closure, and
``validate`` runs the closures over a document without reading the
schema dicts again. A node's closure holds only the checks of the
keywords it has, in the order failures are reported (type, enum,
allOf, anyOf, oneOf, not, then the number, string, array or object
keywords); what it captures is converted once:

- type tests specialized per name (an ``int`` is an integer without
  building a ``Fraction``);
- bounds as an int, or as their exact ``Decimal``, and ``multipleOf``
  as a ``Fraction``; enum members as their canonical forms;
- regexes compiled, failure messages formatted, schema-path suffixes
  and property tables built;
- the compiled children, shared per (node, scope); a ``$ref`` resolves
  and compiles its target the first time it runs and keeps it.

Semantics replicated exactly (cross-checked against the vendored
JSON-Schema-Test-Suite draft4 corpus; tests/test_draft4_kat.py pins
every failure field of the earlier interpreting validator, and
tests/test_draft4_differential.py compares accept/reject with the
independent ``jsonschema`` package):

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

Numbers compare as exact decimals, mirroring aeson's ``Scientific``
arbitrary-precision decimals (floats that reach us as Python floats are
read back through ``repr`` — i.e. their shortest decimal form — which
matches how the JSON text would have been parsed). Non-finite floats
are not JSON: as a keyword value one makes the schema uncompilable, and
in an instance a numeric keyword raises on it or compares it as
``Decimal`` infinity.

A keyword value the compile step cannot use (``"type": 12``, a
non-finite bound) raises ``SchemaInvalid`` naming the schema node when
the validator is built, even where no document would reach the node;
a ``$ref`` target is compiled, and so checked, when first taken.
"""

from __future__ import annotations

import json
import operator
import re
from collections.abc import Callable
from dataclasses import dataclass
from decimal import Decimal
from fractions import Fraction
from typing import Any
from urllib.parse import unquote, urljoin


def loads_json(s: str | bytes) -> Any:
    """Parse JSON preserving decimal semantics (floats -> Decimal)."""
    return json.loads(s, parse_float=Decimal)


class SchemaInvalid(Exception):
    """Raised when a schema fails meta-schema validation or holds a
    keyword value the compile step cannot use (analogue of the
    reference's HVSchema / SchemaInvalid error path)."""


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
    (subschema, PRE-id scope). Compiling a node is the single place its
    own ``id`` is applied, so stored scopes must not include it (a relative
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


def _pointer_to(target: Any, doc: Any, at: str = "") -> str | None:
    """The JSON pointer of ``target`` (by identity) inside ``doc``."""
    if doc is target:
        return at
    items = doc.items() if isinstance(doc, dict) else enumerate(doc) if isinstance(doc, list) else ()
    for k, v in items:
        got = _pointer_to(target, v, f"{at}/{str(k).replace('~', '~0').replace('/', '~1')}")
        if got is not None:
            return got
    return None


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
            # final node's id is left for its compile to apply
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
# the compiler: one closure per (schema node, resolution scope)
# ---------------------------------------------------------------------------

# A compiled check: (instance, visited, instance_path, schema_path, out)
# -> None, appending its failures to ``out``. ``visited`` is the set of
# absolute $ref URIs taken at this data level; paths are JSON pointers.
_Check = Callable[[Any, frozenset, str, str, list], None]

_FRESH: frozenset = frozenset()  # descending into items/properties resets visited
_NUMBER = (int, float, Decimal)


def _chain(checks: list) -> _Check | None:
    """One check running ``checks`` in order; None when there are none."""
    checks = tuple(c for c in checks if c is not None)
    if not checks:
        return None
    if len(checks) == 1:
        return checks[0]

    def check(inst, visited, ipath, spath, out):
        for c in checks:
            c(inst, visited, ipath, spath, out)

    return check


def _is_integer(v: Any) -> bool:
    # integral numbers are integers; 1.0 is an integer (reference
    # Any.hs:338-341 via SCI.isInteger; the contrary
    # zeroTerminatedFloats.json is optional and skipped)
    if isinstance(v, int):
        return not isinstance(v, bool)
    return isinstance(v, (float, Decimal)) and _to_fraction(v).denominator == 1


_CLASS_OF = {"string": str, "array": list, "object": dict, "boolean": bool}
_TEST_OF = {
    "null": lambda v: v is None,
    "number": _is_number,
    "integer": _is_integer,
    **{t: (lambda v, c=c: isinstance(v, c)) for t, c in _CLASS_OF.items()},
}


def _type_check(req: Any) -> _Check:
    types = [req] if isinstance(req, str) else list(req)
    names = [t for t in types if isinstance(t, str)]
    label = f"expected {types}, got "
    # an unknown type name matches nothing
    tests = tuple(_TEST_OF.get(t, lambda v: False) for t in names)

    def check(inst, visited, ipath, spath, out):
        for test in tests:
            if test(inst):
                return
        out.append(Failure("type", ipath, spath + "/type", label + _json_type(inst), _dump(inst)))

    return check


def _enum_check(members: list) -> _Check | None:
    """Deep mathematical membership; a non-unique enum is vacuous."""
    cans = [canonical(v) for v in members]
    if len(set(cans)) != len(cans):
        return None
    cans_set = frozenset(cans)
    strs = frozenset(v for v in members if isinstance(v, str))

    def check(inst, visited, ipath, spath, out):
        if isinstance(inst, str):
            if inst in strs:
                return
        elif canonical(inst) in cans_set:
            return
        out.append(Failure("enum", ipath, spath + "/enum", "value not in enum", _dump(inst)))

    return check


def _multiple_of_check(m: Any) -> _Check | None:
    n = _to_fraction(m)
    if not n > 0:
        return None  # multipleOf <= 0 is vacuous (Number.hs:25-29)
    msg = f"not a multiple of {m}"

    def check(x, visited, ipath, spath, out):
        if (_to_fraction(x) / n).denominator != 1:
            out.append(Failure("multipleOf", ipath, spath + "/multipleOf", msg, _dump(x)))

    return check


_OVER = {
    ("maximum", True): (operator.ge, ">= exclusive maximum"),
    ("maximum", False): (operator.gt, "> maximum"),
    ("minimum", True): (operator.le, "<= exclusive minimum"),
    ("minimum", False): (operator.lt, "< minimum"),
}


def _bound_check(kw: str, m: Any, exclusive: bool) -> _Check:
    """``maximum``/``minimum``, compared exactly: against an int when
    the bound is integral, else against its exact ``Decimal``."""
    f = _to_fraction(m)
    b = f.numerator if f.denominator == 1 else Decimal(repr(m)) if isinstance(m, float) else Decimal(m)
    over, text = _OVER[kw, exclusive]
    sp, msg = "/" + kw, f"{text} {m}"

    def check(x, visited, ipath, spath, out):
        # a float compares as its shortest decimal form, as _to_fraction reads it
        if over(Decimal(repr(x)) if isinstance(x, float) else x, b):
            out.append(Failure(kw, ipath, spath + sp, msg, _dump(x)))

    return check


def _size_check(kw: str, m: Any, template: str) -> _Check:
    """max/minLength, max/minItems, max/minProperties: the instance's
    length against ``m``; ``template`` words the failure."""
    sp = "/" + kw
    over, op = (operator.gt, ">") if kw.startswith("max") else (operator.lt, "<")

    def check(x, visited, ipath, spath, out):
        n = len(x)
        if over(n, m):
            out.append(Failure(kw, ipath, spath + sp, template.format(n=n, op=op, m=m), _dump(x)))

    return check


def _compile_re(pattern: str) -> re.Pattern | None:
    try:
        return re.compile(pattern)
    except re.error:
        return None


def _pattern_check(pattern: str) -> _Check:
    """Unanchored search (String.hs:68-77); an uncompilable regex is
    itself a failure."""
    rx = _compile_re(pattern)
    if rx is None:
        msg = f"unusable regex {pattern!r}"

        def check(s, visited, ipath, spath, out):
            out.append(Failure("pattern", ipath, spath + "/pattern", msg, _dump(s)))

        return check
    search, msg = rx.search, f"does not match {pattern!r}"

    def check(s, visited, ipath, spath, out):
        if search(s) is None:
            out.append(Failure("pattern", ipath, spath + "/pattern", msg, _dump(s)))

    return check


def _unique_check(xs, visited, ipath, spath, out):
    if len({canonical(x) for x in xs}) != len(xs):
        out.append(Failure("uniqueItems", ipath, spath + "/uniqueItems", "duplicate items", _dump(xs)))


def _when(cls: Any, checks: list) -> _Check | None:
    """Run ``checks`` only on instances of ``cls`` (type mismatch is a
    vacuous pass, Draft4.hs:28-33)."""
    body = _chain(checks)
    if body is None:
        return None
    if cls is _NUMBER:
        def check(inst, visited, ipath, spath, out):
            if isinstance(inst, _NUMBER) and not isinstance(inst, bool):
                body(inst, visited, ipath, spath, out)
    else:
        def check(inst, visited, ipath, spath, out):
            if isinstance(inst, cls):
                body(inst, visited, ipath, spath, out)
    return check


class Draft4Validator:
    """Compile once, validate many: the reference's two-step checkSchema
    flow (examples/TwoStep.hs:35-48).

    The constructor turns each (schema node, resolution scope) into one
    closure that holds only the checks of the keywords present on that
    node, with its bounds, enum members, regexes and messages converted
    once; a ``$ref`` resolves and compiles its target the first time it
    runs and keeps it. ``validate`` runs the closures and reads no
    schema dict (tests/test_draft4_kat.py pins it)."""

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
        if check_schema:
            self._check_schema()
        # (id(node), scope) -> (node, check); the entry holds the node,
        # so no other node can take its id
        self._compiled: dict[tuple[int, str], tuple[Any, _Check | None]] = {}
        self._root = self._compile(schema, self.base_uri)

    def _check_schema(self) -> None:
        from hjsonschema_spark.draft4.metaschema import META_SCHEMA

        meta = Draft4Validator(META_SCHEMA)
        errs = meta.validate(self.schema)
        if errs:
            raise SchemaInvalid("; ".join(f.message for f in errs[:5]))

    # -- public API ----------------------------------------------------

    def validate(self, instance: Any) -> list[Failure]:
        out: list[Failure] = []
        if self._root is not None:
            self._root(instance, _FRESH, "", "", out)
        return out

    def is_valid(self, instance: Any) -> bool:
        return not self.validate(instance)

    # -- compiler --------------------------------------------------------

    def _compile(self, node: Any, scope: str) -> _Check | None:
        """The check for ``node`` under ``scope``; None when it can never
        fail (a non-object schema validates nothing)."""
        if not isinstance(node, dict):
            return None
        key = (id(node), scope)
        hit = self._compiled.get(key)
        if hit is None:
            try:
                built = self._build(node, scope)
            except (TypeError, ValueError, ArithmeticError) as e:
                # a keyword value the compile step cannot use (``"type":
                # 12``, a non-finite bound): name the node it sits on
                where = next(
                    (f"{uri}#{p}" for uri, doc in self.registry.docs.items()
                     if (p := _pointer_to(node, doc)) is not None),
                    "an unknown node",
                )
                raise SchemaInvalid(f"cannot compile the schema at {where}: {e!r}") from e
            hit = self._compiled[key] = (node, built)
        return hit[1]

    def _build(self, s: dict, scope: str) -> _Check | None:
        sid = s.get("id")
        if isinstance(sid, str) and sid:
            scope = urljoin(scope, sid)
        ref = s.get("$ref")
        if isinstance(ref, str):
            # $ref disables all sibling keywords (Spec.hs:129-133)
            return self._ref(ref, scope)

        checks: list = []
        if "type" in s:
            checks.append(_type_check(s["type"]))
        if isinstance(s.get("enum"), list):
            checks.append(_enum_check(s["enum"]))
        checks += [self._all_of(s, scope), self._any_of(s, scope), self._one_of(s, scope)]
        if "not" in s:
            checks.append(self._not(s["not"], scope))

        nums: list = []
        if _is_number(s.get("multipleOf")):
            nums.append(_multiple_of_check(s["multipleOf"]))
        for kw in ("maximum", "minimum"):
            if _is_number(s.get(kw)):
                excl = bool(s.get("exclusive" + kw[0].upper() + kw[1:], False))
                nums.append(_bound_check(kw, s[kw], excl))
        checks.append(_when(_NUMBER, nums))

        strs = [
            _size_check(kw, s[kw], "length {n} {op} {m}")
            for kw in ("maxLength", "minLength")
            if _is_number(s.get(kw))
        ]
        if isinstance(s.get("pattern"), str):
            strs.append(_pattern_check(s["pattern"]))
        checks.append(_when(str, strs))

        checks.append(_when(list, self._array(s, scope)))
        checks.append(_when(dict, self._object(s, scope)))
        return _chain(checks)

    def _ref(self, ref: str, scope: str) -> _Check:
        """Resolved, compiled and kept on first use. The visited set
        carries through $ref and the combinators at one data level and
        resets on descent (Spec.hs:146-150)."""
        abs_uri: str | None = None
        target: Any = None  # (check,) once resolved; () when unresolvable
        unresolved = f"could not resolve {ref!r} in scope {scope!r}"
        loop = f"ref loop at {ref!r}"

        def check(inst, visited, ipath, spath, out):
            nonlocal abs_uri, target
            if abs_uri is None:
                abs_uri = urljoin(scope, ref) if scope else ref
            if abs_uri in visited:
                out.append(Failure("$ref", ipath, spath + "/$ref", loop, _dump(inst)))
                return
            if target is None:
                hit = self.registry.resolve(ref, scope)
                target = () if hit is None else (self._compile(*hit),)
            if not target:
                out.append(Failure("$ref", ipath, spath + "/$ref", unresolved, _dump(inst)))
            elif target[0] is not None:
                target[0](inst, visited | {abs_uri}, ipath, spath + "/$ref", out)

        return check

    def _branches(self, s: dict, kw: str, scope: str) -> tuple[list, int] | None:
        """(compiled branches with their schema-path suffixes, number of
        branches that can never fail), or None when ``kw`` is absent or
        not a list."""
        subs = s.get(kw)
        if not isinstance(subs, list):
            return None
        checks, trivial = [], 0
        for i, sub in enumerate(subs):
            c = self._compile(sub, scope)
            if c is None:
                trivial += 1
            else:
                checks.append((c, f"/{kw}/{i}"))
        return checks, trivial

    def _all_of(self, s: dict, scope: str) -> _Check | None:
        got = self._branches(s, "allOf", scope)
        if not got or not got[0]:
            return None
        branches = tuple(got[0])

        def check(inst, visited, ipath, spath, out):
            for c, sfx in branches:
                c(inst, visited, ipath, spath + sfx, out)

        return check

    def _any_of(self, s: dict, scope: str) -> _Check | None:
        """Passes when a branch passes; else every branch's failures, or
        one ``anyOf`` failure when there are no branches."""
        got = self._branches(s, "anyOf", scope)
        if got is None or got[1]:
            return None
        branches = tuple(got[0])

        def check(inst, visited, ipath, spath, out):
            fails: list = []
            for c, sfx in branches:
                mine: list = []
                c(inst, visited, ipath, spath + sfx, mine)
                if not mine:
                    return
                fails += mine
            if fails:
                out += fails
            else:
                out.append(Failure("anyOf", ipath, spath + "/anyOf", "no branch matched", _dump(inst)))

        return check

    def _one_of(self, s: dict, scope: str) -> _Check | None:
        got = self._branches(s, "oneOf", scope)
        if got is None:
            return None
        branches, trivial = tuple(got[0]), got[1]

        def check(inst, visited, ipath, spath, out):
            n_pass = trivial
            for c, sfx in branches:
                mine: list = []
                c(inst, visited, ipath, spath + sfx, mine)
                n_pass += not mine
            if n_pass == 0:
                out.append(Failure("oneOf", ipath, spath + "/oneOf", "no branch matched", _dump(inst)))
            elif n_pass > 1:
                out.append(Failure("oneOf", ipath, spath + "/oneOf", f"{n_pass} branches matched", _dump(inst)))

        return check

    def _not(self, sub: Any, scope: str) -> _Check:
        inner = self._compile(sub, scope)

        def check(inst, visited, ipath, spath, out):
            sp = spath + "/not"
            if inner is not None:
                mine: list = []
                inner(inst, visited, ipath, sp, mine)
                if mine:
                    return
            out.append(Failure("not", ipath, sp, "matched disallowed schema", _dump(inst)))

        return check

    def _array(self, s: dict, scope: str) -> list:
        checks = [
            _size_check(kw, s[kw], "{n} items {op} {m}")
            for kw in ("maxItems", "minItems")
            if _is_number(s.get(kw))
        ]
        if s.get("uniqueItems") is True:
            checks.append(_unique_check)
        items = s.get("items")
        if isinstance(items, dict):
            each = self._compile(items, scope)
            if each is not None:
                def check(xs, visited, ipath, spath, out):
                    sp = spath + "/items"
                    for i, x in enumerate(xs):
                        each(x, _FRESH, f"{ipath}/{i}", sp, out)

                checks.append(check)
        elif isinstance(items, list):
            checks.append(self._tuple_items(items, s.get("additionalItems"), scope))
        return checks

    def _tuple_items(self, items: list, add: Any, scope: str) -> _Check:
        """Positional ``items``, then ``additionalItems`` for the rest."""
        n = len(items)
        each = tuple((self._compile(sub, scope), f"/items/{i}") for i, sub in enumerate(items))
        add_check = self._compile(add, scope)

        def check(xs, visited, ipath, spath, out):
            for i, (c, sfx) in enumerate(each[: len(xs)]):
                if c is not None:
                    c(xs[i], _FRESH, f"{ipath}/{i}", spath + sfx, out)
            if len(xs) <= n:
                return
            if add is False:
                extra = xs[n:]
                out.append(Failure("additionalItems", ipath, spath + "/additionalItems",
                                   f"{len(extra)} additional items not allowed", _dump(extra)))
            elif add_check is not None:
                sp = spath + "/additionalItems"
                for j in range(n, len(xs)):
                    add_check(xs[j], _FRESH, f"{ipath}/{j}", sp, out)

        return check

    def _object(self, s: dict, scope: str) -> list:
        checks = [
            _size_check(kw, s[kw], "{n} props {op} {m}")
            for kw in ("maxProperties", "minProperties")
            if _is_number(s.get(kw))
        ]
        if isinstance(s.get("required"), list):
            req = tuple(k for k in s["required"] if isinstance(k, str))

            def required(obj, visited, ipath, spath, out):
                missing = [k for k in req if k not in obj]
                if missing:
                    out.append(Failure("required", ipath, spath + "/required",
                                       f"missing required {missing}", _dump(obj)))

            checks.append(required)
        checks.append(self._members(s, scope))
        deps = s.get("dependencies")
        if isinstance(deps, dict):
            checks.append(self._dependencies(deps, scope))
        return checks

    def _members(self, s: dict, scope: str) -> _Check | None:
        """properties / patternProperties / additionalProperties, one
        pass over the instance's members in their order."""
        props = s.get("properties") if isinstance(s.get("properties"), dict) else {}
        pprops = s.get("patternProperties") if isinstance(s.get("patternProperties"), dict) else {}
        named = {k: (self._compile(sub, scope), f"/properties/{k}") for k, sub in props.items()}
        patterned = tuple(
            (rx.search, self._compile(sub, scope), f"/patternProperties/{pat}")
            for pat, sub in pprops.items()
            # uncompilable patternProperties keys are skipped silently
            # (Properties.hs:150-155)
            if (rx := _compile_re(pat)) is not None
        )
        add = s.get("additionalProperties")
        add_check = self._compile(add, scope)
        if not named and not patterned and add is not False and add_check is None:
            return None

        def check(obj, visited, ipath, spath, out):
            for k, v in obj.items():
                matched = False
                hit = named.get(k)
                if hit is not None:
                    matched = True
                    if hit[0] is not None:
                        hit[0](v, _FRESH, f"{ipath}/{k}", spath + hit[1], out)
                for search, c, sfx in patterned:
                    if search(k):
                        matched = True
                        if c is not None:
                            c(v, _FRESH, f"{ipath}/{k}", spath + sfx, out)
                if matched:
                    continue
                if add is False:
                    out.append(Failure("additionalProperties", f"{ipath}/{k}", spath + "/additionalProperties",
                                       f"unexpected property {k!r}", _dump(v)))
                elif add_check is not None:
                    add_check(v, _FRESH, f"{ipath}/{k}", spath + "/additionalProperties", out)

        return check

    def _dependencies(self, deps: dict, scope: str) -> _Check | None:
        """Property form: the listed members must be present. Schema
        form: lateral over the whole object, so ``visited`` carries."""
        each = []
        for k, dep in deps.items():
            if isinstance(dep, list):
                each.append((k, tuple(dep), None, f"/dependencies/{k}"))
            elif isinstance(dep, dict) and (c := self._compile(dep, scope)) is not None:
                each.append((k, None, c, f"/dependencies/{k}"))
        if not each:
            return None
        each = tuple(each)

        def check(obj, visited, ipath, spath, out):
            for k, names, c, sfx in each:
                if k not in obj:
                    continue
                if c is not None:
                    c(obj, visited, ipath, spath + sfx, out)
                    continue
                miss = [d for d in names if d not in obj]
                if miss:
                    out.append(Failure("dependencies", ipath, spath + sfx,
                                       f"{k!r} requires missing {miss}", _dump(obj)))

        return check
