"""Columnar (pure Catalyst expression) Draft-4 validation of a JSON column.

The mapInPandas path (draft4/udf.py) is exact for every schema but
loops per document inside each Arrow batch — the slowest operator per
byte in the engine. For the common telemetry shapes — a flat object
with scalar-typed properties, a flat array of scalars, and one-level
nesting (array-of-scalar properties, required-only object properties)
— the same Draft-4 semantics compile to pure Catalyst expressions over
Spark's VARIANT type, which preserves exact JSON semantics the way
``from_json`` cannot:

- missing key vs JSON ``null``: ``try_variant_get`` returns SQL NULL
  only when the key is absent; a JSON null is a variant-null value
  (``is_variant_null``), so ``required`` (satisfied by null, failed by
  absent — reference Object.hs required semantics) is expressible;
- JSON type classes survive: ``schema_of_variant`` reports STRING /
  BOOLEAN / BIGINT / DECIMAL(p,s) / DOUBLE / OBJECT / ARRAY / VOID, so
  type-mismatch ⇒ vacuous-pass guards (reference ``run``,
  src/JSONSchema/Validator/Draft4.hs:28-33) compile per keyword;
- ``1`` and ``1.0`` are both integers (variant normalizes ``1.0`` to
  DECIMAL(1,0)), matching the reference's mathematical number equality
  (src/JSONSchema/Validator/Utils.hs:94-119).

``validate_json_column_auto`` routes: schemas in the liftable subset
(see ``liftable``) run columnar; everything else falls back to the
exact UDF path. Both paths produce the same ``_valid`` column and the
same failure (keyword, instance_path, schema_path) triples; human
``message``/``value`` text differs between paths and is not part of
the contract (tests/test_columnar_json.py pins the parity that is).

Known deviation (documented, bounded): JSON numbers outside
decimal(38,18) range (|x| >= 1e20 or >18 fractional digits) fall back
to double comparisons, so integer/bounds checks on such magnitudes are
approximate where the UDF path's Fraction math is exact. Telemetry
payloads with >=1e20 numerics should use the UDF path explicitly.
(Corollary for oracle authors: a DuckDB twin of the UDF path is
double-approximate on such numerics too — DuckDB reads JSON numbers as
double — so exactness-sensitive comparisons belong in pytest KATs, not
SQL twins.)

Regex dialect: the columnar path executes ``pattern`` with Java regex
(rlike) while the UDF path uses Python ``re``. ``liftable`` therefore
admits only a conservative syntax subset that compiles AND behaves
identically in both dialects: literal characters, character classes
spelled out (``[a-z0-9_]``), ``.``, anchors, ``|``, quantifiers
(greedy and lazy), ``(?:...)`` groups, and escapes of regex
metacharacters / ``\\t \\n \\r``. Anything else — ``\\d \\w \\s \\b``
(Unicode in Python, ASCII in Java), named groups ``(?P<..>``
(Python-only syntax), inline flags, lookaround, backrefs, ``\\uXXXX``
— routes to the exact UDF path (round-4 ADVICE, columnar.py:106).

Array sizes/elements are read by casting the variant to
``array<variant>`` and using size/transform: one ``transform`` builds
each element's views once, as a struct, and a second builds the
element's failures from that struct (JVM-interpreted, not codegen —
still orders of magnitude cheaper than the per-document Python
interpreter, and arrays here are per-row payload fields, not the
engine's many-row x many-iteration hot path that CLAUDE.md's
higher-order-function rule targets).

Scale: the columnar plan runs in the JVM — no Python worker, no Arrow
transfer, no per-document interpreter — and scales with executors like
any other row check. Its work is staged as projections over the input:
(1) the parsed variant; (2) the root's type class and views, and one
``try_variant_get`` per property or required key; (3) each property's
views (``_VIEW_SQL``: type class, string, decimal, double, boolean,
array), only those some failure reads; (4) the failure array and (5)
the verdict, built from column references only, after which the
temporary columns are dropped. So each document is parsed once and
each property extracted once. The staging is needed because every
failure sits in a ``CaseWhen`` branch (guarded by the root being an
object), and Catalyst's subexpression elimination does not reach into
conditional branches: inlined, the parse and the extractions ran again
for every keyword. It holds because ``CollapseProject`` does not
inline a non-cheap expression that its consumer references more than
once. That is Catalyst behaviour, not API;
tests/test_columnar_json.py::test_staged_plan_parses_once pins it (on
pyspark 4.1.2).

The stages are written as Spark SQL text and each is applied with one
``selectExpr`` (the failures and the verdict with one ``withColumns``
of one ``F.expr`` each, which replaces a same-named input column in
place), then one ``drop``. Built from PySpark ``Column`` functions
instead, the benchmark's 4-property schema cost 3.7k py4j round trips
and about 0.2 s of driver time per call, as much as executing it on
12k documents, because each function call crosses to the JVM several
times (call-site capture included); as text it is about 90 round trips
and 0.04 s (tests/test_columnar_json.py::test_build_round_trips_bounded).
Every schema literal goes into the text through ``sqltext.str_lit``:
a string that could be read two ways (a quote, a backslash, a brace)
becomes a hex binary literal cast to string, so ``spark.sql.parser.
escapedStringLiterals`` and ``${var}`` substitution cannot change what
it means; numbers become exact decimal literals (``num_lit``). The
input column is read as ``F.col`` reads it (``col_ref``); every other
name is backtick-quoted (``ident``). tests/test_columnar_differential.py checks both
against the exact path under both parser settings. The failure array
is built by the Check IR's rule, ``sqltext.concat_conditional``: a
``concat`` of ``CASE WHEN cond THEN array(failure) ELSE <empty> END``,
which stays inside whole-stage codegen (``array_compact`` over an
``array`` of nullable structs is a higher-order ``filter`` and ran
interpreted). Only array items, read through ``transform``, still run
interpreted.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hjsonschema_spark.sqltext import col_ref, concat_conditional, ident, num_lit, str_lit

_SAFE_KEY = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_SCALAR_TYPES = ("string", "integer", "number", "boolean", "null")
_PROP_KEYWORDS = {
    "type", "enum", "minimum", "maximum", "exclusiveMinimum",
    "exclusiveMaximum", "minLength", "maxLength", "pattern",
}
_ARRAY_KEYWORDS = {"type", "items", "minItems", "maxItems"}
_ROOT_KEYWORDS = (
    {"properties", "required", "additionalProperties"} | _ARRAY_KEYWORDS
)

_FAIL_STRUCT = (
    "struct<keyword:string,instance_path:string,"
    "schema_path:string,message:string,value:string>"
)
# the failure column's type, on this path and on the exact one (udf.py)
_FAIL_DDL = f"array<{_FAIL_STRUCT}>"

# Escapes whose syntax AND semantics are identical in Python re and
# Java regex: metacharacter literals plus \t \n \r. Shorthand classes
# (\d \w \s and friends) are Unicode-aware in Python but ASCII in Java
# — excluded; write [0-9] / [a-zA-Z0-9_] / [ \t\n] instead.
_ESC_OK = set("\\.*+?()[]{}|^$-/tnr")


_QUANT_RE = re.compile(r"\{\d+(,\d*)?\}")


def _pattern_liftable(p: str) -> bool:
    """True when ``p`` is in the conservative dual-dialect regex subset
    (see module docstring): compiles under Python ``re`` and uses only
    constructs with identical semantics under Java ``rlike``.

    The scanner tracks character-class state (round-5 ADVICE): inside
    [...], an unescaped '[' (Java nested class), the '&&' sequence
    (Java class intersection), and ']' as the first class character
    (Python literal, Java empty-class error) are all dialect-divergent
    and reject. Outside classes, a bare '{' that does not open a valid
    {m}/{m,n} quantifier is a Python literal but a Java 'Illegal
    repetition' runtime error, and a bare '}' is rejected
    conservatively.

    Documented deviation (round-5 VERDICT item 3, pinned by
    tests/test_columnar_json.py::test_dollar_terminator_deviation,
    alongside the decimal(38,18) note): an unescaped '$' IS lifted even
    though the dialects disagree on which line terminators it matches
    before — Java also matches '$' before a final \\r\\n or \\r, Python
    ``re`` only before a final \\n. A pattern like 'x$' against the
    string 'x\\r\\n' therefore diverges (columnar/Java: match; exact
    UDF/Python: no match). Rejecting '$' would instead route the
    overwhelmingly common '^...$'-anchored patterns off the columnar
    fast path to guard an astronomically rare carriage-return edge in
    telemetry keys; the deviation is accepted and documented."""
    try:
        re.compile(p)
    except re.error:
        return False
    i, n = 0, len(p)
    in_class = False
    class_start = -1
    while i < n:
        c = p[i]
        if c == "\\":
            if i + 1 >= n or p[i + 1] not in _ESC_OK:
                return False
            i += 2
            continue
        if in_class:
            if c == "[":
                return False  # Java nested class
            if c == "&" and p[i : i + 2] == "&&":
                return False  # Java class intersection
            if c == "]":
                first = class_start + (2 if p[class_start + 1 : class_start + 2] == "^" else 1)
                if i == first:
                    return False  # ']' as first class char
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class = True
            class_start = i
            i += 1
            continue
        if c == "{":
            m = _QUANT_RE.match(p, i)
            if not m:
                return False  # bare '{': Python literal, Java error
            i = m.end()
            continue
        if c == "}":
            return False  # bare '}': conservative reject
        if c == "(" and p[i : i + 2] == "(?" and p[i : i + 3] != "(?:":
            return False  # named groups / flags / lookaround: dialect-specific
        i += 1
    return not in_class


def _decimal_ok(v: Any) -> bool:
    """Bound exactly representable as decimal(38,18)?"""
    try:
        d = Decimal(repr(float(v))) if isinstance(v, float) else Decimal(v)
        return abs(d) < Decimal(10) ** 20 and -d.as_tuple().exponent <= 18
    except Exception:
        return False


def _scalar_liftable(sub: Any) -> bool:
    """Scalar-keyword subschema (the original columnar property set)."""
    if not isinstance(sub, dict) or not set(sub) <= _PROP_KEYWORDS:
        return False
    t = sub.get("type")
    if t is not None and (not isinstance(t, str) or t not in _SCALAR_TYPES):
        return False
    if "enum" in sub:
        e = sub["enum"]
        if not isinstance(e, list) or not e:
            return False
        for m in e:
            if isinstance(m, bool) or m is None or isinstance(m, str):
                continue
            if isinstance(m, (int, float, Decimal)) and _decimal_ok(m):
                continue
            return False
    for kw in ("minimum", "maximum"):
        if kw in sub and (
            isinstance(sub[kw], bool)
            or not isinstance(sub[kw], (int, float, Decimal))
            or not _decimal_ok(sub[kw])
        ):
            return False
    for kw in ("exclusiveMinimum", "exclusiveMaximum"):
        # draft-4 meta-schema: exclusive* requires its base keyword;
        # schemas violating that dependency route to the exact path
        if kw in sub and (
            not isinstance(sub[kw], bool) or kw.replace("exclusive", "").lower() not in sub
        ):
            return False
    for kw in ("minLength", "maxLength"):
        if kw in sub and (isinstance(sub[kw], bool) or not isinstance(sub[kw], int)):
            return False
    if "pattern" in sub:
        p = sub["pattern"]
        if not isinstance(p, str) or not _pattern_liftable(p):
            return False
    return True


def _array_liftable(sub: Any) -> bool:
    """Flat array of scalars: type=array (or inferred by keywords),
    items object-form with a scalar-liftable subschema, integer
    minItems/maxItems. uniqueItems / tuple-form items route exact."""
    if not isinstance(sub, dict) or not set(sub) <= _ARRAY_KEYWORDS:
        return False
    t = sub.get("type")
    if t is not None and t != "array":
        return False
    it = sub.get("items")
    if it is not None and not _scalar_liftable(it):
        return False
    for kw in ("minItems", "maxItems"):
        if kw in sub and (isinstance(sub[kw], bool) or not isinstance(sub[kw], int)):
            return False
    return True


def _nested_obj_liftable(sub: Any) -> bool:
    """Required-only one-level nested object property."""
    if not isinstance(sub, dict) or not set(sub) <= {"type", "required"}:
        return False
    if sub.get("type") != "object":
        return False
    req = sub.get("required", [])
    return isinstance(req, list) and all(
        isinstance(k, str) and _SAFE_KEY.match(k) for k in req
    )


def _prop_liftable(sub: Any) -> bool:
    return (
        _scalar_liftable(sub) or _array_liftable(sub) or _nested_obj_liftable(sub)
    )


def liftable(schema: Any) -> bool:
    """True when ``schema`` is in the columnar subset: an object- or
    array-rooted schema whose keywords are properties / required /
    additionalProperties(true) / items / minItems / maxItems /
    type("object"|"array"), with every property subschema either
    scalar-typed (type / enum / bounds / length / dual-dialect
    pattern), a flat array of such scalars, or a required-only nested
    object. Everything else ($ref, combinators, deeper nesting,
    patternProperties, uniqueItems, tuple-form items, non-identifier
    keys, dialect-specific regex, ...) routes to the exact UDF."""
    if not isinstance(schema, dict) or not set(schema) <= _ROOT_KEYWORDS:
        return False
    t = schema.get("type")
    if t is not None and t not in ("object", "array"):
        return False
    if schema.get("additionalProperties") not in (None, True):
        return False
    req = schema.get("required", [])
    if not isinstance(req, list) or not all(
        isinstance(k, str) and _SAFE_KEY.match(k) for k in req
    ):
        return False
    props = schema.get("properties", {})
    if not isinstance(props, dict):
        return False
    if not all(_SAFE_KEY.match(k) and _prop_liftable(s) for k, s in props.items()):
        return False
    it = schema.get("items")
    if it is not None and not _scalar_liftable(it):
        return False
    for kw in ("minItems", "maxItems"):
        if kw in schema and (
            isinstance(schema[kw], bool) or not isinstance(schema[kw], int)
        ):
            return False
    return True


def _and(*xs: str) -> str:
    return "(" + " AND ".join(xs) + ")"


def _or(xs: list[str]) -> str:
    return "(" + " OR ".join(xs) + ")"


def _not(x: str) -> str:
    return f"(NOT {x})"


_EMPTY_FAILS = f"CAST(array() AS {_FAIL_DDL})"


def _fail(cond: str, keyword: str, ip: str, spath: str, value: str) -> tuple[str, str]:
    """(``cond``, a failure struct): the failure fires when ``cond``
    (guarded: never NULL) holds. ``ip`` is SQL: a literal, or a
    per-element (indexed) path."""
    return cond, (
        f"named_struct('keyword', {str_lit(keyword)}, "
        f"'instance_path', {ip}, 'schema_path', {str_lit(spath)}, "
        f"'message', {str_lit(f'{keyword} failed (columnar)')}, 'value', {value})"
    )


# The reads of one variant instance that its failure expressions share:
# the JSON type class, the value as string, decimal(38,18), double,
# boolean and array<variant> (each NULL when the instance does not have
# that shape), and whether it is present at all.
_VIEW_SQL = {
    "sch": "schema_of_variant({})",
    "str": "try_variant_get({}, '$', 'string')",
    "dec": "try_variant_get({}, '$', 'decimal(38,18)')",
    "dbl": "try_variant_get({}, '$', 'double')",
    "bool": "try_variant_get({}, '$', 'boolean')",
    "arr": "try_variant_get({}, '$', 'array<variant>')",
    "nn": "({} IS NOT NULL)",
}


class _Views:
    """The views (``_VIEW_SQL``) of the variant ``src`` that some failure
    reads, each defined once where it is staged: a projection column
    for the root and each property, a field of a per-element struct for
    array items. ``ref(n)`` is the SQL that reads view ``n`` there;
    ``defs`` collects the definitions of the views read so far.
    ``element``: ``src`` is a lambda variable that the failures cannot
    see, so presence is a view too, not an inline test of ``src``."""

    def __init__(self, src: str, ref: Callable[[str], str], element: bool = False):
        self.src, self.ref, self.element = src, ref, element
        self.defs: dict[str, str] = {}

    def __getitem__(self, n: str) -> str:
        self.defs.setdefault(n, _VIEW_SQL[n].format(self.src))
        return self.ref(n)

    @property
    def present(self) -> str:
        return self["nn"] if self.element else _VIEW_SQL["nn"].format(self.src)


def _has_class(sch: str, cls: str) -> str:
    """``schema_of_variant`` output names JSON type ``cls`` (never NULL)."""
    return f"coalesce(startswith({sch}, {str_lit(cls)}), false)"


def _scalar_failures(v: _Views, sub: dict, ip: str, sp: str) -> list[tuple[str, str]]:
    """(condition, failure struct) pairs for one scalar-subschema
    instance (a property value or an array element) with views ``v``;
    every condition is vacuously false when the instance is absent or
    the type class doesn't match the keyword (reference type-mismatch ⇒
    pass)."""
    present = v.present
    sch = v["sch"]
    as_str = v["str"]
    is_str = f"({sch} = 'STRING')"
    is_bool = f"({sch} = 'BOOLEAN')"
    is_null = f"({sch} = 'VOID')"
    is_num = f"({sch} IN ('BIGINT', 'DOUBLE', 'FLOAT') OR startswith({sch}, 'DECIMAL'))"

    def num_cmp(op: str, lit: str) -> str:
        # exact decimal compare when in range; double beyond (see
        # module docstring "known deviation")
        dec, dbl = v["dec"], v["dbl"]
        return (
            f"coalesce(CASE WHEN {dec} IS NOT NULL THEN ({dec} {op} {lit}) END, "
            f"({dbl} {op} {lit}), false)"
        )

    out: list[str] = []
    t = sub.get("type")
    if t is not None:
        if t == "integer":
            # mathematical integrality (reference Utils.hs:94-119: 1e3
            # and 1.0 ARE integers): variant stores 1e3 as DOUBLE, so
            # the type tag alone is not enough — test the VALUE for
            # wholeness, exact decimal compare when in range, double
            # beyond. (wholeness via % 1, NOT floor(): floor returns
            # LongType and overflows silently past 2^63 — 1e23 must
            # still be an integer)
            dec, dbl = v["dec"], v["dbl"]
            ok = _and(
                is_num,
                f"coalesce(CASE WHEN {dec} IS NOT NULL THEN (({dec} % 1) = 0) END, "
                f"(({dbl} % 1.0D) = 0.0D), false)",
            )
        else:
            ok = {
                "string": is_str,
                "boolean": is_bool,
                "null": is_null,
                "number": is_num,
            }[t]
        out.append(_fail(_and(present, _not(ok)), "type", ip, f"{sp}/type", as_str))
    if "enum" in sub:
        hits = []
        # string members as ONE IN (an InSet hash lookup above 10
        # members), not an OR chain of equalities
        strs = [m for m in sub["enum"] if isinstance(m, str)]
        if strs:
            hits.append(_and(is_str, f"({as_str} IN ({', '.join(map(str_lit, strs))}))"))
        for m in sub["enum"]:
            if isinstance(m, bool):
                hits.append(_and(is_bool, f"({v['bool']} = {str(m).lower()})"))
            elif m is None:
                hits.append(is_null)
            elif not isinstance(m, str):  # number: mathematical equality
                hits.append(_and(is_num, num_cmp("=", num_lit(m))))
        matched = f"coalesce({_or(hits)}, false)"
        out.append(_fail(_and(present, _not(matched)), "enum", ip, f"{sp}/enum", as_str))
    for kw, op in (("minimum", ">="), ("maximum", "<=")):
        if kw in sub:
            if sub.get(f"exclusive{kw[0].upper()}{kw[1:]}", False) is True:
                op = op[0]
            cmp = num_cmp(op, num_lit(sub[kw]))
            out.append(
                _fail(_and(present, is_num, _not(cmp)), kw, ip, f"{sp}/{kw}", as_str)
            )
    for kw, op in (("minLength", "<"), ("maxLength", ">")):
        if kw in sub:
            out.append(
                _fail(
                    _and(present, is_str, f"(length({as_str}) {op} {sub[kw]})"),
                    kw, ip, f"{sp}/{kw}", as_str,
                )
            )
    if "pattern" in sub:
        # unanchored search in both paths (rlike / re.search); the
        # liftable gate restricts syntax to the dual-dialect subset so
        # Java-vs-Python semantics cannot diverge here
        hit = f"coalesce(rlike({as_str}, {str_lit(sub['pattern'])}), false)"
        out.append(
            _fail(_and(present, is_str, _not(hit)), "pattern", ip, f"{sp}/pattern", as_str)
        )
    return out


def _array_failures(v: _Views, sub: dict, ip: str, sp: str, t: str) -> str:
    """Array-of-scalars checks on one variant instance with views
    ``v``: an ARRAY of failure structs (empty when the instance is not
    an array — type-mismatch ⇒ vacuous, matching the exact validator,
    whose array checks run only on list instances). The ``type``
    keyword itself is handled by the caller so its failure joins the
    scalar struct stream. ``t`` prefixes the lambda variables."""
    arr = v["arr"]
    singles = [
        _fail(f"(size({arr}) {op} {sub[kw]})", kw, str_lit(ip), f"{sp}/{kw}", v["str"])
        for kw, op in (("maxItems", ">"), ("minItems", "<"))
        if kw in sub
    ]
    parts = [concat_conditional(singles, _FAIL_STRUCT)] if singles else []
    it = sub.get("items")
    if isinstance(it, dict) and it:
        # per-element scalar checks: one transform builds each
        # element's views once, as a struct; a second reads them to
        # build the failures, with instance paths per index
        # (the exact validator's ipath/i)
        x, e, i = (ident(f"{t}{n}") for n in ("x", "e", "i"))
        ev = _Views(x, lambda n: f"{e}.{ident(n)}", element=True)
        efails = _scalar_failures(
            ev, it, f"concat({str_lit(ip + '/')}, CAST({i} AS STRING))", f"{sp}/items"
        )
        fields = ", ".join(f"'{n}', {d}" for n, d in ev.defs.items())
        parts.append(
            f"flatten(transform(transform({arr}, {x} -> named_struct({fields})), "
            f"({e}, {i}) -> {concat_conditional(efails, _FAIL_STRUCT)}))"
        )
    if not parts:
        return _EMPTY_FAILS
    total = parts[0]
    for p in parts[1:]:
        total = f"concat({total}, {p})"
    return f"CASE WHEN {arr} IS NOT NULL THEN {total} ELSE {_EMPTY_FAILS} END"


def _nested_required_failure(v: _Views, sub: dict, ip: str, sp: str) -> tuple[str, str] | None:
    """required inside a one-level nested object property: ONE failure
    listing applies only when the nested instance IS an object
    (the exact validator checks objects only on dict instances)."""
    req = sub.get("required") or []
    if not req:
        return None
    any_missing = _or(
        [f"(try_variant_get({v.src}, {str_lit(f'$.{k}')}, 'variant') IS NULL)" for k in req]
    )
    return _fail(
        _and(_has_class(v["sch"], "OBJECT"), any_missing), "required", str_lit(ip),
        f"{sp}/required", v["str"],
    )


def _temp_prefix(taken: list[str]) -> str:
    """A column-name prefix that no name in ``taken`` starts with,
    compared case-insensitively as Spark resolves names by default."""
    prefix = "_d4c"
    low = [c.lower() for c in taken]
    while any(c.startswith(prefix) for c in low):
        prefix += "_"
    return prefix


def validate_json_column_columnar(
    df: DataFrame,
    json_col: str,
    schema: dict[str, Any],
    valid_col: str = "_valid",
    failures_col: str = "_failures_json",
) -> DataFrame:
    """Compile a liftable schema (see ``liftable``) to pure columns.
    Same output contract as draft4.udf.validate_json_column: NULL json
    ⇒ NULL verdict, unparseable json ⇒ (False, [parse failure]).

    The work is staged as projections of SQL text (see the module
    docstring, "Scale"): the parsed variant; the root's views and one
    extraction per property or required key; each property's views;
    the failure array; the verdict. The first three stages' columns
    are named with a prefix no input column starts with, and are
    dropped at the end. The last two go through ``withColumns``, which
    replaces a same-named input column in place."""
    if not liftable(schema):
        raise ValueError("schema outside the columnar subset; use the UDF path")
    t = _temp_prefix([*df.columns, valid_col, failures_col])
    j = col_ref(json_col)
    var = ident(f"{t}v")
    props = schema.get("properties", {})
    keys = list(dict.fromkeys([*props, *(schema.get("required") or [])]))
    kcol = {k: f"{t}k{i}" for i, k in enumerate(keys)}
    root = _Views(var, lambda n: ident(f"{t}r_{n}"))
    views = {
        k: _Views(ident(kcol[k]), lambda n, c=kcol[k]: ident(f"{c}_{n}")) for k in props
    }
    root_is_obj = _has_class(root["sch"], "OBJECT")

    fails: list[tuple[str, str]] = []
    fail_arrays: list[str] = []
    if schema.get("type") in ("object", "array"):
        cls = "OBJECT" if schema["type"] == "object" else "ARRAY"
        fails.append(_fail(_not(_has_class(root["sch"], cls)), "type", "''", "/type", root["str"]))
    if schema.get("required"):
        # ONE failure regardless of how many keys are missing (the
        # exact path reports a single required failure listing them);
        # required applies only to objects (type-mismatch => pass).
        any_missing = _or([f"({ident(kcol[k])} IS NULL)" for k in schema["required"]])
        fails.append(_fail(_and(root_is_obj, any_missing), "required", "''", "/required", j))
    for k, sub in props.items():
        v = views[k]
        ip, sp = f"/{k}", f"/properties/{k}"
        if _scalar_liftable(sub):
            fails.extend(
                (_and(root_is_obj, cond), f) for cond, f in _scalar_failures(v, sub, str_lit(ip), sp)
            )
            continue
        if sub.get("type") in ("array", "object"):
            cls = "ARRAY" if sub["type"] == "array" else "OBJECT"
            fails.append(
                _fail(
                    _and(root_is_obj, v.present, _not(_has_class(v["sch"], cls))), "type",
                    str_lit(ip), f"{sp}/type", v["str"],
                )
            )
        if _array_liftable(sub):
            fail_arrays.append(
                f"CASE WHEN {root_is_obj} THEN {_array_failures(v, sub, ip, sp, t)} "
                f"ELSE {_EMPTY_FAILS} END"
            )
        else:  # nested required-only object
            nf = _nested_required_failure(v, sub, ip, sp)
            if nf is not None:
                fails.append((_and(root_is_obj, nf[0]), nf[1]))
    if any(kw in schema for kw in ("items", "minItems", "maxItems")):
        fail_arrays.append(_array_failures(root, schema, "", "", t))

    fail_arr = concat_conditional(fails, _FAIL_STRUCT)
    for fa in fail_arrays:
        fail_arr = f"concat({fail_arr}, {fa})"
    parse_fail = (
        "named_struct('keyword', 'parse', 'instance_path', '', 'schema_path', '', "
        f"'message', 'invalid JSON', 'value', substring({j}, 1, 256))"
    )
    failures = (
        f"CASE WHEN {j} IS NULL THEN NULL WHEN {var} IS NULL THEN array({parse_fail}) "
        f"ELSE {fail_arr} END"
    )
    valid = f"CASE WHEN {j} IS NULL THEN NULL ELSE size({ident(failures_col)}) = 0 END"
    # the views no failure reads are never defined
    stages = [
        {f"{t}v": f"try_parse_json({j})"},
        {
            **{f"{t}r_{n}": d for n, d in root.defs.items()},
            **{kcol[k]: f"try_variant_get({var}, {str_lit(f'$.{k}')}, 'variant')" for k in keys},
        },
        {f"{kcol[k]}_{n}": d for k in props for n, d in views[k].defs.items()},
    ]
    for exprs in stages:
        if exprs:
            df = df.selectExpr("*", *(f"{e} AS {ident(n)}" for n, e in exprs.items()))
    df = df.withColumns({failures_col: F.expr(failures)})
    df = df.withColumns({valid_col: F.expr(valid)})
    return df.drop(*[n for exprs in stages for n in exprs])


def validate_json_column_auto(
    df: DataFrame,
    json_col: str,
    schema: dict[str, Any],
    registry: dict[str, Any] | None = None,
    valid_col: str = "_valid",
    failures_col: str = "_failures_json",
) -> DataFrame:
    """Route to the columnar compile when the schema is liftable (and
    needs no registry), else to the exact mapInPandas validator —
    closing the gap that nothing routed between the two paths
    (round-3 VERDICT audit note on draft4/udf.py)."""
    if registry is None and liftable(schema):
        return validate_json_column_columnar(df, json_col, schema, valid_col, failures_col)
    from hjsonschema_spark.draft4.udf import validate_json_column

    return validate_json_column(df, json_col, schema, registry, valid_col, failures_col)
