"""Check IR → Spark SQL text compiler.

Row-level checks become guarded boolean SQL expressions fused into one
projection (the "single fused pass per partition" of the north star —
Catalyst whole-stage-codegens the entire predicate set); table-level
checks become dedicated aggregate / window / broadcast-join passes.

Every pass is written as Spark SQL text and applied with one
``selectExpr`` or a few ``F.expr`` (``withColumns``, ``agg``): no
builder calls ``F.col`` or a ``Column`` method. Each such call crosses
to the JVM several times (active-session lookup, a conf read, the
call-site origin set and clear; on pyspark 4.1.2 the call-site capture
also tries ``import IPython`` on every call), which made building the
benchmark suite's plan cost 4.7k py4j round trips cold and 2.4k warm.
As text it is a few hundred, with no memo, so a cold build costs what
a warm one does. Literals and names go through ``sqltext`` (shared with
the columnar draft-4 path), so ``spark.sql.parser.escapedStringLiterals``
and ``${var}`` substitution cannot change a map key, an enum member or
a regex.

Three-valued-logic rule (SURVEY.md §2.5): every row predicate is
wrapped so NULL input ⇒ pass (the columnar analogue of the reference's
type-mismatch ⇒ vacuous pass, src/JSONSchema/Validator/Draft4.hs:28-33)
and a NULL predicate result ⇒ fail-closed ``false`` only inside the
guard, never leaking NULL into the verdict.
"""

from __future__ import annotations

import hashlib
import re
from decimal import Decimal

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hjsonschema_spark.checks.ir import (
    AggBounds,
    AllOf,
    AnyOf,
    ArrayForAll,
    ArrayPositional,
    ArraySize,
    ArrayUnique,
    Bounds,
    Check,
    ChiSquareDrift,
    ColumnsAllowed,
    ConfigInvalid,
    Custom,
    DependentSchema,
    Enum,
    FunctionalDependency,
    GroupAggBounds,
    KSDrift,
    Length,
    MapKeysAllowed,
    MapPatternValues,
    MapRequiredKeys,
    MapSize,
    Monotonic,
    MultipleOf,
    NonNullCount,
    Not,
    NotNullIf,
    NullRateMax,
    OneOf,
    Pattern,
    PatternColumns,
    RefIntegrity,
    Required,
    RowCheck,
    SequencePattern,
    Contiguous,
    TypeIs,
    UniqueKey,
)
from hjsonschema_spark.operators.drift import ecdf_gap
from hjsonschema_spark.sqltext import col_ref, concat_conditional, ident, lit, str_lit, struct

FAILURE_STRUCT = "check string, column string, value string"
_FAILURES_TYPE = f"array<struct<{FAILURE_STRUCT}>>"
_INF = "CAST('Infinity' AS DOUBLE)"


def _and(xs) -> str:
    """Conjunction; of nothing, true (an empty schema accepts all)."""
    xs = list(xs)
    return "(" + " AND ".join(xs) + ")" if xs else "true"


def _or(xs) -> str:
    return "(" + " OR ".join(xs) + ")"


def _not(x: str) -> str:
    return f"(NOT {x})"


def _guard(col: str, pred: str) -> str:
    """NULL value => vacuous pass; NULL predicate => false."""
    return f"CASE WHEN ({col} IS NULL) THEN true ELSE coalesce({pred}, false) END"


def _empty(array_type: str) -> str:
    return f"CAST(array() AS {array_type})"


def _window(partition_by, order_by=()) -> str:
    """A window specification over column names."""
    parts = []
    if partition_by:
        parts.append("PARTITION BY " + ", ".join(map(col_ref, partition_by)))
    if order_by:
        parts.append("ORDER BY " + ", ".join(map(col_ref, order_by)))
    return " ".join(parts)


def _viol_tail(check: str, column: str | None, value: str) -> list[str]:
    """The (check, column, value) string tail of a violation row."""
    return [
        f"{str_lit(check)} AS `check`",
        f"CAST({lit(column)} AS STRING) AS `column`",
        f"CAST({value} AS STRING) AS `value`",
    ]


def _failure(check: str, column: str | None, value: str) -> str:
    """A failure struct<check, column, value> for the given check id,
    column name and SQL value."""
    return struct(
        ("check", str_lit(check)), ("column", f"CAST({lit(column)} AS STRING)"), ("value", value)
    )


def _compilable(regex: str) -> bool:
    try:
        re.compile(regex)
        return True
    except re.error:
        return False


def _map_remainder_sql(c: MapKeysAllowed) -> str:
    """SQL for the map of entries matched by NEITHER the allowed keys
    nor any compilable pattern (Properties.hs:106-108 remainder rule;
    uncompilable patterns skipped silently per Properties.hs:150-155)."""
    terms = []
    if c.keys:
        terms.append(f"k IN ({', '.join(str_lit(k) for k in c.keys)})")
    terms += [f"k RLIKE {str_lit(p)}" for p in c.patterns if _compilable(p)]
    allowed = " OR ".join(terms) if terms else "false"
    return f"map_filter({col_ref(c.column)}, (k, v) -> NOT ({allowed}))"


def check_id(c: Check) -> str:
    """Stable human-readable id for a check node (violation labels)."""
    if isinstance(c, Required):
        return f"required:{c.column}"
    if isinstance(c, Enum):
        return f"enum:{c.column}"
    if isinstance(c, Bounds):
        return f"bounds:{c.column}"
    if isinstance(c, Length):
        return f"length:{c.column}"
    if isinstance(c, Pattern):
        return f"pattern:{c.column}"
    if isinstance(c, MultipleOf):
        return f"multiple_of:{c.column}"
    if isinstance(c, NotNullIf):
        return f"not_null_if:{c.column}"
    if isinstance(c, DependentSchema):
        return (
            f"dependent_schema:{c.when_column}("
            + ",".join(check_id(k) for k in c.checks)
            + ")"
        )
    if isinstance(c, ArraySize):
        return f"array_size:{c.column}"
    if isinstance(c, ArrayUnique):
        return f"array_unique:{c.column}"
    if isinstance(c, ArrayForAll):
        return f"array_forall:{c.column}"
    if isinstance(c, TypeIs):
        return f"type_is:{c.column}"
    if isinstance(c, NonNullCount):
        return f"non_null_count:{','.join(c.columns)}"
    if isinstance(c, MapSize):
        return f"map_size:{c.column}"
    if isinstance(c, MapRequiredKeys):
        return f"map_required_keys:{c.column}"
    if isinstance(c, MapKeysAllowed):
        return f"map_keys_allowed:{c.column}"
    if isinstance(c, MapPatternValues):
        return f"map_pattern_values:{c.column}:{c.key_regex}"
    if isinstance(c, ArrayPositional):
        return f"array_positional:{c.column}"
    if isinstance(c, ColumnsAllowed):
        return "columns_allowed"
    if isinstance(c, PatternColumns):
        return f"pattern_columns:{c.name_regex}"
    if isinstance(c, Custom):
        return f"custom:{c.name}"
    if isinstance(c, AllOf):
        return "all_of(" + ",".join(check_id(k) for k in c.checks) + ")"
    if isinstance(c, AnyOf):
        return "any_of(" + ",".join(check_id(k) for k in c.checks) + ")"
    if isinstance(c, OneOf):
        return "one_of(" + ",".join(check_id(k) for k in c.checks) + ")"
    if isinstance(c, Not):
        return f"not({check_id(c.check)})"
    if isinstance(c, UniqueKey):
        return "unique_key:" + ",".join(c.columns)
    if isinstance(c, RefIntegrity):
        return f"ref_integrity:{','.join(c.columns)}->{c.ref_name}"
    if isinstance(c, Contiguous):
        return f"contiguous:{c.order_column}"
    if isinstance(c, FunctionalDependency):
        return (
            "functional_dependency:"
            + ",".join(c.determinant)
            + "->"
            + ",".join(c.dependent)
        )
    if isinstance(c, Monotonic):
        return f"monotonic:{c.column}"
    if isinstance(c, SequencePattern):
        return f"sequence_pattern:{c.column} by {','.join(c.group_by)}"
    if isinstance(c, GroupAggBounds):
        return f"group_agg_bounds:{c.agg}({c.column}) by {','.join(c.group_by)}"
    if isinstance(c, NullRateMax):
        return f"null_rate_max:{c.column}"
    if isinstance(c, AggBounds):
        if c.agg in ("quantile", "approx_quantile"):
            return f"agg_bounds:{c.agg}({c.column},{c.quantile:g})"
        return f"agg_bounds:{c.agg}({c.column})"
    if isinstance(c, ChiSquareDrift):
        return f"chi2_drift:{c.column}->{c.ref_name}"
    if isinstance(c, KSDrift):
        return f"ks_drift:{c.column}->{c.ref_name}"
    raise ConfigInvalid(f"no id for {type(c).__name__}")


def _pcre_name(column: str, regex: str) -> str:
    """Name of the pre-computed column holding a pcre-mode Pattern's
    match flag for (column, regex)."""
    h = hashlib.sha1(f"{column}\0{regex}".encode()).hexdigest()[:16]
    return f"_pcre_{h}"


def _pcre_patterns(checks) -> dict:
    """{column name: (column, regex)} of every pcre-mode Pattern under
    ``checks``, combinator children included."""
    out: dict = {}
    for c in checks:
        if isinstance(c, Pattern) and c.mode == "pcre":
            out[_pcre_name(c.column, c.regex)] = (c.column, c.regex)
        elif isinstance(c, (AllOf, AnyOf, OneOf, DependentSchema)):
            out.update(_pcre_patterns(c.checks))
        elif isinstance(c, Not):
            out.update(_pcre_patterns((c.check,)))
    return out


def _pcre_predicate(column: str, regex: str) -> Column:
    """Vectorized Arrow-batched regex for full PCRE parity — the regex
    is compiled ONCE per python worker via closure, fixing the
    reference's recompile-per-call anti-pattern (String.hs:70)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _match(s: pd.Series) -> pd.Series:
        import re

        rx = re.compile(regex)
        return s.map(lambda x: None if x is None else rx.search(x) is not None)

    return _match(column)


def _sizes(col: str, lo, hi, measure: str = "size") -> str:
    preds = []
    if lo is not None:
        preds.append(f"({measure}({col}) >= {lit(lo)})")
    if hi is not None:
        preds.append(f"({measure}({col}) <= {lit(hi)})")
    return _and(preds)


def _non_null_count(columns) -> str:
    return "(" + " + ".join(f"CAST(({col_ref(x)} IS NOT NULL) AS INT)" for x in columns) + ")"


def _forall(arr: str, pred: str) -> str:
    """Every element ``x`` of ``arr`` satisfies the SQL predicate."""
    return f"forall({arr}, x -> coalesce(({pred}), false))"


def compile_row_predicate(c: RowCheck) -> str:
    """Check → boolean SQL expression, true = pass. Total: never NULL."""
    col = col_ref(c.column) if getattr(c, "column", "") else None
    if isinstance(c, Required):
        return f"({col} IS NOT NULL)"
    if isinstance(c, Enum):
        if len(set(c.values)) != len(c.values):  # non-unique => vacuous
            return "true"
        return _guard(col, f"({col} IN ({', '.join(lit(v) for v in c.values)}))")
    if isinstance(c, Bounds):
        preds = []
        if c.min is not None:
            preds.append(f"({col} {'>' if c.exclusive_min else '>='} {lit(c.min)})")
        if c.max is not None:
            preds.append(f"({col} {'<' if c.exclusive_max else '<='} {lit(c.max)})")
        return _guard(col, _and(preds))
    if isinstance(c, Length):
        return _guard(col, _sizes(col, c.min_len, c.max_len, "length"))
    if isinstance(c, Pattern):
        if c.mode == "pcre":
            return _guard(col, ident(_pcre_name(c.column, c.regex)))
        return _guard(col, f"({col} RLIKE {str_lit(c.regex)})")
    if isinstance(c, MultipleOf):
        n = Decimal(str(c.n))
        if n <= 0:  # reference quirk: non-positive n => vacuous pass
            return "true"
        dec = "decimal(38,12)"
        return _guard(col, f"((CAST({col} AS {dec}) % CAST({lit(n)} AS {dec})) = 0)")
    if isinstance(c, ArraySize):
        return _guard(col, _sizes(col, c.min_items, c.max_items))
    if isinstance(c, ArrayUnique):
        arr = col
        if c.numeric_canonical:
            # mathematical equality (Utils.hs:94-119): canonicalize to
            # decimal before comparing, so 1 == 1.0 == 1.00. try_cast,
            # not cast: non-numeric elements (string arrays under ANSI
            # mode) fall back to their raw string instead of throwing,
            # so the same check config is safe on any element type.
            arr = (
                f"transform({col}, x -> coalesce(CAST(try_cast(x AS decimal(38,18)) AS STRING), "
                f"CAST(x AS STRING)))"
            )
        return _guard(col, f"(size(array_distinct({arr})) = size({arr}))")
    if isinstance(c, ArrayForAll):
        return _guard(col, _forall(col, c.element_predicate))
    if isinstance(c, NonNullCount):
        cnt = _non_null_count(c.columns)
        preds = []
        if c.min_count is not None:
            preds.append(f"({cnt} >= {lit(c.min_count)})")
        if c.max_count is not None:
            preds.append(f"({cnt} <= {lit(c.max_count)})")
        # always applicable (the count itself is never NULL)
        return _and(preds)
    if isinstance(c, MapSize):
        return _guard(col, _sizes(col, c.min_props, c.max_props))
    if isinstance(c, MapRequiredKeys):
        keys_arr = f"array({', '.join(str_lit(k) for k in c.keys)})"
        return _guard(col, f"forall({keys_arr}, k -> map_contains_key({col}, k))")
    if isinstance(c, MapKeysAllowed):
        rem = _map_remainder_sql(c)
        if c.additional == "none":
            return _guard(col, f"(size({rem}) = 0)")
        # additionalProperties=schema: every remainder VALUE must
        # satisfy the predicate (Properties.hs:199-209); the lambda
        # binds the value as `x` so the predicate language matches
        # ArrayForAll's
        return _guard(col, _forall(f"map_values({rem})", c.additional))
    if isinstance(c, MapPatternValues):
        if not _compilable(c.key_regex):
            return "true"  # pattern skipped silently (Properties.hs:150-155)
        matched = f"map_filter({col}, (k, v) -> k RLIKE {str_lit(c.key_regex)})"
        return _guard(col, _forall(f"map_values({matched})", c.value_predicate))
    if isinstance(c, ArrayPositional):
        n = len(c.element_predicates)
        # forall over a 1-element slice: empty slice (missing element)
        # => true, matching "a missing positional element passes"
        preds = [
            _forall(f"slice({col}, {i + 1}, 1)", ep)
            for i, ep in enumerate(c.element_predicates)
        ]
        if c.additional == "none":
            preds.append(f"(size({col}) <= {n})")
        elif c.additional != "any":
            preds.append(_forall(f"slice({col}, {n + 1}, 1000000000)", c.additional))
        return _guard(col, _and(preds))
    if isinstance(c, TypeIs):
        # resolved statically in run_suite (schema conformance)
        return "true"
    if isinstance(c, DependentSchema):
        # when_column absent => vacuous pass (Object.hs:160-183: the
        # dependency only fires when key k is present); present => the
        # whole row must satisfy every child (children carry their own
        # NULL guards, so a NULL in a child's column still passes it)
        conj = _and(compile_row_predicate(k) for k in c.checks)
        return _guard(col_ref(c.when_column), conj)
    if isinstance(c, NotNullIf):
        cond = f"({col_ref(c.when_column)} <=> {lit(c.equals)})"
        otherwise = f"({col} IS NULL)" if c.only else "true"
        return f"coalesce(CASE WHEN {cond} THEN ({col} IS NOT NULL) ELSE {otherwise} END, false)"
    if isinstance(c, AllOf):
        return _and(compile_row_predicate(k) for k in c.checks)
    if isinstance(c, AnyOf):
        return _or(compile_row_predicate(k) for k in c.checks)
    if isinstance(c, OneOf):
        total = " + ".join(f"CAST({compile_row_predicate(k)} AS INT)" for k in c.checks)
        return f"(({total}) = 1)"
    if isinstance(c, Not):
        return _not(compile_row_predicate(c.check))
    if isinstance(c, Custom):
        return f"coalesce(({c.expr}), false)"
    raise ConfigInvalid(f"not a row check: {type(c).__name__}")


def _failed_leaf_ids(c: RowCheck) -> str:
    """array<string> of the check ids of failed LEAF checks under `c`
    (AllOf branches recurse; any other node is its own leaf) — the
    per-branch failure detail the reference's applicator failures carry
    (Any.hs:364-410)."""
    if isinstance(c, AllOf) and c.checks:
        return f"flatten(array({', '.join(_failed_leaf_ids(k) for k in c.checks)}))"
    return (
        f"CASE WHEN {_not(compile_row_predicate(c))} THEN array({str_lit(check_id(c))}) "
        f"ELSE {_empty('array<string>')} END"
    )


def _branch_indices(checks, passing: bool) -> str:
    """array<int> of the indices of the branches that pass (or fail)."""
    flags = f"array({', '.join(compile_row_predicate(k) for k in checks)})"
    hit = "b" if passing else "NOT b"
    return f"filter(transform({flags}, (b, i) -> CASE WHEN {hit} THEN i END), x -> x IS NOT NULL)"


def _violating_value(c: RowCheck) -> str:
    if isinstance(c, OneOf):
        # failure-detail parity with the reference's oneOf
        # (Any.hs:416-482): distinguish NoSuccesses from
        # TooManySuccesses and report the indices of passing branches
        passed_idx = _branch_indices(c.checks, passing=True)
        n_passed = f"size({passed_idx})"
        kind = f"CASE WHEN ({n_passed} = 0) THEN 'no_successes' ELSE 'too_many_successes' END"
        return (
            f"to_json({struct(('failure', kind), ('n_passed', n_passed), ('passed_branches', passed_idx))})"
        )
    if isinstance(c, (AllOf, DependentSchema)):
        # per-branch detail (Any.hs:364-377): the indices of the
        # failing branches (branch check-ids are in the check id); for
        # DependentSchema, which child checks failed while when_column
        # was present
        return f"to_json({struct(('failed_branches', _branch_indices(c.checks, passing=False)))})"
    if isinstance(c, AnyOf):
        # per-branch failure detail (Any.hs:395-410): anyOf only fails
        # when EVERY branch fails — report each branch's failed leaf
        # check ids, mirroring AnyOfInvalid carrying all branches'
        # failures
        branches = ", ".join(
            struct(("branch", str(i)), ("failed", _failed_leaf_ids(k)))
            for i, k in enumerate(c.checks)
        )
        return (
            f"to_json({struct(('failure', str_lit('no_successes')), ('branch_failures', f'array({branches})'))})"
        )
    if isinstance(c, NonNullCount):
        return f"CAST({_non_null_count(c.columns)} AS STRING)"
    if isinstance(c, MapRequiredKeys):
        # the missing keys (RequiredInvalid's leftovers, Object.hs:104)
        keys_arr = f"array({', '.join(str_lit(k) for k in c.keys)})"
        return (
            f"array_join(array_sort(filter({keys_arr}, "
            f"k -> NOT map_contains_key({col_ref(c.column)}, k))), ',')"
        )
    if isinstance(c, MapKeysAllowed):
        rem = _map_remainder_sql(c)
        if c.additional == "none":
            return f"array_join(array_sort(map_keys({rem})), ',')"
        # keys of remainder entries whose VALUE failed the predicate
        # (lambda binds the value as `x`, same language as the check)
        return (
            f"array_join(array_sort(map_keys(map_filter({rem}, "
            f"(k, x) -> NOT coalesce(({c.additional}), false)))), ',')"
        )
    if isinstance(c, MapPatternValues):
        if not _compilable(c.key_regex):
            return "CAST(NULL AS STRING)"  # vacuous check, never fails
        matched = f"map_filter({col_ref(c.column)}, (k, v) -> k RLIKE {str_lit(c.key_regex)})"
        return (
            f"array_join(array_sort(map_keys(map_filter({matched}, "
            f"(k, x) -> NOT coalesce(({c.value_predicate}), false)))), ',')"
        )
    col = getattr(c, "column", None)
    if col:
        return f"CAST({col_ref(col)} AS STRING)"
    return "CAST(NULL AS STRING)"


def _primary_column(c: RowCheck) -> str | None:
    if isinstance(c, NonNullCount):
        return ",".join(c.columns)
    if isinstance(c, DependentSchema):
        return c.when_column
    return getattr(c, "column", None) or getattr(c, "name", None)


def _fused_failures(checks: tuple) -> str:
    pairs = [
        (
            _not(compile_row_predicate(c)),
            _failure(check_id(c), _primary_column(c), _violating_value(c)),
        )
        for c in checks
    ]
    return concat_conditional(pairs, f"struct<{FAILURE_STRUCT}>")


def _pushdown_barrier(failures: str) -> str:
    """Append a never-firing NONDETERMINISTIC term to the fused array so
    PushDownPredicates cannot substitute the expression through this
    projection. Catalyst's InferFiltersFromGenerate adds
    ``size(_failures) > 0`` below the violations explode, and pushdown
    then substitutes the ENTIRE fused expression through the fan-out
    exchange into the (row-group-limited, effectively single-task) scan
    stage — serializing the whole row pass AND evaluating it twice
    (Filter below the exchange + Project above it; measured: one 2.7s-CPU
    task of a 6.6s suite_violations wall carried 600k input rows while
    31 cores idled). Same defect class as the clean_rows ``_fanned`` pin,
    which covers only the filter clean_rows itself builds — this covers
    the inferred one. spark_partition_id() is never negative, so the
    appended term is always the empty array and the output is
    byte-identical; the CASE branches differ structurally so constant
    folding cannot erase the marker. Applied ONLY when run_suite
    actually fanned out (well-partitioned production inputs keep full
    pushdown semantics).

    Version coupling: the pin relies on Catalyst treating
    spark_partition_id() as nondeterministic; checked on pyspark 4.1.2
    (tests/test_plans.py pins the plan shape)."""
    null = "CAST(NULL AS STRING)"
    ghost = f"array({struct(('check', null), ('column', null), ('value', null))})"
    return (
        f"concat({failures}, CASE WHEN (spark_partition_id() < 0) THEN {ghost} "
        f"ELSE {_empty(_FAILURES_TYPE)} END)"
    )


def compile_fused_pass(
    df: DataFrame, checks: list[RowCheck], barrier: bool = False
) -> DataFrame:
    """ALL row checks in one projection; appends ``_failures``:
    array<struct<check,column,value>> of the failed checks for the row.
    All validators run, all failures collected — no short-circuit
    (src/JSONSchema/Types.hs:20-26). barrier=True additionally blocks
    predicate pushdown through the projection (see _pushdown_barrier) —
    set by run_suite iff it fanned the input out. A pcre-mode Pattern's
    match flag is a pandas UDF column computed in the projection below
    and dropped after it (the one Python worker a suite can bring)."""
    pcre = _pcre_patterns(checks)
    if pcre:
        df = df.withColumns({n: _pcre_predicate(col, rx) for n, (col, rx) in pcre.items()})
    failures = _fused_failures(tuple(checks))
    if barrier:
        failures = _pushdown_barrier(failures)
    out = df.withColumn("_failures", F.expr(failures))
    return out.drop(*pcre) if pcre else out


# --------------------------------------------------------------------------
# table-level passes: each returns a violations DataFrame with schema
#   key_columns... , check string, column string, value string
# --------------------------------------------------------------------------

def _refs(names) -> list[str]:
    """Column references for names, duplicates dropped in order."""
    return [col_ref(n) for n in dict.fromkeys(names)]


def _as_violations(df: DataFrame, key_columns: tuple, check: str, column: str | None, value: str) -> DataFrame:
    return df.selectExpr(*map(col_ref, key_columns), *_viol_tail(check, column, value))


def _group_key_exprs(df: DataFrame, group_by, key_columns: tuple, keep: str | None = None) -> list[str]:
    """Key-column projection for group-scoped violations: keys in the
    group carry their value, the rest are typed NULLs (or, with
    ``keep``, their value where the SQL condition ``keep`` holds)."""
    dtypes = dict(df.dtypes)
    out = []
    for k in key_columns:
        if k in group_by:
            out.append(f"{col_ref(k)} AS {ident(k)}")
        elif keep is None:
            out.append(f"CAST(NULL AS {dtypes.get(k, 'string')}) AS {ident(k)}")
        else:
            out.append(
                f"CAST(CASE WHEN {keep} THEN {col_ref(k)} ELSE NULL END "
                f"AS {dtypes.get(k, 'string')}) AS {ident(k)}"
            )
    return out


def run_unique_key(df: DataFrame, c: UniqueKey, key_columns: tuple) -> DataFrame:
    """groupBy-having (map-side partial agg shrinks the shuffle when
    keys are mostly unique), then join the duplicate-key set back to
    tag every offending row. No forced broadcast: the dup set is
    usually tiny and AQE will pick a broadcast join when it actually
    fits, but on boilerplate-heavy corpora it can be billions of rows —
    a broadcast hint there is an OOM, a shuffle join is not."""
    cols = list(c.columns)
    slim = df.selectExpr(*_refs([*cols, *key_columns]))
    dup_keys = slim.groupBy(*cols).count().filter("`count` > 1")
    tagged = slim.join(dup_keys, on=cols, how="inner")
    return _as_violations(tagged, key_columns, check_id(c), ",".join(cols), "`count`")


def run_ref_integrity(df: DataFrame, c: RefIntegrity, vocab: DataFrame, key_columns: tuple) -> DataFrame:
    """Broadcast left-anti join; NULL FK passes (Required owns nulls)."""
    cols = list(c.columns)
    ref_cols = list(c.ref_columns or c.columns)
    vocab_sel = vocab.selectExpr(
        *[f"{col_ref(rc)} AS {ident(cc)}" for rc, cc in zip(ref_cols, cols)]
    ).dropDuplicates()
    candidates = df.selectExpr(*_refs([*cols, *key_columns])).na.drop(subset=cols)
    viol = candidates.join(F.broadcast(vocab_sel), on=cols, how="left_anti")
    value = "concat_ws('|', " + ", ".join(f"CAST({col_ref(x)} AS STRING)" for x in cols) + ")"
    return _as_violations(viol, key_columns, check_id(c), ",".join(cols), value)


def run_contiguous(df: DataFrame, c: Contiguous, key_columns: tuple) -> DataFrame:
    """Aggregate-only contiguity: per group, order_column must be
    exactly start..start+n-1 — min==start, span==count, no dups.
    One hash aggregation, no window, no sort."""
    g = list(c.group_by)
    o = col_ref(c.order_column)
    agg = df.groupBy(*g).agg(
        F.expr(f"min({o}) AS _min"),
        F.expr(f"max({o}) AS _max"),
        F.expr(f"count({o}) AS _n"),
        F.expr(f"count(DISTINCT {o}) AS _nd"),
    )
    bad = agg.filter(
        f"(_min != {lit(c.start)}) OR (_max - _min + 1 != _n) OR (_nd != _n)"
    )
    # group-scope violation row: key columns not in group_by are NULL
    return bad.selectExpr(
        *_group_key_exprs(df, g, key_columns),
        f"{str_lit(check_id(c))} AS `check`",
        f"{str_lit(c.order_column)} AS `column`",
        "to_json(struct(_min, _max, _n, _nd)) AS `value`",
    )


def run_functional_dependency(
    df: DataFrame, c: FunctionalDependency, key_columns: tuple
) -> DataFrame:
    """One hash aggregation on the determinant (map-side partial):
    count distinct dependent tuples per group, keep groups with >1.
    The dependent tuple is a struct so multi-column dependents count
    as one value; struct distinctness uses grouping equality (NULL
    fields agree with NULL fields), matching SQL count(DISTINCT row).
    No tag-back join — violations are group rows (bounded by #groups),
    so nothing beyond the aggregation ever shuffles."""
    g = list(c.determinant)
    dep = f"struct({', '.join(map(col_ref, c.dependent))})"
    agg = (
        df.selectExpr(*_refs([*g, *c.dependent]))
        .groupBy(*g)
        .agg(F.expr(f"count(DISTINCT {dep}) AS _nd"))
        .filter("_nd > 1")
    )
    return agg.selectExpr(
        *_group_key_exprs(df, g, key_columns),
        f"{str_lit(check_id(c))} AS `check`",
        f"{str_lit(','.join(c.dependent))} AS `column`",
        "CAST(_nd AS STRING) AS `value`",
    )


_AGG_SQL = {
    "avg": "avg({})",
    "min": "min({})",
    "max": "max({})",
    "sum": "sum({})",
    "count": "count({})",
    "count_distinct": "count(DISTINCT {})",
    "stddev": "stddev({})",  # sample stddev, matching SQL stddev_samp
}


def _seq_agg_expr(c: SequencePattern) -> str:
    ob = ", ".join(map(col_ref, c.order_by))
    collected = f"sort_array(collect_list(struct({ob}, {col_ref(c.column)} AS _v)))"
    return (
        f"array_join(filter(transform({collected}, s -> s._v), v -> v IS NOT NULL), "
        f"{str_lit(c.separator)})"
    )


def run_group_scope_checks(
    df: DataFrame, checks: list, key_columns: tuple
) -> DataFrame:
    """ALL group-scoped checks sharing ONE group_by (SequencePattern +
    GroupAggBounds) in a single hash aggregation — k checks on the same
    key cost one shuffle, not k. Per-group violations are assembled as
    one array of failure structs and exploded (one subtree): emitting
    one DataFrame per check and unioning would look shared in Python
    but Catalyst optimizes each Union branch independently, duplicating
    the aggregation per check (same trap as the fused ordered pass)."""
    g = list(checks[0].group_by)
    needed: list[str] = list(g)
    for c in checks:
        if isinstance(c, SequencePattern):
            needed += [*c.order_by, c.column]
        else:
            needed.append(c.column)
    aggs = []
    structs = []
    for i, c in enumerate(checks):
        s = f"_s{i}"
        if isinstance(c, SequencePattern):
            aggs.append(F.expr(f"{_seq_agg_expr(c)} AS {s}"))
            # A group with zero non-NULL values joins to '' — vacuous
            # pass (matches GroupAggBounds' NULL-statistic rule and the
            # DuckDB oracle, whose string_agg yields NULL and skips).
            bad = f"((length({s}) > 0) AND (NOT ({s} RLIKE {str_lit(c.regex)})))"
            value = f"substring({s}, 1, {lit(c.max_value_len)})"
        else:
            stat = _AGG_SQL[c.agg].format(col_ref(c.column))
            aggs.append(F.expr(f"CAST({stat} AS DOUBLE) AS {s}"))
            ok = ["true"]
            if c.min is not None:
                ok.append(f"({s} >= {lit(float(c.min))})")
            if c.max is not None:
                ok.append(f"({s} <= {lit(float(c.max))})")
            bad = f"(NOT coalesce({_and(ok)}, true))"
            value = f"CAST({s} AS STRING)"
        structs.append(
            (
                bad,
                _failure(check_id(c), c.column, value),
            )
        )
    arr = concat_conditional(structs, f"struct<{FAILURE_STRUCT}>")
    agg = df.selectExpr(*_refs(needed)).groupBy(*g).agg(*aggs)
    exploded = agg.selectExpr(*map(col_ref, g), f"explode({arr}) AS _f")
    return exploded.selectExpr(
        *_group_key_exprs(df, g, key_columns),
        "_f.check AS `check`",
        "_f.column AS `column`",
        "_f.value AS `value`",
    )


def run_monotonic(df: DataFrame, c: Monotonic, key_columns: tuple) -> DataFrame:
    col = col_ref(c.column)
    w = _window(c.group_by, c.order_by)
    with_prev = df.selectExpr(*_refs([*c.group_by, *c.order_by, c.column, *key_columns])).withColumn(
        "_prev", F.expr(f"lag({col}) OVER ({w})")
    )
    bad = f"({col} <= _prev)" if c.strict else f"({col} < _prev)"
    viol = with_prev.filter(f"coalesce({bad}, false)")
    value = f"concat_ws('<', CAST({col} AS STRING), CAST(_prev AS STRING))"
    return _as_violations(viol, key_columns, check_id(c), c.column, value)


def run_ordered_fused(
    df: DataFrame,
    group_by: tuple,
    order_col: str,
    key_columns: tuple,
    unique: UniqueKey | None = None,
    contig: Contiguous | None = None,
    monos: list[Monotonic] | None = None,
) -> DataFrame:
    """Fused per-group ordered pass: uniqueness + contiguity +
    monotonicity checks that share (group_by, order_col) evaluate over
    ONE hash(group_by) exchange, one (group_by, order_col) sort, and
    ONE WindowExec, instead of one shuffle each. Violation outputs are
    IDENTICAL to the per-check passes (run_unique_key / run_contiguous
    / run_monotonic).

    Every window expression shares the (g, order o) spec with only
    streaming frames — offset (lag/lead), running (min/max/count,
    row_number/dense_rank), and order-peer (RANGE current..current for
    the duplicate count) — so CollapseWindow folds them into a single
    operator and nothing buffers whole groups. The previous design
    (four specs, two with unbounded partition frames materializing
    every group into an UnsafeExternalRowBuffer) measured 3.5us/row at
    8 threads inflating to 12-17us/row at 32 on one socket: the
    buffer copies were both the dominant CPU and the worst
    memory-contention amplifier, capping N->4N scaling of the whole
    suite at ~0.45 (event logs, BENCH/analyze_eventlog.py).
    """
    g = list(group_by)
    monos = list(monos or [])
    # column-prune BEFORE the shuffle: the pass needs only keys, the
    # order column, and the monotonic columns — not the (wide) payload
    needed = [*g, order_col, *(mc.column for mc in monos), *key_columns]
    # pin a single exchange: every window below is satisfied by hash(g)
    base = df.selectExpr(*_refs(needed)).repartition(*g)
    wincols, arr = _ordered_exprs(tuple(g), order_col, unique, contig, tuple(monos))
    if wincols:
        base = base.selectExpr("*", *(f"{e} AS {name}" for name, e in wincols))
    exploded = base.selectExpr(*_refs([*g, *key_columns]), f"explode({arr}) AS _f")
    return exploded.selectExpr(
        *_group_key_exprs(df, g, key_columns, keep="NOT _f.grp"),
        "_f.check AS `check`",
        "_f.column AS `column`",
        "_f.value AS `value`",
    )


def _ordered_exprs(
    g: tuple,
    order_col: str,
    unique: "UniqueKey | None",
    contig: "Contiguous | None",
    monos: tuple,
) -> tuple:
    """(window columns to append in order, violation array) for
    run_ordered_fused, as SQL text."""
    o = col_ref(order_col)
    w_ord = _window(g, (order_col,))
    wincols: list = []
    if unique is not None:
        # duplicate-key count as the ORDER-PEER group size: a RANGE
        # (current row, current row) frame over the (g, o) sort is
        # exactly the tie block of o within g — same value as a
        # count over partitionBy(g, o), but it shares w_ord's spec so
        # it folds into the same WindowExec instead of adding a
        # second partition pass (NULL ties group together in both
        # formulations; NULL-keyed rows are filtered below anyway).
        wincols.append(
            ("_kc", f"count(1) OVER ({w_ord} RANGE BETWEEN CURRENT ROW AND CURRENT ROW)")
        )
    for i, mc in enumerate(monos):
        wincols.append((f"_prev_{i}", f"lag({col_ref(mc.column)}) OVER ({w_ord})"))
    if contig is not None:
        # Group statistics via RUNNING aggregates read at each group's
        # LAST row, not whole-group window frames. An unbounded
        # Window.partitionBy(g) frame buffers every group's rows in an
        # UnsafeExternalRowBuffer before emitting — measured as the
        # dominant CPU (and the worst 32-thread memory-contention
        # amplifier) of the fused pass at 8e7 rows. Running frames
        # (RANGE UNBOUNDED PRECEDING..CURRENT ROW over the same sort)
        # stream instead: at the group's last row the running min /
        # max / count / distinct-transition sum equal the group totals,
        # and the emitted violation row is IDENTICAL — group-scope
        # rows NULL the non-group key columns, so which row of the
        # group emits is unobservable in the output.
        # Every expression here shares the (g, order o) spec and none
        # depends on another window output, so CollapseWindow merges
        # them with the monos' lags into ONE WindowExec (plus _kc's).
        # NULL-excluding distinct count without a second pass:
        # dense_rank at the last row = #distinct values of o INCLUDING
        # the NULL group (NULLS FIRST sorts it as one leading value),
        # and the group contains NULLs iff row_number > count(o), so
        # subtracting that indicator yields count_distinct(o) —
        # matching run_contiguous and the SQL oracle.
        # _nd inlines its dense_rank/row_number/count terms instead of
        # referencing sibling columns so the whole bundle can be added
        # with ONE withColumns call (eager per-op analysis made each
        # chained withColumn cost ~10 ms of driver time)
        wincols += [
            ("_last", f"(lead(1) OVER ({w_ord}) IS NULL)"),
            ("_mn", f"min({o}) OVER ({w_ord})"),
            ("_mx", f"max({o}) OVER ({w_ord})"),
            ("_n", f"count({o}) OVER ({w_ord})"),
            (
                "_nd",
                f"(dense_rank() OVER ({w_ord}) - CAST((row_number() OVER ({w_ord}) > "
                f"count({o}) OVER ({w_ord})) AS BIGINT))",
            ),
        ]
    # Assemble every fused check's violation as an element of ONE
    # per-row array and explode — the same shape as the fused row pass.
    # Emitting one DataFrame per check instead (pre-round-2 design)
    # looks shared in Python but is NOT in the physical plan: Catalyst
    # optimizes each Union branch independently (per-branch column
    # pruning + filter pushdown), so the "shared" base duplicates into
    # one scan + one exchange per check. A single explode subtree keeps
    # the contract the docstring promises: one scan, one exchange.
    # Struct fields: check, column, value, grp (group-scope row ⇒ key
    # columns outside group_by are NULLed in the final select).
    def _viol(cond: str, check: str, column: str, value: str, grp: bool):
        return (
            cond,
            struct(
                ("check", str_lit(check)),
                ("column", f"CAST({lit(column)} AS STRING)"),
                ("value", f"CAST({value} AS STRING)"),
                ("grp", lit(grp)),
            ),
        )

    structs = []
    if unique is not None:
        # rows with a NULL in any unique-key column are never reported:
        # run_unique_key's equi-join back (and the SQL oracle's JOIN
        # USING) are NULL-rejecting — NULL policy belongs to Required
        non_null_key = _and(f"({col_ref(k)} IS NOT NULL)" for k in (*g, order_col))
        structs.append(
            _viol(
                f"((_kc > 1) AND {non_null_key})",
                check_id(unique),
                ",".join(unique.columns),
                "_kc",
                False,
            )
        )
    if contig is not None:
        bad_grp = (
            f"(_last AND ((_mn != {lit(contig.start)}) OR (_mx - _mn + 1 != _n) OR (_nd != _n)))"
        )
        structs.append(
            _viol(
                bad_grp,
                check_id(contig),
                contig.order_column,
                f"to_json({struct(('_min', '_mn'), ('_max', '_mx'), ('_n', '_n'), ('_nd', '_nd'))})",
                True,
            )
        )
    for i, mc in enumerate(monos):
        col, prev = col_ref(mc.column), f"_prev_{i}"
        badp = f"({col} <= {prev})" if mc.strict else f"({col} < {prev})"
        structs.append(
            _viol(
                f"coalesce({badp}, false)",
                check_id(mc),
                mc.column,
                f"concat_ws('<', CAST({col} AS STRING), CAST({prev} AS STRING))",
                False,
            )
        )
    # concat-of-conditional-arrays instead of filter(array(...)):
    # the ArrayFilter HOF is CodegenFallback and would knock this
    # Project out of whole-stage codegen (see sqltext.concat_conditional)
    arr = concat_conditional(structs, f"struct<{FAILURE_STRUCT}, grp boolean>")
    return tuple(wincols), arr


def _verdict_tail(check: str, n_rows: str, passed: str) -> list[str]:
    """The (scope, partition_id, check, n_rows, n_violations, passed)
    columns of a table-scope verdict row."""
    return [
        "'table' AS scope",
        "CAST(NULL AS INT) AS partition_id",
        f"{check} AS `check`",
        f"CAST({n_rows} AS BIGINT) AS n_rows",
        "CAST(NULL AS BIGINT) AS n_violations",
        f"{passed} AS passed",
    ]


def run_table_aggregates(
    df: DataFrame, checks: "list[NullRateMax | AggBounds]"
) -> DataFrame:
    """ALL aggregate-level checks (null-rate bounds + statistic bounds)
    in ONE lazy aggregation (column-pruned scan of just the checked
    columns; partial+final agg) — returns verdict rows, no eager
    driver job."""
    aggs = []
    oks = []
    for i, c in enumerate(checks):
        col, r = col_ref(c.column), f"_r{i}"
        if isinstance(c, NullRateMax):
            aggs.append(f"avg(CAST(({col} IS NULL) AS DOUBLE)) AS {r}")
            oks.append(f"(coalesce({r}, 0.0D) <= {lit(float(c.max_rate))})")
            continue
        # AggBounds
        if c.agg == "quantile":
            # exact interpolating percentile (== SQL quantile_cont)
            stat = f"percentile({col}, {lit(float(c.quantile))}, 1)"
        elif c.agg == "approx_quantile":
            # Greenwald-Khanna sketch: map-side combinable, no
            # per-value shuffle — the 10^12-row path
            stat = f"percentile_approx({col}, {lit(float(c.quantile))}, {lit(c.accuracy)})"
        else:
            stat = _AGG_SQL[c.agg].format(col)
        aggs.append(f"CAST({stat} AS DOUBLE) AS {r}")
        cond = ["true"]
        if c.min is not None:
            cond.append(f"({r} >= {lit(float(c.min))})")
        if c.max is not None:
            cond.append(f"({r} <= {lit(float(c.max))})")
        # NULL statistic (empty/all-NULL input) => vacuous pass
        oks.append(f"coalesce({_and(cond)}, true)")
    rows = ", ".join(
        struct(("check", str_lit(check_id(c))), ("ok", ok))
        for c, ok in zip(checks, oks)
    )
    return (
        df.selectExpr(*aggs)
        .selectExpr(f"explode(array({rows})) AS s")
        .selectExpr(*_verdict_tail("s.check", "NULL", "s.ok"))
    )


def chi2_pvalue(stat: str, dof: str, n_obs: str, n_ref: str) -> str:
    """``operators.drift.chi2_sf`` as a JVM expression over the SQL
    expressions given, with the drift verdict's edge cases: an empty
    observed or reference side (or no statistic) is a vacuous p = 1; an
    infinite or NaN statistic (an observed-only category) is p = 0. The
    regularized upper incomplete gamma Q(dof/2, stat/2) is
    commons-math3's ``Gamma.regularizedGammaQ`` (on Spark's own
    classpath) through ``reflect``, which returns the double's string
    form; the cast back is exact."""
    q = (
        "CAST(reflect('org.apache.commons.math3.special.Gamma', 'regularizedGammaQ', "
        f"CAST({dof} AS DOUBLE) / 2.0D, CAST({stat} AS DOUBLE) / 2.0D) AS DOUBLE)"
    )
    return (
        f"CASE WHEN (coalesce({n_obs}, 0) = 0) OR (coalesce({n_ref}, 0) = 0) OR ({stat} IS NULL) "
        f"THEN 1.0D "
        f"WHEN isnan({stat}) OR (abs({stat}) = {_INF}) THEN 0.0D "
        f"WHEN ({dof} <= 0) OR ({stat} <= 0) THEN 1.0D "
        f"ELSE {q} END"
    )


def ks_pvalue(d: str, n1: str, n2: str) -> str:
    """``operators.drift.ks_sf`` as a JVM expression over the SQL
    expressions given: the asymptotic Kolmogorov series, term by term
    in the same order, stopping after the first term below 1e-12 (at
    most 100). No statistic or an empty side is a vacuous p = 1, as is
    d <= 0. The series is a one-row ``aggregate`` over
    ``sequence(1, 100)``."""
    ne = f"(CAST({n1} AS DOUBLE) * CAST({n2} AS DOUBLE) / CAST({n1} + {n2} AS DOUBLE))"
    lam = f"((sqrt({ne}) + 0.12D + 0.11D / sqrt({ne})) * {d})"
    term = f"(CASE WHEN (j % 2 = 1) THEN 2.0D ELSE -2.0D END * exp(-2 * j * j * {lam} * {lam}))"
    series = (
        f"aggregate(sequence(1, 100), {struct(('s', '0.0D'), ('done', 'false'))}, "
        f"(acc, j) -> CASE WHEN acc.done THEN acc ELSE "
        f"{struct(('s', f'acc.s + {term}'), ('done', f'abs({term}) < 1.0E-12D'))} END).s"
    )
    return (
        f"CASE WHEN ({d} IS NULL) OR (coalesce({n1}, 0) = 0) OR (coalesce({n2}, 0) = 0) "
        f"OR ({d} <= 0) THEN 1.0D "
        f"ELSE least(1.0D, greatest(0.0D, {series})) END"
    )


def run_chi2_drift(df: DataFrame, c: ChiSquareDrift, ref: DataFrame) -> DataFrame:
    """Chi² drift → ONE table-scope verdict row, fully lazy.

    Plan: one aggregation of the tagged union of the observed rows
    (count 1 each) and the reference histogram rows (count n each)
    builds both histograms side by side, per category (partial+final
    agg — the only pass over the big table), and one global
    aggregation collects the O(#categories) histogram into an array
    with its totals; the statistic is folded over that array and the
    JVM p-value (chi2_pvalue) computed on that single row. No join and
    no unpartitioned window. Semantics match
    operators.drift.chi_squared_drift: expected counts scaled to the
    observed total; observed-only category ⇒ stat=+inf ⇒ p=0; empty
    observed or reference side ⇒ vacuous pass."""
    col = col_ref(c.column)
    obs = df.selectExpr(f"{col} AS _k", "1 AS _o", "0 AS _r")
    refh = ref.selectExpr(f"{col} AS _k", "0 AS _o", "n AS _r")
    hist = (
        obs.unionByName(refh)
        .filter("_k IS NOT NULL")
        .groupBy("_k")
        .agg(F.expr("CAST(sum(_o) AS DOUBLE) AS o"), F.expr("CAST(coalesce(sum(_r), 0) AS DOUBLE) AS r"))
    )
    one = hist.selectExpr(
        "collect_list(struct(o, r)) AS _h", "coalesce(sum(o), 0.0D) AS _no", "coalesce(sum(r), 0.0D) AS _nr"
    )
    # try_divide: empty reference => NULL expected => vacuous (ANSI-safe)
    e = "try_divide(h.r * _no, _nr)"
    term = (
        f"CASE WHEN ({e} > 0) THEN try_divide(pow(h.o - {e}, 2), {e}) "
        f"ELSE CASE WHEN (h.o > 0) THEN {_INF} ELSE 0.0D END END"
    )
    stats = one.selectExpr(
        f"aggregate(_h, 0.0D, (acc, h) -> acc + {term}) AS _stat",
        "greatest(1, size(_h) - 1) AS _dof",
        "_no",
        "_nr",
    )
    p = chi2_pvalue("_stat", "_dof", "_no", "_nr")
    return stats.selectExpr(
        *_verdict_tail(str_lit(check_id(c)), "_no", f"({p} >= {lit(float(c.alpha))})")
    )


def run_ks_drift(df: DataFrame, c: KSDrift, ref: DataFrame) -> DataFrame:
    """Two-sample KS drift → ONE table-scope verdict row, fully lazy.

    Plan: the tagged union of both sides goes through
    operators.drift.ecdf_gap (the bucketed-ECDF pass that
    ks_two_sample_df shares), then the JVM asymptotic p-value
    (ks_pvalue) on the single resulting row. Matches
    operators.drift.ks_two_sample (same bucketed-D estimator); empty
    side or degenerate range ⇒ vacuous pass."""
    x = f"CAST({col_ref(c.column)} AS DOUBLE) AS x"
    a = df.na.drop(subset=[c.column]).selectExpr(x)
    b = ref.na.drop(subset=[c.column]).selectExpr(x)
    # ONE tagged union feeds both the bounds agg and the bucket counts:
    # the per-side bucketed() formulation scanned the input 6 times
    # (each side's groupBy dragged its own copy of the 2-scan bounds
    # subtree — plans/r06 drift before-plan (45)-(54)); this shape
    # scans it 4 times (2 for bounds, 2 for counts), and the two
    # per-side histograms become conditional sums in a single groupBy —
    # no full-outer histogram join. Counts, bucket set, and therefore
    # D / p / passed are identical (guide §1.2: fewer passes).
    u = a.selectExpr("x", "1 AS _g").unionByName(b.selectExpr("x", "0 AS _g"))
    one = ecdf_gap(u, int(c.buckets))
    p = ks_pvalue("_d", "_n1", "_n2")
    return one.selectExpr(
        *_verdict_tail(str_lit(check_id(c)), "_n1", f"({p} >= {lit(float(c.alpha))})")
    )
