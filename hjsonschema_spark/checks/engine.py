"""Suite execution: the reference's `validate` lifecycle
(src/JSONSchema/Draft4.hs:62-81) recast as a handful of Spark jobs.

Stages:
  1. ``plan_suite`` [driver, no Spark]: config self-validation, Ref
     resolution, schema-scope expansion and verdicts, the absent-column
     and vocabulary checks, and every fusion decision, made from the
     suite and the input's StructType into a frozen ``SuitePlan``
  2. ``run_suite`` executes the plan, lazily until an output is
     consumed: ONE fused row-level projection over the table, then one
     pass per table-level group (ordered window, group aggregation,
     single checks)
  3. outputs: violations table (globally ordered by key — the
     byte-stable contract), per-partition + per-check verdicts,
     per-column stats (null-rate, min/max, HLL distinct)
"""

from __future__ import annotations

import dataclasses
import gc
import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from hjsonschema_spark.checks import compile as C
from hjsonschema_spark.checks.ir import (
    AggBounds,
    CheckSuite,
    ChiSquareDrift,
    ColumnsAllowed,
    ConfigInvalid,
    Contiguous,
    Custom,
    FunctionalDependency,
    GroupAggBounds,
    KSDrift,
    Monotonic,
    NullRateMax,
    PatternColumns,
    RefIntegrity,
    RemainderColumns,
    RowCheck,
    SequencePattern,
    SuiteRegistry,
    TableCheck,
    TypeIs,
    UniqueKey,
    json_type_matches,
    referenced_columns,
)
from hjsonschema_spark.functions import fan_out
from hjsonschema_spark.session import cached_local_df
from hjsonschema_spark.sqltext import col_ref, ident, str_lit, struct

_VIOL_TAIL = ["check", "column", "value"]


def _dtype_of(schema: StructType, name: str) -> str | None:
    """Spark simpleString of a column, resolving dotted paths into
    StructType fields (`a.b.c`) — the nested-object flattening surface
    (from_schema's Schema.hs properties recursion). None if absent."""
    dt = schema
    for p in name.split("."):
        if not isinstance(dt, StructType) or p not in dt.fieldNames():
            return None
        dt = dt[p].dataType
    return dt.simpleString()


@dataclass
class ValidationResult:
    """Lazy handles over the suite's outputs."""

    suite: CheckSuite
    checked: DataFrame  # input + `_failures` array column
    violations: DataFrame  # key cols + (check, column, value), globally sorted
    # verdicts (scope, partition_id, check, n_rows, n_violations,
    # passed) — materialized lazily from a zero-arg factory: assembling
    # the verdict union costs ~15 eagerly-analyzed DataFrame ops
    # (~0.1 s of driver time), which violations-only consumers — the
    # common bench/CLI path — never need. Config validation stays
    # eager in run_suite; only the frame CONSTRUCTION is deferred.
    _verdicts_src: Any = None  # DataFrame | () -> DataFrame
    stats: DataFrame | None = None
    # bounded per-check sample of violations (only when run_suite was
    # given max_violations_per_check) — counts in verdicts stay exact
    violations_sample: DataFrame | None = None
    _slim: DataFrame | None = field(default=None, repr=False)

    @property
    def verdicts(self) -> DataFrame:
        if callable(self._verdicts_src):
            self._verdicts_src = self._verdicts_src()
        return self._verdicts_src

    def group_verdicts(self, group_columns: list[str] | tuple) -> DataFrame:
        """Per-group row-check pass/fail (e.g. per conversation:
        group_columns=("conv_id",)). Derives lazily from the SAME slim
        fused pass as violations/partition verdicts — zero extra input
        scans when run_suite(persist=True). Group columns must be a
        subset of the suite's key_columns (the slim pass carries only
        keys + partition id + failures). Covers row-scope checks;
        table-scope checks aggregate above group level by design."""
        missing = [g for g in group_columns if g not in self.suite.key_columns]
        if missing:
            raise ConfigInvalid(
                f"group_verdicts: {missing} not in key_columns {self.suite.key_columns}"
            )
        return (
            self._slim.groupBy(*group_columns)
            .agg(*_row_counts())
            .withColumn("passed", F.expr("n_violations = 0"))
        )
    _summary: dict[str, Any] | None = field(default=None, repr=False)
    # (Observation or None, violation union, check ids): the per-check
    # counts observed on the union as it is computed — see summary()
    _counts: tuple | None = field(default=None, repr=False)
    _persisted: tuple = field(default=(), repr=False)
    # violations before the byte-stability global sort — clean_rows'
    # anti-join must not inherit a useless sort node
    _viols_unsorted: DataFrame | None = field(default=None, repr=False)
    # TABLE-scope-only violation union (None = the suite has no
    # table-scope violation checks): strict clean_rows anti-joins this
    # instead of the full union — row-scope keys can't match (base is
    # already _failures == []) and the row branch would cost an extra
    # input scan
    _table_viols_unsorted: DataFrame | None = field(default=None, repr=False)
    # True when run_suite fanned the input out (narrow/one-row-group
    # scan): clean_rows then pins its row filter ABOVE that exchange
    _fanned: bool = field(default=False, repr=False)

    def clean_rows(self, strict: bool = True) -> DataFrame:
        """The validate-and-filter surface: input rows that passed,
        original schema — route these to the pipeline, `quarantine()`
        the rest (the per-row analogue of the reference's accept/reject
        `validate` verdict, Draft4.hs:62-81, as a dataset operation).

        strict=False — rows whose ROW checks all passed: a pure filter
        on the fused pass, zero extra scans or shuffles (codegen'd
        filter on the already-computed `_failures` array). Rows
        implicated only in table-scope violations (duplicate keys) are
        NOT excluded.

        strict=True (default) — additionally anti-joins the row-keyed
        violation set on key_columns (one hash exchange of keys only;
        with run_suite(persist=True) the violation side reuses the
        cached union, no second input scan), so rows implicated in
        key-scoped table checks (UniqueKey, Monotonic) are quarantined
        too. Group-scoped violations (Contiguous gaps — emitted with a
        NULL order position, no single culpable row) never match the
        equality anti-join by construction; quarantine whole groups via
        group_verdicts() if that is the policy.
        """
        passed_row = "size(_failures) = 0"
        if self._fanned:
            # PushDownPredicates substitutes the filter through the
            # _failures projection AND the fan-out exchange, landing
            # the whole fused row pass back in the row-group-limited
            # scan stage (measured: 2.1s single-task of a 2.9s wall).
            # Pin the filter above the exchange with an always-FALSE
            # non-deterministic disjunct (spark_partition_id() is never
            # negative): an OR cannot be split, so the whole predicate
            # stays unpushable (guide §4.4's asNondeterministic
            # technique — a nondeterministic CONJUNCT does not work,
            # the optimizer splits conjunctions and pushes the
            # deterministic half anyway; rand() comparisons are even
            # bound-folded away). Rows are unchanged. Only applied when
            # the input was actually fanned out, so well-partitioned
            # production inputs keep full filter pushdown.
            passed_row = f"({passed_row}) OR (spark_partition_id() < 0)"
        base = self.checked.filter(passed_row).drop("_failures")
        if not strict:
            return base
        keys = list(self.suite.key_columns)
        # prefer the table-scope-only union: row-scope violation keys
        # are a subset of the rows base already filtered out, and the
        # row branch would re-run the fused pass (extra input scan)
        src = self._table_viols_unsorted
        if src is None:
            # results built by run_suite always set the field; for any
            # externally-constructed result fall back to the full union
            src = self._viols_unsorted if self._viols_unsorted is not None else self.violations
            if src is None:
                return base
        return base.join(src.select(*keys).dropDuplicates(keys), keys, "left_anti")

    def quarantine(self) -> DataFrame:
        """Rows where at least one ROW check failed, with the failure
        structs attached (`_failures`: array<struct<check,column,value>>)
        — the write-aside side of the validate-and-filter pattern. Same
        fused pass as everything else; no extra scan."""
        return self.checked.filter("size(_failures) > 0")

    def passed(self) -> bool:
        """True iff zero violation rows AND every table/schema-scope
        verdict passed (null-rate and type-conformance failures appear
        only as verdicts, never as violation rows)."""
        if self.summary()["n_violations"] > 0:
            return False
        bad = (
            self.verdicts.filter("scope IN ('table', 'schema') AND NOT passed")
            .limit(1)
            .count()
        )
        return bad == 0

    def unpersist(self, blocking: bool = False) -> None:
        """Release frames cached by run_suite(persist=True).

        blocking=True waits for the blocks to actually drop — use it
        between back-to-back suite runs in one session, where async
        eviction lets caches from N runs coexist and overflow the pool.
        It also runs Python's cycle collector: py4j proxies sit in
        reference cycles (each caches its method handles), so the JVM
        keeps every dead run's frames, executed plans and broadcast
        relations until that collector happens to run (measured: the
        driver heap left after a full JVM GC grew by 60-120 MB per
        benchmark-suite run without it, and stayed flat with it)."""
        for d in self._persisted:
            d.unpersist(blocking=blocking)
        if blocking:
            gc.collect()

    def summary(self) -> dict[str, Any]:
        """Violation totals, overall and per check (checks with none
        are left out). Read from the counts observed on the violation
        union while an output computed it, so after ``violations``,
        ``verdicts`` or ``violations_sample`` of a persisted run this
        starts no Spark job. If no output has computed the union yet,
        it computes it once (a ``noop`` write) to fire the observation."""
        if self._summary is None:
            obs, viols, ids = self._counts
            if obs is None:  # unpersisted: observe a pass of its own
                obs = Observation()
                viols = _observe(viols, obs, ids)
            elif not obs._jo.future().isCompleted():
                # an output may have computed the union already: its
                # observation is completed by a QueryExecutionListener
                # on Spark's asynchronous listener bus, so let the
                # events already posted land first
                viols.sparkSession.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
            # a pending observation would block get; pyspark 4.1.2 has
            # no public completion test, so read the JVM promise
            if not obs._jo.future().isCompleted():
                viols.write.format("noop").mode("overwrite").save()
            # a union the optimizer proves empty loses its observation,
            # which then completes with an empty row
            got = obs.get if obs._jo.getRow().length() else {"n": 0}
            counts = dict(zip(ids, got.get("by_check") or ()))
            self._summary = {
                "suite": self.suite.name,
                "n_violations": got["n"],
                "by_check": {k: n for k, n in counts.items() if n},
            }
        return self._summary


def _remainder_columns(columns: list[str], declared: tuple, patterns: tuple) -> list[str]:
    """Columns matched by NEITHER the declared names nor a pattern
    (additionalProperties' remainder, Properties.hs:175-209);
    uncompilable patterns are skipped silently (Properties.hs:150-155)."""
    pats = []
    for p in patterns:
        try:
            pats.append(re.compile(p))
        except re.error:
            pass
    return [
        col for col in columns
        if col not in declared and not any(r.search(col) for r in pats)
    ]


def _empty_violations(df: DataFrame, key_columns: tuple) -> DataFrame:
    """An empty violations frame: the key columns at their input types,
    then the string tail."""
    dtypes = dict(df.dtypes)
    return cached_local_df(
        df.sparkSession,
        (),
        ", ".join(
            [f"{ident(k)} {dtypes.get(k, 'string')}" for k in key_columns]
            + [f"{c} string" for c in _VIOL_TAIL]
        ),
    )


def _sorted(viols: DataFrame, key_columns: tuple) -> DataFrame:
    """Violation rows in the byte-stable (key_columns, check) order.
    The sort keys are the frame's own columns: given names, ``orderBy``
    would build them with ``F.col``, whose call-site capture costs round
    trips (and an IPython import attempt) on every call."""
    return viols.orderBy(*[viols[k] for k in (*key_columns, "check")])


def _observe(viols: DataFrame, obs: Observation, check_ids) -> DataFrame:
    """``viols`` with ``obs`` counting its rows (``n``) and each check
    id's rows (``by_check``, in ``check_ids`` order). Sums of CASE, not
    ``count_if``: the optimizer pushes count_if's comparisons into every
    union branch as extra columns, which compiled two more classes and
    cost about 0.2 s of a cold run's violations phase (4 cores)."""
    by_check = ", ".join(
        f"sum(CASE WHEN check = {str_lit(i)} THEN 1 ELSE 0 END)" for i in check_ids
    )
    return viols.observe(
        obs,
        F.expr("count(1) AS n"),
        *([F.expr(f"array({by_check}) AS by_check")] if check_ids else []),
    )


def _row_counts() -> tuple:
    """(n_rows, n_violations) aggregates over fused-pass rows."""
    return (
        F.expr("count(1) AS n_rows"),
        F.expr("sum(CAST((size(_failures) > 0) AS BIGINT)) AS n_violations"),
    )


def _slim_pass(checked: DataFrame, key_columns: tuple) -> DataFrame:
    """The fused pass projected to keys + partition id + failure
    structs — no payload columns (text etc.), so it is cheap to persist
    and BOTH the violation rows and the per-partition verdicts derive
    from ONE execution (one input scan) of the row pass."""
    return checked.selectExpr(
        *map(col_ref, key_columns), "spark_partition_id() AS _pid", "_failures"
    )


def _row_violations(slim: DataFrame, key_columns: tuple) -> DataFrame:
    # no filter(size(_failures) > 0) before the explode: Generate with
    # outer=false already drops rows whose array is empty, and the
    # filter made the (expensive) fused failure-array expression
    # evaluate TWICE per row — once in the Filter condition, once in
    # the Project feeding the explode (plans/r06 suite_violations
    # before-plan, operators (2)+(3))
    keys = [col_ref(k) for k in key_columns]
    return slim.selectExpr(*keys, "explode(_failures) AS f").selectExpr(
        *keys, "f.check", "f.column", "f.value"
    )


def _partition_verdicts(slim: DataFrame) -> DataFrame:
    """Per-input-partition pass/fail, aggregated from the slim fused
    pass itself (NOT a second count scan of the input): n_rows = rows
    seen, n_violations = rows with >=1 failure."""
    return (
        slim.groupBy(F.expr("_pid AS partition_id"))
        .agg(*_row_counts())
        .selectExpr(
            "'partition' AS scope",
            "partition_id",
            "CAST(NULL AS STRING) AS `check`",
            "n_rows",
            "n_violations",
            "(n_violations = 0) AS passed",
        )
    )


_NUMERIC_PREFIXES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")


def column_stats(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """ONE aggregation pass (partial+final, no shuffle beyond the 1-row
    final agg): per-column count / null-rate / min / max / HLL distinct
    (approx_count_distinct = HyperLogLog++) and, for numeric columns,
    p50/p95/p99 via percentile_approx (Greenwald-Khanna sketch — a
    mergeable partial aggregate, so it scales like the other stats).
    Long format: one row per column."""
    cols = columns or df.columns
    dtypes = dict(df.dtypes)
    numeric = {c for c in cols if dtypes.get(c, "").startswith(_NUMERIC_PREFIXES)}
    aggs = []
    rows = []
    for c in cols:
        ref = col_ref(c)
        aggs += [
            f"count(1) AS {ident(c + '__n')}",
            f"avg(CAST(({ref} IS NULL) AS DOUBLE)) AS {ident(c + '__null_rate')}",
            f"min(CAST({ref} AS STRING)) AS {ident(c + '__min')}",
            f"max(CAST({ref} AS STRING)) AS {ident(c + '__max')}",
            f"approx_count_distinct({ref}) AS {ident(c + '__approx_distinct')}",
        ]
        if c in numeric:
            aggs.append(
                f"percentile_approx(CAST({ref} AS DOUBLE), array(0.5D, 0.95D, 0.99D), 10000) "
                f"AS {ident(c + '__pct')}"
            )
        pct = [
            f"{col_ref(c + '__pct')}[{i}]" if c in numeric else "CAST(NULL AS DOUBLE)"
            for i in range(3)
        ]
        rows.append(
            struct(
                ("column", str_lit(c)),
                *[(f, col_ref(f"{c}__{f}")) for f in ("n", "null_rate", "min", "max", "approx_distinct")],
                *zip(("p50", "p95", "p99"), pct),
            )
        )
    wide = df.selectExpr(*aggs)
    return wide.selectExpr(f"explode(array({', '.join(rows)})) AS s").selectExpr("s.*")


def _type_ok(schema: StructType, c: TypeIs) -> bool:
    """Does the column's declared type conform to a TypeIs?"""
    t = _dtype_of(schema, c.column)
    if c.json_type:
        return t is not None and json_type_matches(c.json_type, t)
    return t == c.type_name


def _typeis_row(schema: StructType, c: TypeIs) -> Custom:
    """`type` NESTED inside a combinator is a per-VALUE test in the
    reference (Any.hs:320-341), not a static column property — e.g.
    anyOf[{type: integer}, {minimum: 2}] over a double column must test
    integrality row by row (1.0 IS a draft-4 integer, isInteger at
    Any.hs:338-341). So `integer` on a floating column becomes
    x = floor(x), and a family match or mismatch becomes a constant."""
    t = _dtype_of(schema, c.column) or ""
    if c.json_type == "integer" and (t in ("float", "double") or t.startswith("decimal")):
        expr = f"{col_ref(c.column)} = floor({col_ref(c.column)})"
    else:
        expr = "true" if _type_ok(schema, c) else "false"
    return Custom(name=f"json_type_{c.column}_{c.json_type or c.type_name}", expr=expr)


_AGGREGATES = (NullRateMax, AggBounds)
_GROUP_SCOPE = (SequencePattern, GroupAggBounds)
_RUN_DRIFT = {ChiSquareDrift: C.run_chi2_drift, KSDrift: C.run_ks_drift}
_RUN_SINGLE = {
    UniqueKey: C.run_unique_key,
    Contiguous: C.run_contiguous,
    Monotonic: C.run_monotonic,
    FunctionalDependency: C.run_functional_dependency,
}


@dataclass(frozen=True)
class SuitePlan:
    """Everything a suite run will do, decided by ``plan_suite`` from
    the suite and the input's schema alone; ``run_suite`` only executes
    it. Every field is a tuple over Check IR values, in execution order."""

    # fused into the one row pass; nested TypeIs rewritten to row tests
    row_checks: tuple
    # (check id, passed, n_violations or None) of ColumnsAllowed and
    # top-level TypeIs, resolved against the schema
    schema_verdicts: tuple
    aggregates: tuple  # NullRateMax + AggBounds: one aggregation pass
    drift: tuple  # ChiSquareDrift / KSDrift: one verdict pass each
    # (group_by, order column, UniqueKey | None, Contiguous | None,
    # Monotonics): two or more checks over one window pass
    ordered_groups: tuple
    # (group_by, checks): SequencePattern + GroupAggBounds sharing a
    # group_by, one hash aggregation each
    group_scope: tuple
    singles: tuple  # every other table check, one pass each, suite order
    viol_check_ids: tuple  # sorted ids of the violation-producing checks


def plan_suite(
    suite: CheckSuite,
    schema: StructType,
    registry: SuiteRegistry | None = None,
    vocab_names: tuple = (),
) -> SuitePlan:
    """Plan a suite against a table schema: no DataFrame, no session.

    Raises ConfigInvalid for a bad config, an unresolvable Ref, a
    column the table lacks, or a vocabulary not in ``vocab_names``."""
    suite.validate_config()  # schema validated before data (Draft4.hs:134-148)
    # the suite passed is the one planned, even when the registry holds
    # another of the same name
    reg = SuiteRegistry({**(registry.suites if registry else {}), suite.name: suite})

    # schema-scope resolution — all static, no per-row work:
    #   PatternColumns expands its row-check template over the matching
    #   column names (patternProperties analogue, Properties.hs:119-172;
    #   uncompilable regexes skipped silently per Properties.hs:150-155);
    #   RemainderColumns over the "matched by neither" remainder
    #   (additionalProperties=SCHEMA, Properties.hs:106-108), which
    #   ColumnsAllowed requires to be empty (additionalProperties=false,
    #   Properties.hs:175-209)
    columns = schema.fieldNames()
    checks: list = []
    verdicts: list = []
    for c in reg.resolve(suite.name):
        if isinstance(c, RemainderColumns):
            names = _remainder_columns(columns, c.columns, c.patterns)
            checks += [dataclasses.replace(c.check, column=n) for n in names]
        elif isinstance(c, PatternColumns):
            try:
                rx = re.compile(c.name_regex)
            except re.error:
                continue
            checks += [dataclasses.replace(c.check, column=n) for n in columns if rx.search(n)]
        elif isinstance(c, ColumnsAllowed):
            extra = _remainder_columns(columns, c.columns, c.patterns)
            verdicts.append((C.check_id(c), not extra, len(extra) or None))
        else:
            checks.append(c)

    # fail fast on misspelled columns: a table's schema is global and
    # static, so a check naming an absent column is a CONFIG error here
    # — a deliberate divergence from per-document JSON semantics
    # (missing key => vacuous pass), which the row-wise Draft4Validator
    # keeps. TypeIs is exempt (absence = failing schema verdict).
    wanted = set(suite.key_columns).union(*map(referenced_columns, checks))
    absent = sorted(n for n in wanted - set(columns) if _dtype_of(schema, n) is None)
    if absent:
        raise ConfigInvalid(f"suite {suite.name!r} references columns not in the table: {absent}")
    unsupported = [c for c in checks if not isinstance(c, (RowCheck, TableCheck))]
    if unsupported:
        raise ConfigInvalid(f"unsupported checks: {[type(c).__name__ for c in unsupported]}")

    # top-level `type` is static schema conformance (SURVEY §2.4 type
    # row) and stays out of the row pass; nested, it is a row test
    for c in checks:
        if isinstance(c, TypeIs):
            ok = _type_ok(schema, c)
            verdicts.append((C.check_id(c), ok, None if ok else 1))

    def rewrite(c):
        return _typeis_row(schema, c) if isinstance(c, TypeIs) else c.map_children(rewrite)

    row_checks = tuple(
        c.map_children(rewrite)
        for c in checks
        if isinstance(c, RowCheck) and not isinstance(c, TypeIs)
    )
    table = [c for c in checks if isinstance(c, TableCheck)]
    drift = tuple(c for c in table if type(c) in _RUN_DRIFT)
    rest = [c for c in table if not isinstance(c, _AGGREGATES) and type(c) not in _RUN_DRIFT]
    for c in (*drift, *rest):
        if isinstance(c, (RefIntegrity, *_RUN_DRIFT)) and c.ref_name not in vocab_names:
            raise ConfigInvalid(f"{c.kind}: no vocab table named {c.ref_name!r}")

    # UniqueKey / Contiguous / Monotonic checks sharing one
    # (group_by, order column) fuse into ONE window pass (one shuffle)
    slots: dict[tuple, list] = {}  # -> [unique, contig, monos]
    for c in rest:
        if isinstance(c, Contiguous):
            slot = slots.setdefault((tuple(c.group_by), c.order_column), [None, None, []])
            slot[1] = slot[1] or c
        elif isinstance(c, Monotonic) and len(c.order_by) == 1:
            slots.setdefault((tuple(c.group_by), c.order_by[0]), [None, None, []])[2].append(c)
    for c in rest:
        slot = isinstance(c, UniqueKey) and slots.get((tuple(c.columns[:-1]), c.columns[-1]))
        if slot:
            slot[0] = slot[0] or c
    ordered, fused = [], set()
    for (g, o), (unique, contig, monos) in slots.items():
        members = [m for m in (unique, contig) if m] + monos
        if len(members) > 1:  # a lone check gains nothing from the fused pass
            ordered.append((g, o, unique, contig, tuple(monos)))
            fused.update(map(id, members))

    # group-scoped checks sharing a group_by fuse into ONE hash
    # aggregation — k checks, one shuffle
    by_group: dict[tuple, list] = {}
    for c in rest:
        if isinstance(c, _GROUP_SCOPE):
            by_group.setdefault(tuple(c.group_by), []).append(c)
    return SuitePlan(
        row_checks=row_checks,
        schema_verdicts=tuple(verdicts),
        aggregates=tuple(c for c in table if isinstance(c, _AGGREGATES)),
        drift=drift,
        ordered_groups=tuple(ordered),
        group_scope=tuple((g, tuple(cs)) for g, cs in by_group.items()),
        singles=tuple(c for c in rest if id(c) not in fused and not isinstance(c, _GROUP_SCOPE)),
        # every violation-producing check gets a check-scope verdict
        # row, passed=True when it found nothing
        viol_check_ids=tuple(sorted({C.check_id(c) for c in (*row_checks, *rest)})),
    )


def _union(frames: list, df: DataFrame, key_columns: tuple) -> DataFrame:
    """The frames unioned by name in order; an empty violations frame
    with the right schema when there are none."""
    if not frames:
        return _empty_violations(df, key_columns)
    out = frames[0]
    for v in frames[1:]:
        out = out.unionByName(v)
    return out


def _violation_sample(viols: DataFrame, key_columns: tuple, k: int) -> DataFrame:
    """At most ``k`` violation rows per check. At 10^12 rows one broken
    check makes the violations table as large as the input. The sample
    is deterministic (pure function of the data, not of partitioning)
    and unbiased, and it never uses a window over the full violation
    set (a per-check window would put one check's 10^12 rows in one
    reducer): rows are pre-thinned by a uniform hash threshold — keep
    iff pmod(xxhash64(keys, check), n_check) < budget, expected
    `budget` survivors per over-cap check — and only the ~budget-sized
    survivor set pays a row_number window for the exact cap. Exact
    per-check totals remain in `verdicts`."""
    if k <= 0:
        raise ConfigInvalid("max_violations_per_check must be positive")
    # oversample so P(hash thinning keeps < k of an over-cap check)
    # is negligible (Binomial(n, budget/n) tail, budget ~ k + 4*sqrt(k))
    budget = k + 4 * int(k**0.5) + 50
    counts = viols.groupBy("check").count()
    key_refs = [col_ref(c) for c in key_columns]
    h = f"pmod(xxhash64({', '.join(key_refs)}, `check`), `count`)"
    pre = viols.join(F.broadcast(counts), "check").filter(
        f"(`count` <= {budget}) OR ({h} < {budget})"
    )
    order = ", ".join([*key_refs, "`column`", "`value`"])
    sample = (
        pre.withColumn("_rn", F.expr(f"row_number() OVER (PARTITION BY `check` ORDER BY {order})"))
        .filter(f"_rn <= {k}")
        .selectExpr(*key_refs, *map(ident, _VIOL_TAIL))
    )
    return _sorted(sample, key_columns)


def run_suite(
    df: DataFrame,
    suite: CheckSuite,
    registry: SuiteRegistry | None = None,
    vocab_tables: dict[str, DataFrame] | None = None,
    include_stats: bool = False,
    persist: "bool | str" = False,
    max_violations_per_check: int | None = None,
) -> ValidationResult:
    """Plan a suite against a DataFrame (``plan_suite``) and execute it.

    persist=True caches the fused-pass output and the (unsorted)
    violations union so that consuming violations AND verdicts AND
    summary() does not re-execute the table passes — the right mode
    when more than one output is materialized.

    persist="viols" caches ONLY the (small) unsorted violations union,
    not the n_rows-sized slim pass: the right mode when a caller
    materializes just the globally sorted ``violations`` — the sort's
    RangePartitioning boundary sampling otherwise executes the whole
    union pipeline a second time (sample job + output job), doubling
    every scan and shuffle below the sort (guide §2.4; measured on
    suite_violations_lineitem)."""
    vocab_tables = vocab_tables or {}
    plan = plan_suite(suite, df.schema, registry, tuple(vocab_tables))
    keys = suite.key_columns
    # Adaptive scan fan-out (guide §2.5 input skew / §6 split sizing):
    # a small single-file parquet input yields as few as ONE busy scan
    # task (splits are byte-ranges but rows live in one row group), so
    # the whole fused row pass ran single-core (measured: 2.2s of a
    # 3.0s clean_rows wall in one task at sf0.1). fan_out hash-
    # repartitions narrow inputs to defaultParallelism and is a NO-OP
    # whenever the input already has enough partitions — real
    # multi-file tables and the cached transcripts input are untouched.
    # Applied ONLY when the suite has row checks: per-row CPU work is
    # what the fan-out parallelizes; aggregation-only suites collapse
    # their data map-side, and shuffling the raw input to parallelize a
    # cheap partial agg measured as a net LOSS (drift_suite +7%,
    # conversation_checks +15% before this guard).
    fanned = False
    if plan.row_checks:
        wide = fan_out(df, by=tuple(keys))
        fanned, df = wide is not df, wide
    # barrier=fanned: keep Catalyst's inferred size(_failures)>0 filter
    # (InferFiltersFromGenerate, below the violations explode) from
    # being substituted through the fan-out exchange into the serial
    # scan task — see compile._pushdown_barrier
    checked = C.compile_fused_pass(df, plan.row_checks, barrier=fanned)
    # NOTE: the full `checked` frame (input + _failures) is never
    # persisted — it carries the whole payload (text included), so a
    # cache write costs more than re-running the codegen'd fused pass.
    # Instead its narrow projection (keys + pid + failures) is
    # persisted: violations AND per-partition verdicts both derive from
    # it, so the input is scanned exactly ONCE per row pass.
    slim = _slim_pass(checked, keys)
    persisted: list[DataFrame] = []
    if persist is True:  # "viols" mode skips the big slim cache
        slim = slim.persist()
        persisted.append(slim)
    # an aggregate-only suite (no row checks) must not pay a row-pass
    # scan in the violations plan: size([]) > 0 is always false but
    # Catalyst does not fold the scan away, so skip the branch outright
    row_viols = [_row_violations(slim, keys)] if plan.row_checks else []
    table_viols = [
        C.run_ordered_fused(df, g, o, keys, unique=u, contig=ct, monos=ms)
        for g, o, u, ct, ms in plan.ordered_groups
    ]
    table_viols += [C.run_group_scope_checks(df, cs, keys) for _, cs in plan.group_scope]
    table_viols += [
        C.run_ref_integrity(df, c, vocab_tables[c.ref_name], keys)
        if isinstance(c, RefIntegrity)
        else _RUN_SINGLE[type(c)](df, c, keys)
        for c in plan.singles
    ]
    # table-scope-only union for clean_rows(strict): base rows there are
    # already filtered to _failures == [], so row-scope violation keys
    # can never match the anti-join — joining against them only forces
    # the fused row pass to run a second time inside the clean_rows job
    # (a full extra input scan, measured ~2.4s of 7.2s on the bench's
    # clean_rows_lineitem). Same output, one fewer scan. With no table
    # checks it is an explicit EMPTY frame (not None), so clean_rows
    # anti-joins a broadcast-empty side instead of the full union.
    table_union = _union(table_viols, df, keys)
    all_viols = _union(row_viols + table_viols, df, keys)
    # summary()'s counts are observed on the union as it is computed.
    # Persisted, the observation sits under the cache, so the first
    # output that fills it counts each row once. Unpersisted, every
    # output re-executes the union (the global sort's sampling job runs
    # it twice), so summary() observes a pass of its own instead.
    obs = None
    if persist:
        obs = Observation()
        all_viols = _observe(all_viols, obs, plan.viol_check_ids).persist()
        persisted.append(all_viols)
    # global sort => byte-stable violation output across partition counts
    violations = _sorted(all_viols, keys)
    sample = None
    if max_violations_per_check is not None:
        sample = _violation_sample(all_viols, keys, int(max_violations_per_check))
    spark = df.sparkSession

    # verdict frames are assembled lazily (ValidationResult._verdicts_src);
    # parts in order: partition, table aggregates, drift, schema, check
    def _build_verdicts() -> DataFrame:
        ids_df = cached_local_df(
            spark, tuple((i,) for i in plan.viol_check_ids), "check string"
        )
        n = "CAST(coalesce(`count`, 0) AS BIGINT)"
        check_verdicts = ids_df.join(all_viols.groupBy("check").count(), "check", "left").selectExpr(
            "'check' AS scope",
            "CAST(NULL AS INT) AS partition_id",
            "`check`",
            "CAST(NULL AS BIGINT) AS n_rows",
            f"{n} AS n_violations",
            f"({n} = 0) AS passed",
        )
        parts = [_partition_verdicts(slim)]
        if plan.aggregates:
            parts.append(C.run_table_aggregates(df, plan.aggregates))
        parts += [_RUN_DRIFT[type(c)](df, c, vocab_tables[c.ref_name]) for c in plan.drift]
        if plan.schema_verdicts:
            parts.append(
                cached_local_df(
                    spark,
                    tuple(("schema", None, cid, None, n_bad, ok) for cid, ok, n_bad in plan.schema_verdicts),
                    "scope string, partition_id int, check string, n_rows long, n_violations long, passed boolean",
                )
            )
        return _union(parts + [check_verdicts], df, keys)

    return ValidationResult(
        suite=suite,
        checked=checked,
        violations=violations,
        _verdicts_src=_build_verdicts,
        stats=column_stats(df) if include_stats else None,
        violations_sample=sample,
        _slim=slim,
        _viols_unsorted=all_viols,
        _table_viols_unsorted=table_union,
        _persisted=tuple(persisted),
        _fanned=fanned,
        _counts=(obs, all_viols, plan.viol_check_ids),
    )
