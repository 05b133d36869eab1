"""Planner tests: ``plan_suite`` decides every pass of a suite run from
the suite and a StructType alone, so these run without a SparkSession.
Also the Ref resolution rules of ``SuiteRegistry.resolve``."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hjsonschema_spark.checks import (
    AggBounds,
    AllOf,
    AnyOf,
    CheckSuite,
    ChiSquareDrift,
    ColumnsAllowed,
    Contiguous,
    Custom,
    FunctionalDependency,
    GroupAggBounds,
    Length,
    Monotonic,
    Not,
    NullRateMax,
    OneOf,
    PatternColumns,
    Ref,
    RefIntegrity,
    RemainderColumns,
    Required,
    SequencePattern,
    SuiteRegistry,
    TypeIs,
    UniqueKey,
)
from hjsonschema_spark.checks.engine import plan_suite
from hjsonschema_spark.checks.ir import Bounds, ConfigInvalid

KEYS = ("conv_id", "turn_idx")
SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("ts", LongType()),
        StructField("role", StringType()),
        StructField("score", DoubleType()),
        StructField("tags", ArrayType(StringType())),
        StructField("meta_a", StringType()),
        StructField("meta_b", StringType()),
    ]
)


def _plan(*checks, vocab_names=(), registry=None):
    suite = CheckSuite(name="t", key_columns=KEYS, checks=tuple(checks))
    return plan_suite(suite, SCHEMA, registry, vocab_names)


def test_ordered_checks_on_one_key_fuse_and_a_lone_one_stays_single():
    uk = UniqueKey(columns=KEYS)
    ct = Contiguous(order_column="turn_idx", group_by=("conv_id",))
    mo = Monotonic(column="ts", group_by=("conv_id",), order_by=("turn_idx",))
    lone = Contiguous(order_column="ts", group_by=("role",))
    plan = _plan(uk, lone, ct, mo)
    assert plan.ordered_groups == ((("conv_id",), "turn_idx", uk, ct, (mo,)),)
    assert plan.singles == (lone,)
    # fused members keep their check-scope verdict ids
    assert "unique_key:conv_id,turn_idx" in plan.viol_check_ids
    assert "contiguous:turn_idx" in plan.viol_check_ids


def test_monotonic_with_two_order_columns_never_fuses():
    ct = Contiguous(order_column="turn_idx", group_by=("conv_id",))
    mo = Monotonic(column="ts", group_by=("conv_id",), order_by=("turn_idx", "ts"))
    plan = _plan(ct, mo)
    assert plan.ordered_groups == ()
    assert plan.singles == (ct, mo)


def test_group_scope_checks_group_by_group_by():
    s1 = SequencePattern(column="role", group_by=("conv_id",), order_by=("turn_idx",), regex="^u")
    g1 = GroupAggBounds(column="turn_idx", agg="count", group_by=("conv_id",), max=50)
    g2 = GroupAggBounds(column="ts", agg="max", group_by=("role",), max=9)
    fd = FunctionalDependency(determinant=("conv_id",), dependent=("role",))
    plan = _plan(s1, g2, fd, g1)
    assert plan.group_scope == ((("conv_id",), (s1, g1)), (("role",), (g2,)))
    assert plan.singles == (fd,)


def test_null_rate_and_agg_bounds_fold_into_one_aggregation():
    n = NullRateMax(column="role", max_rate=0.1)
    a = AggBounds(column="score", agg="avg", min=0.0)
    plan = _plan(n, Required(column="role"), a)
    assert plan.aggregates == (n, a)
    assert plan.singles == () and plan.ordered_groups == ()
    # aggregate checks produce verdict rows, never violation rows
    assert plan.viol_check_ids == ("required:role",)


def test_pattern_and_remainder_columns_expand_and_bad_regex_is_skipped():
    plan = _plan(
        PatternColumns(name_regex="^meta_", check=Length(max_len=8)),
        PatternColumns(name_regex="(unclosed", check=Required()),
        RemainderColumns(columns=KEYS + ("ts", "score", "tags"), patterns=("^meta_",), check=Required()),
    )
    assert plan.row_checks == (
        Length(column="meta_a", max_len=8),
        Length(column="meta_b", max_len=8),
        Required(column="role"),
    )


def test_columns_allowed_and_top_level_type_become_schema_verdicts():
    plan = _plan(
        ColumnsAllowed(columns=KEYS + ("ts", "role", "score", "tags"), patterns=("^meta_",)),
        ColumnsAllowed(columns=KEYS),
        TypeIs(column="turn_idx", json_type="integer"),
        TypeIs(column="score", type_name="int"),
        TypeIs(column="gone", json_type="string"),
    )
    assert plan.schema_verdicts == (
        ("columns_allowed", True, None),
        ("columns_allowed", False, 6),
        ("type_is:turn_idx", True, None),
        ("type_is:score", False, 1),
        ("type_is:gone", False, 1),
    )
    assert plan.row_checks == () and plan.viol_check_ids == ()


def test_nested_integer_type_on_double_becomes_floor_test():
    plan = _plan(
        AnyOf(checks=(TypeIs(column="score", json_type="integer"), Bounds(column="score", min=2))),
        Not(check=TypeIs(column="role", json_type="string")),
    )
    assert plan.row_checks == (
        AnyOf(
            checks=(
                Custom(name="json_type_score_integer", expr="`score` = floor(`score`)"),
                Bounds(column="score", min=2),
            )
        ),
        Not(check=Custom(name="json_type_role_string", expr="true")),
    )


def test_absent_columns_raise():
    with pytest.raises(ConfigInvalid, match=r"not in the table: \['nope', 'zip'\]"):
        _plan(Required(column="zip"), UniqueKey(columns=("conv_id", "nope")))


def test_unknown_vocab_names_raise():
    with pytest.raises(ConfigInvalid, match="no vocab table named 'roles'"):
        _plan(ChiSquareDrift(column="role", ref_name="roles"))
    with pytest.raises(ConfigInvalid, match="no vocab table named 'roles'"):
        _plan(RefIntegrity(columns=("role",), ref_name="roles"))
    plan = _plan(
        ChiSquareDrift(column="role", ref_name="roles"),
        RefIntegrity(columns=("role",), ref_name="roles"),
        vocab_names=("roles",),
    )
    assert len(plan.drift) == 1 and len(plan.singles) == 1


def test_plan_does_not_change_the_callers_registry():
    reg = SuiteRegistry().add(CheckSuite(name="base", key_columns=KEYS, checks=(Required(column="role"),)))
    plan = _plan(Ref(suite="base"), registry=reg)
    assert plan.row_checks == (Required(column="role"),)
    assert set(reg.suites) == {"base"}


def test_the_suite_passed_is_planned_over_a_same_named_registry_entry():
    v1 = CheckSuite(name="t", key_columns=KEYS, checks=(Required(column="role"),))
    v2 = CheckSuite(name="t", key_columns=KEYS, checks=(Bounds(column="score", min=0),))
    plan = plan_suite(v2, SCHEMA, SuiteRegistry().add(v1))
    assert plan.row_checks == (Bounds(column="score", min=0),)


# --- Ref resolution: a $ref is one schema, so one branch (Ref.hs) ----------

INNER = CheckSuite(name="inner", key_columns=KEYS, checks=(Required(column="a"), Required(column="b")))
BOTH = AllOf(checks=INNER.checks)


def _resolve(*checks):
    reg = SuiteRegistry().add(INNER)
    reg.add(CheckSuite(name="outer", key_columns=KEYS, checks=tuple(checks)))
    return reg.resolve("outer")


def test_multi_check_ref_is_one_branch_of_any_of_and_one_of():
    c = Required(column="c")
    assert _resolve(AnyOf(checks=(Ref(suite="inner"), c))) == (AnyOf(checks=(BOTH, c)),)
    assert _resolve(OneOf(checks=(Ref(suite="inner"), c))) == (OneOf(checks=(BOTH, c)),)


def test_ref_splices_into_conjunctions():
    assert _resolve(Ref(suite="inner")) == INNER.checks
    assert _resolve(AllOf(checks=(Ref(suite="inner"), Required(column="c")))) == (
        AllOf(checks=(*INNER.checks, Required(column="c"))),
    )


def test_ref_nested_under_not_resolves():
    got = _resolve(Not(check=AnyOf(checks=(Ref(suite="inner"), Required(column="c")))))
    assert got == (Not(check=AnyOf(checks=(BOTH, Required(column="c")))),)


def test_ref_loop_through_not_is_detected():
    reg = SuiteRegistry()
    reg.add(CheckSuite(name="x", key_columns=KEYS, checks=(Not(check=AnyOf(checks=(Ref(suite="y"),))),)))
    reg.add(CheckSuite(name="y", key_columns=KEYS, checks=(Ref(suite="x"),)))
    with pytest.raises(ConfigInvalid, match="ref loop"):
        reg.resolve("x")
