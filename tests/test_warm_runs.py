"""Known-answer tests for running one suite repeatedly in one session.

- a second identical run_suite compiles no generated class (the codegen
  cache holds the whole suite);
- the persisted violation union is coalesced by AQE, not kept at the
  sum of its branches' shuffle partitions;
- no Python worker runs on the violations or verdicts path: small
  static relations are LocalTableScans and the drift p-values are JVM
  expressions;
- those p-values agree with operators.drift on a grid of edge cases.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hjsonschema_spark.checks import (
    CheckSuite,
    Contiguous,
    Enum,
    Length,
    Monotonic,
    NullRateMax,
    Pattern,
    Required,
    UniqueKey,
    run_suite,
)
from hjsonschema_spark.checks import compile as C
from hjsonschema_spark.checks.ir import (
    Bounds,
    ChiSquareDrift,
    ColumnsAllowed,
    KSDrift,
    TypeIs,
)
from hjsonschema_spark.operators.drift import chi2_sf, ks_sf
from hjsonschema_spark.session import cached_local_df
from hjsonschema_spark.sources import ROLE_VOCAB, TranscriptGen

KEYS = ("conv_id", "turn_idx")
PYTHON_NODES = ("ExistingRDD", "ArrowEvalPython", "BatchEvalPython")

ROW_CHECKS = (
    Required(column="role"),
    Enum(column="role", values=tuple(ROLE_VOCAB)),
    Pattern(column="conv_id", regex="^c[0-9]{8}$"),
    Length(column="text", max_len=5000),
    Bounds(column="turn_idx", min=0),
)
TABLE_CHECKS = (
    UniqueKey(columns=KEYS),
    Contiguous(order_column="turn_idx", group_by=("conv_id",)),
    Monotonic(column="ts", group_by=("conv_id",), order_by=("turn_idx",)),
)
VERDICT_ONLY_CHECKS = (
    NullRateMax(column="tool", max_rate=0.99),
    ChiSquareDrift(column="role", ref_name="role_ref"),
    KSDrift(column="turn_idx", ref_name="len_ref", buckets=64),
    TypeIs(column="turn_idx", json_type="integer"),
    ColumnsAllowed(columns=("conv_id", "turn_idx", "role", "text", "tool")),
)


def _suite(*checks) -> CheckSuite:
    return CheckSuite(name="warm", key_columns=KEYS, checks=tuple(checks))


@pytest.fixture(scope="module")
def table(spark):
    df = TranscriptGen(
        n_convs=150, seed=5, dup_rate=0.02, bad_role_rate=0.02, gap_rate=0.02, n_partitions=4
    ).df(spark)
    df.cache().count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def vocab(spark):
    return {
        "role_ref": cached_local_df(
            spark,
            (("system", 150), ("user", 300), ("assistant", 250), ("tool_use", 60), ("tool_result", 60)),
            "role string, n long",
        ),
        "len_ref": spark.range(400).select((F.col("id") % 37).cast("int").alias("turn_idx")),
    }


def _run(df, suite, vocab):
    """violations, then verdicts, then summary(), as the benchmark does."""
    res = run_suite(df, suite, vocab_tables=vocab, persist=True)
    viols = res.violations.collect()
    verdicts = res.verdicts.collect()
    res.summary()
    return res, viols, verdicts


def _compilations(spark) -> int:
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return metric.getCount()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_second_run_compiles_nothing(spark, table, vocab):
    suite = _suite(*ROW_CHECKS, *TABLE_CHECKS, *VERDICT_ONLY_CHECKS)
    first, viols1, verdicts1 = _run(table, suite, vocab)
    first.unpersist(blocking=True)
    before = _compilations(spark)
    second, viols2, verdicts2 = _run(table, suite, vocab)
    compiled = _compilations(spark) - before
    second.unpersist(blocking=True)
    assert compiled == 0
    assert viols2 == viols1
    assert sorted(verdicts2, key=repr) == sorted(verdicts1, key=repr)


def test_cached_violation_union_is_coalesced(spark, table, vocab):
    suite = _suite(*ROW_CHECKS, *TABLE_CHECKS)
    res, viols, _ = _run(table, suite, vocab)
    n_parts = res._viols_unsorted._jdf.queryExecution().toRdd().getNumPartitions()
    res.unpersist(blocking=True)
    assert viols
    # the row branch keeps the input's 4 partitions; each shuffle branch
    # (unique key, the fused ordered pass) would keep all of its own
    assert n_parts <= int(spark.conf.get("spark.sql.shuffle.partitions"))


@pytest.mark.parametrize(
    "checks",
    [
        ROW_CHECKS + TABLE_CHECKS + VERDICT_ONLY_CHECKS,
        # no table checks: clean_rows(strict) anti-joins the empty frame
        ROW_CHECKS,
        # no violation-producing check: violations is the empty frame
        VERDICT_ONLY_CHECKS,
    ],
    ids=["mixed", "row_only", "verdicts_only"],
)
def test_no_python_worker_on_result_path(spark, table, vocab, checks):
    res, _, _ = _run(table, _suite(*checks), vocab)
    clean = res.clean_rows()
    clean.count()
    plans = {
        "violations": _executed_plan(res.violations),
        "verdicts": _executed_plan(res.verdicts),
        "clean_rows": _executed_plan(clean),
    }
    res.unpersist(blocking=True)
    for name, plan in plans.items():
        for node in PYTHON_NODES:
            assert node not in plan, f"{node} in the {name} plan:\n{plan}"


def test_local_relation_types_and_plan(spark):
    rows = (("a'b\\c", None, 3_000_000_000, True), ("x", 7, None, None))
    schema = "s string, i int, l long, b boolean"
    df = cached_local_df(spark, rows, schema)
    assert [tuple(r) for r in df.collect()] == list(rows)
    assert df.dtypes == [("s", "string"), ("i", "int"), ("l", "bigint"), ("b", "boolean")]
    assert cached_local_df(spark, rows, schema) is df
    empty = cached_local_df(spark, (), "`k.1` int, check string")
    assert empty.collect() == [] and empty.dtypes == [("k.1", "int"), ("check", "string")]
    for d in (df, empty):
        assert "LocalTableScan" in _executed_plan(d)


def _chi2_expected(stat, dof, n_obs, n_ref) -> float:
    if not n_obs or not n_ref or stat is None:
        return 1.0
    if math.isinf(stat) or math.isnan(stat):
        return 0.0
    return chi2_sf(stat, dof)


def _ks_expected(d, n1, n2) -> float:
    if d is None or not n1 or not n2:
        return 1.0
    return ks_sf(d, n1, n2)


def _close(got: float, want: float) -> bool:
    return abs(got - want) <= 1e-300 + 1e-10 * abs(want)


def test_chi2_pvalue_matches_operator(spark):
    # stat 0, tiny, moderate, p ~ 1e-37 (stat 170 at dof 1), underflow
    # to 0 (stat 2000), infinite, NULL; empty observed / reference sides
    stats = (0.0, 1e-9, 0.5, 3.84, 10.0, 50.0, 170.0, 2000.0, float("inf"), None)
    grid = [(s, dof, 100.0, 80.0) for s in stats for dof in (1, 2, 4, 7, 30)]
    grid += [(5.0, 3, 0.0, 80.0), (5.0, 3, 100.0, 0.0), (float("inf"), 1, 0.0, 0.0)]
    df = spark.createDataFrame(grid, "stat double, dof int, n_obs double, n_ref double")
    got = df.selectExpr("*", f"{C.chi2_pvalue('stat', 'dof', 'n_obs', 'n_ref')} AS p").collect()
    assert len(got) == len(grid)
    for r in got:
        want = _chi2_expected(r["stat"], r["dof"], r["n_obs"], r["n_ref"])
        assert _close(r["p"], want), (tuple(r), want)
    assert any(0 < r["p"] < 1e-30 for r in got)  # the p ~ 1e-37 point is not flushed


def test_ks_pvalue_matches_operator(spark):
    ds = (None, 0.0, 1e-6, 0.01, 0.05, 0.1, 0.3, 0.5, 1.0)
    sizes = ((0, 100), (100, 0), (1, 1), (100, 100), (1000, 50), (10**6, 10**6))
    grid = [(d, n1, n2) for d in ds for n1, n2 in sizes]
    df = spark.createDataFrame(grid, "d double, n1 long, n2 long")
    got = df.selectExpr("*", f"{C.ks_pvalue('d', 'n1', 'n2')} AS p").collect()
    assert len(got) == len(grid)
    for r in got:
        want = _ks_expected(r["d"], r["n1"], r["n2"])
        assert abs(r["p"] - want) <= 1e-12, (tuple(r), want)


def _drift_passed(spark, df, check, ref) -> bool:
    res = run_suite(df, _suite(check), vocab_tables={check.ref_name: ref})
    return res.verdicts.filter(F.col("scope") == "table").collect()[0]["passed"]


def test_drift_verdict_edges(spark):
    """Vacuous passes and failing p-values survive the move to the JVM."""
    obs = spark.range(300).select(
        F.lit("c00000001").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.when(F.col("id") % 3 == 0, "user").otherwise("assistant").alias("role"),
    )
    no_roles = obs.withColumn("role", F.lit(None).cast("string"))
    hist = "role string, n long"
    chi2 = ChiSquareDrift(column="role", ref_name="ref")
    # proportional reference passes; observed-only category (stat inf) fails
    assert _drift_passed(spark, obs, chi2, cached_local_df(spark, (("user", 1), ("assistant", 2)), hist))
    assert not _drift_passed(spark, obs, chi2, cached_local_df(spark, (("user", 1),), hist))
    # empty observed side, empty reference: vacuous
    assert _drift_passed(spark, no_roles, chi2, cached_local_df(spark, (("user", 1),), hist))
    assert _drift_passed(spark, obs, chi2, cached_local_df(spark, (), hist))
    ks = KSDrift(column="turn_idx", ref_name="ref", buckets=32)
    same = obs.select("turn_idx")
    # d = 0 passes; a disjoint reference fails; an empty side is vacuous
    assert _drift_passed(spark, obs, ks, same)
    assert not _drift_passed(spark, obs, ks, same.select((F.col("turn_idx") + 1000).alias("turn_idx")))
    assert _drift_passed(spark, obs, ks, same.filter(F.lit(False)))
    assert _drift_passed(spark, obs.filter(F.lit(False)), ks, same)
